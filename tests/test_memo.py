"""The session-scoped planning-state memo (data.session_memo): scope,
bound, eviction hook, counters, rewritten-input misses, and the guard
that keeps hand-rolled memos from growing back outside data.py."""

import ast
import pathlib
import time

import pyspark.sql.functions as F

from pinterest_data_pipeline218_spark import data
from pinterest_data_pipeline218_spark.data import load_table, memo_stats

SF = "/root/testdata/sf0.001"


def _hits_misses(session, namespace):
    stats = memo_stats(session).get(namespace, {"hits": 0, "misses": 0})
    return stats["hits"], stats["misses"]


def test_session_memo_scope_bound_eviction_and_counters(spark):
    parent = spark.newSession()
    ns = "unit"
    built, evicted = [], []

    def get(session, key):
        def build():
            built.append(key)
            time.sleep(0.001)
            return f"v{key}"

        return data.session_memo(session, ns, key, build, on_evict=evicted.append)

    for k in range(data.MEMO_MAX):
        assert get(parent, k) == f"v{k}"
    assert get(parent, 0) == "v0"  # hit: not rebuilt
    assert built == list(range(data.MEMO_MAX)) and evicted == []

    # full: the next key evicts the OLDEST entry, and on_evict gets its value
    assert get(parent, data.MEMO_MAX) == f"v{data.MEMO_MAX}"
    assert evicted == ["v0"]
    assert get(parent, 1) == "v1"  # still held: insertion order, not recency
    assert get(parent, 0) == "v0"  # evicted, so rebuilt; evicts key 1
    assert evicted == ["v0", "v1"] and built[-1] == 0

    stats = memo_stats(parent)[ns]
    calls = data.MEMO_MAX + 4
    assert stats["hits"] == 2 and stats["misses"] == calls - 2
    assert stats["build_s"] >= 0.001 * stats["misses"]

    # a sibling session shares the SparkContext but not the memo
    sibling = parent.newSession()
    assert ns not in memo_stats(sibling)
    assert get(sibling, 5) == "v5" and built[-1] == 5
    assert _hits_misses(sibling, ns) == (0, 1)
    assert memo_stats(parent)[ns] == stats


def test_kmeans_memo_misses_in_a_sibling_session(spark):
    from pinterest_data_pipeline218_spark.operators.clustering import (
        ml_kmeans_refine,
    )

    want = ml_kmeans_refine(spark, SF).collect()  # fills the parent's memo
    parent_stats = memo_stats(spark)["kmeans_centroids"]
    child = spark.newSession()
    assert ml_kmeans_refine(child, SF).collect() == want
    assert _hits_misses(child, "kmeans_centroids") == (0, 1)
    assert memo_stats(spark)["kmeans_centroids"] == parent_stats


def test_load_table_sees_a_table_rewritten_in_place(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.createDataFrame([(0, "a")], "r long, s string").write.parquet(path)
    first = [tuple(r) for r in load_table(spark, str(tmp_path), "region").collect()]
    assert first == [(0, "a")]
    spark.createDataFrame([(1, "b"), (2, "c")], "r long, s string").write.mode(
        "overwrite"
    ).parquet(path)
    got = sorted(tuple(r) for r in load_table(spark, str(tmp_path), "region").collect())
    assert got == [(1, "b"), (2, "c")]


def test_ivf_centroids_follow_an_index_rebuilt_in_place(spark, tmp_path):
    from pinterest_data_pipeline218_spark.functions.vectors import as_double_array
    from pinterest_data_pipeline218_spark.operators.similarity import (
        _load_centroids,
        write_ivf_index,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    path = str(tmp_path / "ivf")

    def on_disk():
        rows = spark.read.parquet(f"{path}/centroids").collect()
        return sorted((r.label, list(r.c)) for r in rows)

    write_ivf_index(emb, path)
    first = sorted(_load_centroids(spark, path))
    assert first == on_disk()
    write_ivf_index(emb.filter(F.col("vec_id") % 3 == 0), path)
    second = sorted(_load_centroids(spark, path))
    assert second == on_disk() and second != first


def test_semantic_keepers_second_execution_hits_the_edge_registry(spark):
    from pinterest_data_pipeline218_spark.operators.clustering import (
        ml_semantic_keepers,
    )

    session = spark.newSession()
    ml_semantic_keepers(session, SF)
    assert _hits_misses(session, "edge_registry") == (0, 1)
    ml_semantic_keepers(session, SF)
    assert _hits_misses(session, "edge_registry") == (1, 1)


def test_plan_identity_ignores_lambda_variable_counters(spark):
    """PySpark names every Python-lambda parameter `{param}_{n}` from one
    process-wide counter, so two builds of one plan differ in those names
    (`y_4` vs `y_14`); the digest must not."""
    df = spark.createDataFrame([([1.0], [2.0])], "a array<double>, b array<double>")

    def build(op):
        return df.select(F.zip_with("a", "b", op).alias("z"))

    mul = lambda x, y: x * y  # noqa: E731
    assert data.plan_identity(build(mul)) == data.plan_identity(build(mul))
    assert data.plan_identity(build(mul)) != data.plan_identity(
        build(lambda x, y: x + y)
    )


def test_no_module_level_memo_outside_data_py():
    """Planning-state memos live in data.session_memo only: no other module
    of the package may bind, at module level, a name containing MEMO or
    CACHE, or a WeakKeyDictionary."""
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "pinterest_data_pipeline218_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "data.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            names = [
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            ]
            weak = value is not None and any(
                getattr(n, "attr", getattr(n, "id", None)) == "WeakKeyDictionary"
                for n in ast.walk(value)
            )
            for name in names:
                if weak or "MEMO" in name.upper() or "CACHE" in name.upper():
                    found.append(f"{path.relative_to(pkg)}:{node.lineno} {name}")
    assert not found, found
