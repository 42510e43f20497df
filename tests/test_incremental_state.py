"""Guards for streaming/pipeline.py's one incremental-state abstraction:
every registered IncrementalState declares the partial schemas its writer
actually lands, its before-first-batch result has the real assembly's
shape, and the foreachBatch attach and the batch_id= partition layout
live nowhere but in IncrementalState."""

import ast
import os
import pathlib

import pyspark.sql.functions as F
import pytest

from pinterest_data_pipeline218_spark.data import DEFAULT_SF_DIR, load_table
from pinterest_data_pipeline218_spark.streaming import pipeline as SP

# the smallest generated scale factor, beside the configured one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

# (state, input, writer, assembler); every writer is called as
# writer(batch, *ctx, state_dir, batch_id=0) and every assembler as
# assembler(spark, *ctx, state_dir), ctx from WRITE_CTX / ASSEMBLE_CTX
CASES = [
    ("QUALITY_STATE", "docs", "quality_state_batch", "incremental_quality_report"),
    ("RETENTION_STATE", "events", "retention_state_batch", "incremental_retention_triangle"),
    ("FUNNEL_STATE", "events", "funnel_state_batch", "incremental_funnel"),
    ("KMV_STATE", "events", "kmv_state_batch", "incremental_kmv"),
    ("HIST_STATE", "events", "hist_state_batch", "incremental_hist_quantiles"),
    ("CM_STATE", "events", "cm_state_batch", "incremental_cm_top_users"),
    ("DRIFT_STATE", "events", "drift_state_batch", "incremental_events_drift"),
    ("HLL_STATE", "events", "hll_state_batch", "incremental_hll_weekly"),
    ("GAPFILL_STATE", "events", "gapfill_state_batch", "incremental_gapfill"),
    ("MARKOV_STATE", "events", "markov_state_batch", "incremental_markov"),
    ("ROLLING7D_STATE", "events", "rolling7d_state_batch", "incremental_rolling_7d"),
    ("JOURNEY_STATE", "events", "journey_state_batch", "incremental_journey"),
    ("DQ_STATE", "orders", "dq_state_batch", "incremental_dq"),
    ("CASCADE_STATE", "docs", "cascade_state_batch", "incremental_filter_cascade"),
    ("SOURCE_CAP_STATE", "docs", "source_cap_state_batch", "incremental_source_cap"),
    ("IVF_ASSIGN_STATE", "vectors", "ivf_assign_state_batch", "incremental_ivf_staleness"),
    ("KCENTER_STATE", "embeddings", "kcenter_state_batch", "incremental_kcenter_sample"),
    ("CUSUM_STATE", "events", "cusum_state_batch", "incremental_cusum"),
    ("CUSUM_STATE", "events", "cusum_state_batch", "incremental_seasonal_backtest"),
    ("DID_STATE", "events", "did_state_batch", "incremental_did_lift"),
    ("CUPED_STATE", "events", "cuped_state_batch", "incremental_cuped"),
    ("EPOCH_STATE", "docs", "epoch_state_batch", "incremental_epoch_schedule"),
    ("LDIV_STATE", "docs", "ldiv_state_batch", "incremental_l_diversity"),
    ("KCORE_STATE", "edges", "kcore_state_batch", "incremental_k_core"),
    ("PMI_STATE", "docs", "pmi_state_batch", "incremental_pmi"),
]
WRITE_CTX = {
    "quality_state_batch": "bench",
    "dq_state_batch": "customer",
    "ivf_assign_state_batch": "index_path",
    "kcenter_state_batch": "cents",
}
ASSEMBLE_CTX = {
    "incremental_events_drift": "events",
    "incremental_ivf_staleness": "index_path",
}


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    from pinterest_data_pipeline218_spark.functions.vectors import as_double_array
    from pinterest_data_pipeline218_spark.operators.similarity import (
        build_ivf_centroids,
        write_ivf_index,
    )

    t = {n: load_table(spark, SF, n) for n in ("events", "documents", "orders",
                                               "customer", "embeddings")}
    base = t["embeddings"].select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    index_path = str(tmp_path_factory.mktemp("ivf") / "index")
    write_ivf_index(base, index_path)
    ev = t["events"]
    edges = ev.select(
        F.col("user_id").cast("string").alias("src"), F.col("event_type").alias("dst")
    )
    return {
        "events": ev,
        "docs": t["documents"],
        "bench": t["documents"].filter(F.col("doc_id") % 97 == 0).select("doc_id", "text"),
        "orders": t["orders"],
        "customer": t["customer"],
        "embeddings": t["embeddings"],
        "vectors": t["embeddings"].select("vec_id", "embedding"),
        "cents": build_ivf_centroids(base).localCheckpoint(),
        "index_path": index_path,
        "edges": edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
    }


def _shape(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_every_registered_state_has_a_guard_case():
    registered = {n for n, v in vars(SP).items() if isinstance(v, SP.IncrementalState)}
    assert registered == {c[0] for c in CASES}


@pytest.mark.parametrize("state,table,writer,assembler", CASES, ids=[c[3] for c in CASES])
def test_incremental_state_shapes(spark, inputs, tmp_path, state, table, writer, assembler):
    """From one real sf0.001 batch: each declared partial schema equals
    the schema its writer lands; the before-first-batch result has the
    real assembly's column names and types; and it is zero rows, or, for
    a report state, exactly the result after one empty batch."""
    st = getattr(SP, state)

    def write(frame, state_dir):
        ctx = [inputs[WRITE_CTX[writer]]] if writer in WRITE_CTX else []
        getattr(SP, writer)(frame, *ctx, state_dir, batch_id=0)

    def assemble(state_dir):
        ctx = [inputs[ASSEMBLE_CTX[assembler]]] if assembler in ASSEMBLE_CTX else []
        return getattr(SP, assembler)(spark, *ctx, state_dir)

    real, quiet = str(tmp_path / "real"), str(tmp_path / "quiet")
    write(inputs[table], real)
    for sub, ddl in st.partials.items():
        landed = spark.read.parquet(f"{real}/{sub}").drop("batch_id")
        assert _shape(landed.schema) == _shape(spark.createDataFrame([], ddl).schema), sub

    before = assemble(str(tmp_path / "never"))
    assert _shape(before.schema) == _shape(assemble(real).schema)
    if st.report:
        write(inputs[table].limit(0), quiet)
        assert before.collect() == assemble(quiet).collect()
    else:
        assert before.collect() == []


def test_state_plumbing_lives_only_in_incremental_state():
    """pipeline.py calls writeStream.foreachBatch, and spells a batch_id=
    partition path, only inside IncrementalState: the one attach and the
    one partition writer every incremental twin goes through."""
    tree = ast.parse(pathlib.Path(SP.__file__).read_text())
    inside = {
        id(n)
        for c in tree.body
        if isinstance(c, ast.ClassDef) and c.name == "IncrementalState"
        for n in ast.walk(c)
    }
    docstrings = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
    }
    found = []
    for node in ast.walk(tree):
        if id(node) in inside or id(node) in docstrings:
            continue
        if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
            found.append(f"line {node.lineno}: foreachBatch")
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "batch_id=" in node.value
        ):
            found.append(f"line {node.lineno}: batch_id= path")
    assert not found, found
