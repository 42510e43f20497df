"""Bloom-filter semi-join pre-filter — the runtime-filter family.

At 100 TB the expensive part of `fact SEMI JOIN dims` is shuffling the fact
table; when the dim key set is too large to broadcast as an exact hash set
but its Bloom filter fits in kilobytes, engines push the Bloom test into the
fact SCAN and shuffle only the (tiny superset of) matching rows. Spark's AQE
runtime row-level filtering and every warehouse's runtime filters do exactly
this; here it is an explicit, testable operator.

Design for oracle parity (the repo's fixed-point discipline): the k hash
functions are the seeded md5-derived `token_hash` (identical in DuckDB), the
bit array is built by a `bit_or` GROUPED AGGREGATE over set-bit words —
bit_or is the Bloom MERGE, so the build is map-side combinable and the same
words come out of any partitioning (pytest-proved) — and the filter itself
is a LITERAL bitmask array compiled into the scan predicate (m/32 longs of
query-planning state, the RAM-resident-quantizer idiom; 32 bits per word
because DuckDB raises on the BIGINT overflow shift 1<<63 a 64-bit word
layout would need for its top bit). The gated query
reports pass/true/false-positive counts, so the probabilistic behavior is
itself value-checked: with deterministic hashes the false positives are a
FIXED set, and the DuckDB oracle replays build + probe bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..data import load_table, plan_identity, session_memo
from ..functions.text import token_hash, token_hash_sql

BLOOM_M = 1024  # bits: under-loaded at sf0.01 (the gated row measures
BLOOM_K = 3  # n_false_pos = 0 exactly), ~44% loaded at sf0.1 where real
# false positives appear in the bench row; the pytest forces a loaded
# filter (m=128) to exercise the FP bound directly


def _positions(col: F.Column, m: int, k: int) -> list[F.Column]:
    """k deterministic bit positions for a key (seeded 60-bit md5 hash
    mod m; the seed folds into the hashed string, the repo's minhash
    seeding idiom)."""
    return [F.pmod(token_hash(col.cast("string"), seed=i), F.lit(m)) for i in range(k)]


def bloom_build_words(
    keys: DataFrame, key_col: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> list[int]:
    """Build the filter: returns the m/32 bit words (kilobytes — the
    documented query-planning-state .collect()). The aggregation is
    bit_or over per-position set-bit words, grouped by word index —
    map-side combinable, and unioning key subsets then building equals
    bit_or-merging each subset's words (Bloom's merge law,
    pytest-proved)."""
    pos = (
        keys.select(F.explode(F.array(*_positions(F.col(key_col), m, k))).alias("p"))
        .distinct()
    )
    rows = (
        pos.groupBy(F.expr("p div 32").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").alias("bits"))
        .collect()
    )
    words = [0] * (m // 32)
    for r in rows:
        words[r.w] = r.bits
    return words


def _pos_expr(key_col: str, i: int, m: int) -> str:
    """SQL-string twin of _positions (the token_hash formula inlined —
    any drift between the two is caught by the zero-false-negative
    pytest, which probes a filter built with the Column form)."""
    h = (
        f"cast(conv(substring(md5(concat('{i}:', cast({key_col} as string))),"
        f" 1, 15), 16, 10) as bigint)"
    )
    return f"pmod({h}, {m})"


def bloom_prefilter(
    fact: DataFrame,
    key_col: str,
    words: list[int],
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Filter fact rows whose key passes the Bloom test — a pure
    scan-side predicate over the literal word array (codegen'd bit ops,
    no join, no shuffle): the superset-with-no-false-negatives contract
    every runtime filter provides."""
    arr = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    tests = []
    for i in range(k):
        p = _pos_expr(key_col, i, m)
        tests.append(
            f"(element_at({arr}, cast(({p}) div 32 as int) + 1)"
            f" & shiftleft(1L, cast(({p}) % 32 as int))) != 0"
        )
    return fact.filter(F.expr(" AND ".join(tests)))


def _bloom_words_memo(keys: DataFrame, key_col: str) -> list[int]:
    """The filter words of ``keys``, memoized per key plan: building them
    is an action, kilobytes of planning state like a trained codebook."""
    return session_memo(
        keys.sparkSession,
        "bloom_words",
        plan_identity(keys),
        lambda: bloom_build_words(keys, key_col),
    )


def tpch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering: pre-filter lineitem against the Bloom filter of
    EUROPE suppliers and report (n_pass, n_true, n_false_pos) in one row —
    n_true from the exact semi-join, so the result value-checks both the
    no-false-negative contract (n_pass >= n_true) and the exact
    deterministic false-positive count the replayed filter admits."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    keys = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
        .distinct()
    )
    words = _bloom_words_memo(keys, "s_suppkey")
    # Decide on small rows (guide §2.3/§8): l_suppkey has ~|supplier|
    # distinct values, so aggregate the fact ONCE to (key, cnt) — one
    # map-side-combinable exchange of ~|supplier| rows — and evaluate the
    # 3 md5 probes per DISTINCT key instead of per fact row (600k×3 md5 →
    # 1k×3 at sf0.1). n_pass/n_true are the cnt-weighted sums, exactly the
    # row counts the two full scans produced; the exact membership flag
    # comes from one broadcast left-semi-shaped left join on the same
    # per-key rows, fusing the second lineitem scan away.
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    tested = per_key.join(
        F.broadcast(
            keys.withColumnRenamed("s_suppkey", "l_suppkey").withColumn(
                "is_true", F.lit(1)
            )
        ),
        "l_suppkey",
        "left",
    )
    arr = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    tests = []
    for i in range(BLOOM_K):
        p = _pos_expr("l_suppkey", i, BLOOM_M)
        tests.append(
            f"(element_at({arr}, cast(({p}) div 32 as int) + 1)"
            f" & shiftleft(1L, cast(({p}) % 32 as int))) != 0"
        )
    bloom_pass = F.expr(" AND ".join(tests))
    return tested.agg(
        F.coalesce(
            F.sum(F.when(bloom_pass, F.col("cnt")).otherwise(F.lit(0))), F.lit(0)
        )
        .cast("long")
        .alias("n_pass"),
        F.coalesce(
            F.sum(F.when(F.col("is_true") == 1, F.col("cnt")).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_true"),
    ).select(
        "n_pass",
        "n_true",
        (F.col("n_pass") - F.col("n_true")).alias("n_false_pos"),
    )


def _pos_sql(key_expr: str, i: int, m: int) -> str:
    return f"({token_hash_sql(key_expr, seed=i)} % {m})"


def _bloom_sql() -> str:
    key = "CAST(s_suppkey AS VARCHAR)"
    fkey = "CAST(l_suppkey AS VARCHAR)"
    kpos = ", ".join(_pos_sql(key, i, BLOOM_M) for i in range(BLOOM_K))
    fpos = [_pos_sql(fkey, i, BLOOM_M) for i in range(BLOOM_K)]
    joins = "\n".join(
        f"LEFT JOIN words w{i} ON w{i}.w = f.h{i} // 32" for i in range(BLOOM_K)
    )
    tests = " AND ".join(
        f"(COALESCE(w{i}.bits, 0) & (1::BIGINT << CAST(f.h{i} % 32 AS INT))) != 0"
        for i in range(BLOOM_K)
    )
    fcols = ", ".join(f"{e} AS h{i}" for i, e in enumerate(fpos))
    return f"""
WITH keys AS (
  SELECT DISTINCT s_suppkey
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
pos AS (SELECT DISTINCT unnest([{kpos}]) AS p FROM keys),
words AS (
  SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
),
f AS (SELECT l_suppkey, {fcols} FROM lineitem),
np AS (
  SELECT COUNT(*) AS n_pass FROM f
  {joins}
  WHERE {tests}
),
nt AS (
  SELECT COUNT(*) AS n_true FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM keys)
)
SELECT np.n_pass, nt.n_true, np.n_pass - nt.n_true AS n_false_pos
FROM np CROSS JOIN nt
"""


QUERIES = {
    "tpch_bloom_prefilter": tpch_bloom_prefilter,
}

ORACLE = {
    "tpch_bloom_prefilter": _bloom_sql(),
}
