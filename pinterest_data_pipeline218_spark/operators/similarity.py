"""Similarity search over the `embeddings` table (array<float> column).

Two paths, as a 100 TB engine needs both:

- **Brute-force top-k** (`sim_topk_bruteforce`): exact cosine against a query
  vector. The query side is a broadcast single row; scoring is scan-local
  (zip_with/aggregate, codegen'd); `orderBy(...).limit(k)` fuses to
  TakeOrderedAndProject so only k rows per partition reach the driver. This
  is the correctness baseline and is oracle-checked.
- **LSH-bucketed ANN** (`sim_ann_lsh`): random-hyperplane signatures put each
  vector in a bucket; at query time only the Hamming-1 ball of the query's
  bucket is scanned (multiprobe — 9 of 256 buckets). The hyperplanes are
  md5-derived (deterministic, no RNG state), so the plan is reproducible
  across runs and engines. At scale the bucketed table is written
  partitioned by `bucket` (write_ann_index), making a probe a
  partition-pruned scan of the ball's directories.
"""

from __future__ import annotations

import functools
import hashlib
import operator
import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..data import load_table
from ..functions.vectors import as_double_array, cosine, cosine_sql_duckdb, dot

TOP_K = 10
QUERY_VEC_ID = 0
NUM_PLANES = 8
DIM = 64


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random in [-1, 1): md5-derived, engine-neutral."""
    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return (h / 2**32) * 2.0 - 1.0


def hyperplanes(num_planes: int = NUM_PLANES, dim: int = DIM) -> list[list[float]]:
    return [[_plane_component(p, d) for d in range(dim)] for p in range(num_planes)]


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors of QUERY_VEC_ID."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    # vec_id is unique, so the filter leaves at most one row; a global
    # aggregate makes the bound PROVABLE (logical maxRows=1), turning the
    # nested-loop join into an asserted 1-row broadcast in the plan audit,
    # and `n > 0` keeps a missing query vector an empty side. Not
    # limit(1): Spark 4.1 names each limit operator's generated row
    # counter from a JVM-wide sequence, so a limit's codegen stage
    # compiles anew on every execution.
    query = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .agg(F.first("v").alias("q"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0)
        .select("q")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("q")), 6).cast("double").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


_COS = cosine_sql_duckdb("e.v", "q.q")
SIM_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id AS vec_id, CAST(ROUND({_COS}, 6) AS DOUBLE) AS cos_sim
FROM e CROSS JOIN q
WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ------------------------------------------------------- MIPS (r13)
# Maximum-inner-product search — the recommendation-retrieval primitive
# (user embedding · item embedding, where norms CARRY signal: popular
# items have larger norms, so cosine's normalization is wrong on
# purpose). Exact form below; the standard reduction to cosine/LSH
# (Bachrach et al. 2014 / Neyshabur & Srebro 2015, public) augments
# x -> [x, sqrt(M^2 - |x|^2)] with M = max corpus norm and q -> [q, 0]:
# cos_aug(x, q) = dot(x, q) / (M·|q|) — the denominator is constant
# across candidates, so augmented-cosine ORDER == dot ORDER exactly
# (pytest-pinned), and the whole cosine-ANN family (hyperplane LSH, IVF)
# applies to MIPS unchanged. sqrt is correctly rounded in IEEE, so both
# engines build identical augmented vectors.


def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r13 (gates r14): exact top-k INNER-PRODUCT neighbors of the
    fixed query — same scan-local fold + TakeOrdered shape as
    sim_topk_bruteforce, no normalization."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    query = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("q"))
        .limit(1)  # provable 1-row bound
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(dot(F.col("v"), F.col("q")), 6).cast("double").alias("dot6"),
        )
        .orderBy(F.desc("dot6"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def mips_augment(emb: DataFrame) -> DataFrame:
    """(vec_id, v_aug): the MIPS->cosine reduction. |v_aug| = M for every
    row, so cosine against an augmented query [q, 0] ranks exactly by
    dot(v, q). M comes from a 1-row broadcast planning aggregate."""
    normsq = emb.select(
        "vec_id", "v", dot(F.col("v"), F.col("v")).alias("n2")
    )
    mx = normsq.agg(F.max("n2").alias("m2")).limit(1)
    return normsq.crossJoin(F.broadcast(mx)).select(
        "vec_id",
        F.concat(
            F.col("v"), F.array(F.sqrt(F.col("m2") - F.col("n2")))
        ).alias("v_aug"),
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1), "
        f"__i -> {a}[__i]*{b}[__i]), (__x,__y) -> __x+__y)"
    )


SIM_MIPS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id AS vec_id,
       CAST(ROUND({_dot_sql("e.v", "q.q")}, 6) AS DOUBLE) AS dot6
FROM e CROSS JOIN q
WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY dot6 DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ----------------------------- MMR diversified top-k (staged r14)
# Maximal Marginal Relevance (Carbonell & Goldstein 1998, public): the
# standard diversified-retrieval selector — greedily pick the candidate
# maximizing λ·rel(q, x) − (1−λ)·max_{s∈selected} sim(x, s), so the
# result covers the query's neighborhood instead of returning K
# near-duplicates of the single best hit (exactly the failure mode a
# training-data selection pass hits on a deduplicated-but-clustered
# corpus). Integer-exact rendering: similarities as FLOOR ppm (the
# _cos_ppm discipline), λ = 0.7 as the 700/300 integer split, so
# mmr_score = 700·rel_ppm − 300·max_sim_ppm stays BIGINT and both
# engines agree bitwise. The candidate pool is a provable TakeOrdered
# cut (MMR_POOL rows); the K selection rounds keep their state —
# selected ids and vectors — as kilobyte planning state (the
# train_bpe_merges precedent: a 1-row ordered collect per round), and
# the output is K rows BY CONTRACT. 100 TB shape: the pool cut is the
# only corpus-sized work (one scan + TakeOrdered); selection cost is
# K·|pool| scored rows, independent of corpus size.
MMR_POOL = 30
MMR_K = 10
MMR_LAMBDA_MILLI = 700  # λ in milli: mmr = λ·rel − (1000−λ)·maxsim


def mmr_select(pool: DataFrame, k: int = MMR_K) -> DataFrame:
    """(mmr_rank, vec_id, rel_ppm, max_sim_ppm, mmr_score) — greedy MMR
    over a bounded (vec_id, v, rel_ppm) candidate pool. Distribution of
    labor: the pool's PAIRWISE sim matrix computes distributed in ONE
    bounded self-join over the localCheckpointed pool (≤ MMR_POOL² =
    900 FLOOR-ppm cells — provably bounded planning state, smaller than
    the IVF centroid or BPE vocab collects), then the K greedy rounds
    replay driver-side in exact integer arithmetic over those kilobytes.
    A per-round Spark-job formulation was measured 3.5× slower (7.1 vs
    ~2 s at sf0.1): every round recompiled a fresh codegen expression of
    t literal 64-double arrays, pure compile overhead for a 30-row
    argmax. The sim fold is the same left-assoc `cosine` both engines
    share, so the driver replay is bit-identical to the oracle's chained
    greedy CTEs."""
    lam, lam_c = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI
    spark = pool.sparkSession
    # Zero-norm guard (ADVICE r14): a zero-norm vector makes _cos_ppm
    # NULL, so its rel_ppm (and every sim cell touching it) is NULL —
    # un-rankable by either engine. Drop those candidates BEFORE the
    # checkpoint so the replay sees only integer scores; once all
    # NULL-rel members are gone every surviving pairwise sim is
    # non-NULL by construction (both endpoints have nonzero norm).
    # A zero-norm QUERY nulls every rel → empty pool → empty output,
    # identical to the oracle's NULLS-LAST-then-LIMIT behavior.
    pool = pool.filter(F.col("rel_ppm").isNotNull()).localCheckpoint()
    cand_rows = pool.select("vec_id", "rel_ppm").collect()  # ≤ MMR_POOL
    a = pool.select(F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"))
    b = pool.select(F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"))
    sim_rows = (
        a.join(b, F.col("id_a") < F.col("id_b"))  # bounded 30×30 bnlj
        .select(
            "id_a",
            "id_b",
            _cos_ppm(F.col("v_a"), F.col("v_b")).alias("sim_ppm"),
        )
        .collect()  # ≤ MMR_POOL·(MMR_POOL−1)/2 = 435 cells
    )
    sim: dict[tuple, int] = {}
    for r in sim_rows:
        sim[(r.id_a, r.id_b)] = r.sim_ppm
        sim[(r.id_b, r.id_a)] = r.sim_ppm
    rel = {r.vec_id: r.rel_ppm for r in cand_rows}
    remaining = sorted(rel)
    selected: list = []
    out = []
    for t in range(min(k, len(remaining))):
        best = None
        for x in remaining:
            maxsim = max((sim[(x, s)] for s in selected), default=0)
            score = lam * rel[x] - lam_c * maxsim
            key = (-score, x)
            if best is None or key < best[0]:
                best = (key, x, maxsim, score)
        _, x, maxsim, score = best
        remaining.remove(x)
        selected.append(x)
        out.append((t, x, rel[x], maxsim, score))
    return spark.createDataFrame(
        out,
        "mmr_rank int, vec_id long, rel_ppm long, max_sim_ppm long, "
        "mmr_score long",
    ).orderBy("mmr_rank")


def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r14 (gates r15): MMR-diversified top-K over the embeddings
    table — pool = exact top-MMR_POOL by cosine to the fixed query, then
    K greedy λ=0.7 selection rounds."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    query = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("q"))
        .limit(1)  # provable 1-row bound
    )
    pool = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select("vec_id", "v", _cos_ppm(F.col("v"), F.col("q")).alias("rel_ppm"))
        .orderBy(F.desc("rel_ppm"), F.asc("vec_id"))
        .limit(MMR_POOL)
    )
    return mmr_select(pool)


def _mmr_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_mmr_oracle_agrees_cross_engine; registers r15): the same pool
    cut, then the K greedy rounds as chained CTEs — round t excludes
    s0..s{t-1} and takes GREATEST of the FLOOR-ppm similarities to each
    selected row (scalar subqueries; identical left-fold float adds)."""
    lam, lam_c = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI

    def ppm(a: str, b: str) -> str:
        return (
            f"CAST(FLOOR({cosine_sql_duckdb(a, b)} * 1000000) AS BIGINT)"
        )

    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings "
        f"WHERE vec_id = {QUERY_VEC_ID})",
        f"pool AS MATERIALIZED (SELECT e.vec_id, e.v, "
        f"{ppm('e.v', 'q.q')} AS rel_ppm "
        f"FROM e CROSS JOIN q WHERE e.vec_id != {QUERY_VEC_ID} "
        f"ORDER BY rel_ppm DESC, vec_id ASC LIMIT {MMR_POOL})",
        f"s0 AS MATERIALIZED (SELECT vec_id, v, rel_ppm, "
        f"CAST(0 AS BIGINT) AS max_sim_ppm, "
        f"CAST({lam} * rel_ppm AS BIGINT) AS mmr_score "
        f"FROM pool ORDER BY mmr_score DESC, vec_id ASC LIMIT 1)",
    ]
    for t in range(1, MMR_K):
        # DuckDB rejects subqueries inside lambdas, so the 1-row selected
        # CTEs join into FROM and the similarity lambdas read plain
        # columns (each join multiplies by exactly one row)
        sims = ", ".join(ppm("p.v", f"j{j}.sv{j}") for j in range(t))
        greatest = f"GREATEST({sims})" if t > 1 else sims
        joins = " ".join(
            f"CROSS JOIN (SELECT v AS sv{j} FROM s{j}) j{j}" for j in range(t)
        )
        seen = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(t)
        )
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT p.vec_id, p.v, p.rel_ppm, "
            f"{greatest} AS max_sim_ppm, "
            f"CAST({lam} * p.rel_ppm - {lam_c} * ({greatest}) AS BIGINT) "
            f"AS mmr_score "
            f"FROM pool p {joins} WHERE p.vec_id NOT IN ({seen}) "
            f"ORDER BY mmr_score DESC, p.vec_id ASC LIMIT 1)"
        )
    body = "\nUNION ALL\n".join(
        f"SELECT {t} AS mmr_rank, vec_id, rel_ppm, max_sim_ppm, mmr_score "
        f"FROM s{t}"
        for t in range(MMR_K)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(mmr_rank AS INT) AS mmr_rank, vec_id, rel_ppm, max_sim_ppm,
       mmr_score
FROM (
{body}
)
ORDER BY mmr_rank
"""
    )


# ------------------- corpus-level diversity selection (staged r15)
# The MMR complement (VERDICT r14 #5): MMR diversifies a QUERY's top-k;
# the training-data move is diversifying the CORPUS — a coverage
# (facility-location-flavored) sample. True greedy k-center is a
# sequential farthest-first chain that doesn't distribute; the scale
# answer is that the IVF cell structure ALREADY IS a k-center cover
# (each cell = one center's service region), so per-cell selection with
# capped takes inherits its coverage guarantee: every corpus region
# contributes, no region dominates (the same flattening move
# corpus_mixture_sample applies to source mass, here applied to
# EMBEDDING-space mass — the two compose). Two-sided take per cell:
# KCENTER_CORE_TAKE medoid-side rows (highest cos to the cell centroid —
# the cell's best representatives) plus KCENTER_FRONTIER_TAKE
# boundary-side rows (lowest cos — the region's edge cases, which pure
# quality-ranked sampling systematically drops and which coverage
# sampling exists to keep). Integer-exact: cos_ppm FLOOR semantics, the
# exact-integer-sum centroids of build_ivf_centroids, ROW_NUMBER ties
# broken by vec_id in both engines. 100 TB shape: one tiny centroid
# aggregate (|cells|·dim), one broadcast join, ONE label-keyed exchange
# feeding both per-cell rank orders — never a global sort; output is
# ≤ |cells|·(core+frontier) rows by contract.
KCENTER_CORE_TAKE = 12
KCENTER_FRONTIER_TAKE = 4


def kcenter_sample(
    scored: DataFrame,
    core_take: int = KCENTER_CORE_TAKE,
    frontier_take: int = KCENTER_FRONTIER_TAKE,
) -> DataFrame:
    """(cell, vec_id, cos_ppm, role, pick_rank) — per-cell coverage
    selection over (vec_id, label, cos_ppm) centroid fits. A row ranking
    inside BOTH takes (tiny cells) keeps its core role: core wins, and
    each vec_id appears at most once."""
    from pyspark.sql import Window

    wc = Window.partitionBy("label").orderBy(
        F.desc("cos_ppm"), F.asc("vec_id")
    )
    wf = Window.partitionBy("label").orderBy(
        F.asc("cos_ppm"), F.asc("vec_id")
    )
    is_core = F.col("core_rank") <= core_take
    # zero-norm vectors score NULL cosine and have no direction — they
    # cannot be coverage picks, and unguarded they diverge the engines
    # (Spark ASC ranks NULLS FIRST, DuckDB NULLS LAST — the r14 MMR
    # advice class). dq_embedding_profile is the screen that counts
    # them; here they are excluded from ranking in BOTH engines.
    scored = scored.filter(F.col("cos_ppm").isNotNull())
    return (
        scored.select(
            "vec_id",
            "label",
            "cos_ppm",
            F.row_number().over(wc).alias("core_rank"),
            F.row_number().over(wf).alias("frontier_rank"),
        )
        .filter(is_core | (F.col("frontier_rank") <= frontier_take))
        .select(
            F.col("label").alias("cell"),
            "vec_id",
            "cos_ppm",
            F.when(is_core, F.lit("core")).otherwise(F.lit("frontier")).alias(
                "role"
            ),
            F.when(is_core, F.col("core_rank"))
            .otherwise(F.col("frontier_rank"))
            .cast("long")
            .alias("pick_rank"),
        )
        .orderBy("cell", "role", "pick_rank")
    )


def corpus_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r15 (gates r16): coverage-diverse corpus sample over the
    embeddings table's IVF cells — KCENTER_CORE_TAKE medoid-side +
    KCENTER_FRONTIER_TAKE boundary-side picks per cell, integer-exact."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    cents = build_ivf_centroids(emb)
    scored = emb.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        _cos_ppm(F.col("v"), F.col("c")).alias("cos_ppm"),
    )
    return kcenter_sample(scored)


def _kcenter_sql() -> str:
    """Staged DuckDB oracle: the _ivf_sql centroid CTE verbatim, then the
    same two per-cell ROW_NUMBER orders and the core-wins CASE."""
    cos = cosine_sql_duckdb("e.v", "c.c")
    return f"""
WITH {_centroid_ctes()},
scored AS (
  SELECT e.vec_id, e.label,
         CAST(FLOOR({cos} * 1000000) AS BIGINT) AS cos_ppm
  FROM e JOIN centroids c USING (label)
),
ranked AS (
  SELECT vec_id, label, cos_ppm,
    ROW_NUMBER() OVER (PARTITION BY label
                       ORDER BY cos_ppm DESC, vec_id ASC) AS core_rank,
    ROW_NUMBER() OVER (PARTITION BY label
                       ORDER BY cos_ppm ASC, vec_id ASC) AS frontier_rank
  FROM scored
  WHERE cos_ppm IS NOT NULL
)
SELECT label AS cell, vec_id, cos_ppm,
       CASE WHEN core_rank <= {KCENTER_CORE_TAKE} THEN 'core'
            ELSE 'frontier' END AS role,
       CAST(CASE WHEN core_rank <= {KCENTER_CORE_TAKE} THEN core_rank
                 ELSE frontier_rank END AS BIGINT) AS pick_rank
FROM ranked
WHERE core_rank <= {KCENTER_CORE_TAKE}
   OR frontier_rank <= {KCENTER_FRONTIER_TAKE}
ORDER BY cell, role, pick_rank
"""


# ------------------------- IVF recall self-audit (staged r15)
# The index's quality SLA as a first-class query: recall@K of the
# nprobe-cell IVF candidate path against the EXACT cosine top-K, over a
# fixed bounded query panel — the recurring audit a production ANN
# deployment runs after every index rebuild (tools/recall_study.py's
# one-off study, promoted to the oracle-gated surface). Integer-exact:
# every ranking orders by FLOOR-ppm BIGINT cosine with vec_id
# tie-breaks, so top-K sets are bit-identical across engines and
# recall_bp is an integer quotient of exact counts.
RECALL_NQ = 8  # query panel size: ordered limit — a Catalyst-provable bound
RECALL_QMOD = 61
RECALL_SALT = 32  # stage-1 fan-out of the two-stage grouped top-k


def _grouped_topk(scored: DataFrame, k: int) -> DataFrame:
    """Exact per-qid top-k over (qid, vec_id, cos_ppm) WITHOUT a
    per-query global sort: stage 1 ranks within (qid, vec_id%SALT) —
    RECALL_SALT× the parallelism, each task sorting 1/SALT of a query's
    corpus — and stage 2 ranks the surviving ≤ SALT·k rows per query.
    Top-k of a union of per-slice top-ks IS the global top-k, so the
    two-stage form is semantically the oracle's single window; at 100 TB
    the single-window form would funnel the whole corpus through
    |panel| tasks."""
    from pyspark.sql import Window

    salt = F.pmod(F.col("vec_id"), F.lit(RECALL_SALT))
    w1 = Window.partitionBy(F.col("qid"), salt).orderBy(
        F.desc("cos_ppm"), F.asc("vec_id")
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos_ppm"), F.asc("vec_id"))
    return (
        scored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
        .drop("r1")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r15 (gates r16): (qid, n_exact, n_hits, recall_bp) —
    recall@TOP_K of the NPROBE-cell IVF path vs exact cosine, per panel
    query. Scale shape: the panel is an ordered limit(RECALL_NQ)
    broadcast; the exact leg is one scan-local score pass + the
    two-stage grouped top-k; the IVF leg touches only the probed cells'
    rows; the final comparison joins two ≤ panel·K row sets."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    queries = (
        emb.filter(F.col("vec_id") % RECALL_QMOD == 0)
        .orderBy("vec_id")
        .limit(RECALL_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("q"))
    )
    exact = _grouped_topk(
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _cos_ppm(F.col("v"), F.col("q")).alias("cos_ppm")),
        TOP_K,
    )
    cents = build_ivf_centroids(emb)
    from pyspark.sql import Window

    wq = Window.partitionBy("qid").orderBy(F.desc("cell_ppm"), F.asc("label"))
    cells = (
        queries.crossJoin(F.broadcast(cents))
        .select("qid", "label", _cos_ppm(F.col("q"), F.col("c")).alias("cell_ppm"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("qid", "label")
    )
    ivf = _grouped_topk(
        emb.join(F.broadcast(cells), "label")
        .join(F.broadcast(queries), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _cos_ppm(F.col("v"), F.col("q")).alias("cos_ppm")),
        TOP_K,
    )
    return (
        exact.join(
            ivf.select("qid", "vec_id", F.lit(1).alias("hit")),
            ["qid", "vec_id"],
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "qid",
            "n_exact",
            "n_hits",
            F.expr("CAST((10000 * n_hits) DIV n_exact AS BIGINT)").alias(
                "recall_bp"
            ),
        )
        .orderBy("qid")
    )


def _ivf_recall_sql() -> str:
    """Staged DuckDB oracle: single-window per-query ranks (semantically
    the two-stage form), the same centroid CTE, ppm orderings and
    integer recall quotient."""
    cos_eq = cosine_sql_duckdb("e.v", "q.q")
    cos_cq = cosine_sql_duckdb("c.c", "q.q")
    ppm_eq = f"CAST(FLOOR({cos_eq} * 1000000) AS BIGINT)"
    ppm_cq = f"CAST(FLOOR({cos_cq} * 1000000) AS BIGINT)"
    return f"""
WITH {_centroid_ctes()},
q AS (
  SELECT vec_id AS qid, v AS q FROM e
  WHERE vec_id % {RECALL_QMOD} = 0 ORDER BY vec_id LIMIT {RECALL_NQ}
),
ex AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {ppm_eq} DESC, e.vec_id ASC) AS rn
    FROM e CROSS JOIN q WHERE e.vec_id != q.qid
  ) WHERE rn <= {TOP_K}
),
cells AS (
  SELECT qid, label FROM (
    SELECT q.qid, c.label,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {ppm_cq} DESC, c.label ASC) AS rn
    FROM centroids c CROSS JOIN q
  ) WHERE rn <= {NPROBE}
),
iv AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {ppm_eq} DESC, e.vec_id ASC) AS rn
    FROM e JOIN cells ON e.label = cells.label
           JOIN q ON q.qid = cells.qid
    WHERE e.vec_id != q.qid
  ) WHERE rn <= {TOP_K}
)
SELECT qid, n_exact, n_hits,
       CAST((10000 * n_hits) // n_exact AS BIGINT) AS recall_bp
FROM (
  SELECT ex.qid,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM ex LEFT JOIN iv ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
  GROUP BY ex.qid
)
ORDER BY qid
"""


RADIUS_MIN_COS = 0.3  # gated threshold — calibrated so the near-uniform dev corpus yields a small-but-nonempty ball (policy, not semantics)


def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE similarity search — the dual of top-k that dedup and
    retrieval-filtering actually call ("give me EVERYTHING within the
    ball", not the k best): all vectors with cosine >= RADIUS_MIN_COS to
    the query, exact. Same plan skeleton as sim_topk_bruteforce (broadcast
    1-row query, scan-local codegen'd cosine) but the selection is a
    FILTER, not a TakeOrdered — output size is data-dependent, so there is
    no top-k heap; rows stream out as the scan finds them and the only
    ordered work is the final presentation sort. The ANN variant of the
    same contract is the banded/bucketed probe with the threshold applied
    after scoring (ann_index_topk + filter); at 100 TB radius search is
    exactly what the near-dup screens (`dedup_embedding_neardup`) run
    per-anchor, which is why the exact form is worth gating on its own."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    query = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("q"))
        # vec_id is unique, so this is already one row; limit(1) makes the
        # bound PROVABLE (logical maxRows=1), turning the nested-loop join
        # into an asserted 1-row broadcast in the plan audit
        .limit(1)
    )
    sim = F.round(cosine(F.col("v"), F.col("q")), 6).cast("double")
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select("vec_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= RADIUS_MIN_COS)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    )


SIM_RADIUS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, cos_sim FROM (
  SELECT e.vec_id AS vec_id, CAST(ROUND({_COS}, 6) AS DOUBLE) AS cos_sim
  FROM e CROSS JOIN q
  WHERE e.vec_id != {QUERY_VEC_ID}
)
WHERE cos_sim >= {RADIUS_MIN_COS}
ORDER BY cos_sim DESC, vec_id ASC
"""


def with_lsh_bucket(emb: DataFrame) -> DataFrame:
    """Add the random-hyperplane sign bucket to an embedding DataFrame
    (expects a double-array column `v`). Pure column expressions."""
    planes = hyperplanes()
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        proj = dot(F.col("v"), plane_col)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return emb.withColumn("bucket", bucket)


# Hamming-1 multiprobe: a candidate qualifies when its bucket differs from
# the query's in at most one sign bit — bucket XOR qbucket ∈ {0} ∪ powers
# of two. 9 of 256 buckets probed; measured recall@10 0.10 vs 0.013 for the
# single-bucket probe (BASELINE §2c).
_HAMMING1 = [0] + [1 << i for i in range(NUM_PLANES)]


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: score vectors within Hamming distance 1 of the query's
    LSH bucket (multiprobe, Lv et al. — a near neighbor that falls across
    one hyperplane boundary lands one sign bit away, so the single-bucket
    probe misses exactly the neighbors LSH exists to find; round 4 upgraded
    this query from radius 0 after measuring the recall curve).

    Fully oracle-checked: the hyperplanes are literal constants, so the
    DuckDB oracle replays the identical sign-bucket computation (same
    left-fold float addition order) AND the same XOR-membership probe, and
    must produce the same candidate set and scores. pytest additionally
    verifies recall vs brute force.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    bucketed = with_lsh_bucket(emb)
    qrow = (
        bucketed.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("q"), F.col("bucket").alias("qbucket"))
        # vec_id is unique, so this is already one row; limit(1) makes the
        # bound PROVABLE (logical maxRows=1) for the plan audit
        .limit(1)
    )
    return (
        bucketed.crossJoin(F.broadcast(qrow))
        .filter(
            F.col("bucket").bitwiseXOR(F.col("qbucket")).isin(_HAMMING1)
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("q")), 6).cast("double").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def write_ann_index(emb: DataFrame, path: str) -> None:
    """Materialize the LSH index: the bucketed table written as a
    bucket-partitioned parquet layout. This is the scale path the ANN query
    relies on — at 100 TB the index write is one pass, and every probe
    afterwards is a partition-pruned scan of a single bucket directory
    (1/2^NUM_PLANES of the data) instead of a full-corpus scan."""
    with_lsh_bucket(emb).write.mode("overwrite").partitionBy("bucket").parquet(path)


def _hamming_probe_buckets(bucket: int, radius: int, n_planes: int = NUM_PLANES) -> list[int]:
    """All bucket codes within the given Hamming distance of `bucket` —
    the multiprobe-LSH candidate set (Lv et al., 'Multi-Probe LSH'): a
    near neighbor that lands across one or two hyperplane boundaries sits
    in a bucket differing in that many sign bits, so probing the Hamming
    ball recovers it. |ball| = Σ C(n_planes, r) — 1/9/37 buckets at radius
    0/1/2 with 8 planes; pure query planning."""
    out = {bucket}
    if radius >= 1:
        out |= {bucket ^ (1 << i) for i in range(n_planes)}
    if radius >= 2:
        out |= {
            bucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        }
    if radius >= 3:
        raise ValueError("hamming_radius > 2 unsupported (probe cost ≈ full scan)")
    return sorted(out)


def ann_index_topk(
    spark: SparkSession,
    index_path: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
    hamming_radius: int = 0,
) -> DataFrame:
    """Probe the materialized index: resolve the query vector's bucket
    through the same fold (no drift vs the index write), then scan ONLY the
    probe buckets' partitions — the filter is literal at plan time, so it
    lands in PartitionFilters and Spark lists just those bucket
    directories. The 1-row collect is query planning (the query vector),
    not a data action.

    ``hamming_radius`` is the multiprobe recall dial (measured recall@10
    on the sf0.01 corpus: 0.01 / 0.10 / 0.32 at radius 0/1/2 — see
    BASELINE.md §2c): radius r scans the Hamming-r ball of buckets
    (1/9/37 of 256), trading a proportional slice of the corpus for
    recall, still partition-pruned."""
    idx = spark.read.parquet(index_path)
    q = idx.filter(F.col("vec_id") == query_vec_id).select("v", "bucket").head()
    probe = _hamming_probe_buckets(q.bucket, hamming_radius)
    return (
        idx.filter(F.col("bucket").isin(probe) & (F.col("vec_id") != query_vec_id))
        .crossJoin(
            # limit(1): createDataFrame plans as LogicalRDD (no row bound);
            # the limit makes the 1-row bound provable for the plan audit
            F.broadcast(spark.createDataFrame([(q.v,)], "q array<double>").limit(1))
        )
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("q")), 6).cast("double").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


QUANT = 1 << 20  # centroid quantization: trunc(val * 2^20) per component

def _centroid_ctes() -> str:
    """The ONE quantized-centroid CTE chain (e/comps/centroids) every
    centroid-consuming oracle composes — byte-identical to the inline
    blocks it replaced, so gated oracle strings are unchanged; a change
    to QUANT semantics now has exactly one SQL home next to
    build_ivf_centroids' Spark twin."""
    return f"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
comps AS (
  SELECT label, u.pos AS pos, u.qv AS qv FROM (
    SELECT label, unnest(list_transform(range(1, len(v)+1),
           __i -> {{'pos': __i, 'qv': CAST(TRUNC(v[__i] * {QUANT}) AS BIGINT)}})) AS u
    FROM e
  )
),
centroids AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS c
  FROM (SELECT label, pos, SUM(qv) AS s FROM comps GROUP BY label, pos)
  GROUP BY label
)"""



def build_ivf_centroids(emb: DataFrame) -> DataFrame:
    """(label, c): the IVF coarse-quantizer table — one un-normalized
    centroid SUM vector per cell, engine-exact by integer summation (each
    component truncated to a 2^-20 grid; cosine is scale-invariant, so the
    sum ranks cells identically to the mean with zero float-order drift).
    Expects (label, v double-array). |cells| x dim rows in, |cells| out —
    tiny at any corpus size."""
    comps = emb.select(
        "label", F.posexplode("v").alias("pos", "val")
    ).select("label", "pos", (F.col("val") * QUANT).cast("long").alias("q"))
    return (
        comps.groupBy("label", "pos")
        .agg(F.sum("q").alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x.s.cast("double"),
            ).alias("c")
        )
    )


def write_ivf_index(emb: DataFrame, path: str) -> None:
    """One-time IVF index build — the 100 TB path that makes a probe cheap:

    - ``{path}/data``: the corpus written PARTITIONED BY cell (label
      duplicated into the partition column ``cell`` so the original-dtype
      ``label`` survives as a data column), so a probe's cell filter lands
      in PartitionFilters and Spark lists only nprobe/|cells| of the
      directories.
    - ``{path}/centroids``: the quantizer table persisted once.

    This is what kills the anti-pattern the inline `sim_ivf_*` queries
    (kept for oracle parity) share: rebuilding the full-corpus centroid
    table on every probe — two extra corpus passes per query."""
    data = emb.withColumn("cell", F.col("label"))
    data.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/data")
    build_ivf_centroids(emb).write.mode("overwrite").parquet(f"{path}/centroids")
    # an in-place rebuild at the same path must invalidate the RAM-resident
    # quantizer, or a re-probe in this process ranks against stale centroids
    _CENTROID_CACHE.pop(path, None)


_CENTROID_CACHE: dict[str, list[tuple[int, list[float]]]] = {}


def _load_centroids(spark: SparkSession, index_path: str) -> list[tuple[int, list[float]]]:
    """The coarse quantizer, resident driver-side — exactly how IVF systems
    hold it (|cells| x dim floats, kilobytes at any corpus size). Collected
    once per index path and cached, so a steady-state probe runs ONE Spark
    job (the pruned cell scan) instead of paying a centroid-ranking job per
    query. Cache keys are index paths; the gated query's paths already embed
    the source file's mtime+size (_ivf_cache_dir), so data regeneration
    rotates the key instead of serving stale centroids."""
    if index_path not in _CENTROID_CACHE:
        rows = spark.read.parquet(f"{index_path}/centroids").collect()
        _CENTROID_CACHE[index_path] = [(r.label, list(r.c)) for r in rows]
    return _CENTROID_CACHE[index_path]


def _rank_cells(
    centroids: list[tuple[int, list[float]]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Driver-side centroid ranking over query-planning state: plain Python
    doubles in the SAME left-fold order as the engines' cosine fold, so the
    chosen cells are bit-identical to what the Spark/DuckDB expression
    ranks. Zero-norm centroids sort last (the engines' DESC NULLS LAST)."""

    def fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    import math

    scored = []
    for label, c in centroids:
        denom = math.sqrt(fold_dot(c, c)) * math.sqrt(fold_dot(query_vec, query_vec))
        cos = (fold_dot(c, query_vec) / denom) if denom != 0 else float("-inf")
        scored.append((-cos, label))
    scored.sort()
    return [label for _, label in scored[:nprobe]]


def ivf_index_topk(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float] | None = None,
    query_vec_id: int = QUERY_VEC_ID,
    exclude_vec_id: int | None = None,
    k: int = TOP_K,
    nprobe: int = 1,
) -> DataFrame:
    """Probe the materialized IVF index: rank the RAM-resident centroids
    against the query (driver arithmetic over |cells| rows — query
    planning, like ann_index_topk's head), then scan ONLY the nprobe best
    cells' partitions. The probe plan touches no corpus-wide
    posexplode/groupBy — index build cost was paid once in write_ivf_index
    — and in steady state runs a single Spark job.

    ``query_vec`` normally arrives with the request (a production ANN
    service gets the vector, not a corpus id); passing only
    ``query_vec_id`` falls back to an id-lookup scan of the index."""
    data = spark.read.parquet(f"{index_path}/data")
    if query_vec is None:
        row = data.filter(F.col("vec_id") == query_vec_id).select("v").head()
        query_vec = list(row.v)
        if exclude_vec_id is None:
            exclude_vec_id = query_vec_id
    qdf = spark.createDataFrame([(query_vec,)], "q array<double>").limit(1)
    cells = _rank_cells(_load_centroids(spark, index_path), query_vec, nprobe)
    out = data.filter(F.col("cell").isin(cells))
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return (
        out.crossJoin(F.broadcast(qdf))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("q")), 6).cast("double").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_index_upsert(spark: SparkSession, index_path: str, new_emb: DataFrame) -> None:
    """Incremental IVF maintenance — the freshness path an ANN service
    needs between rebuilds: assign each NEW vector to its nearest EXISTING
    cell (quantizer frozen, the standard IVF freshness model) and APPEND
    into the cell-partitioned layout. No existing partition is rewritten,
    the RAM-resident quantizer stays valid (deliberately NOT invalidated —
    the centroids did not change), and the next probe sees old ∪ new
    through the same partition-pruned scan.

    Shape: the |cells|-row centroid table broadcasts; assignment is one
    cosine per (new vector, cell) and an argmax keyed on vec_id — the only
    shuffle is of the NEW batch, never the index. Quantizer drift from
    accumulated upserts is the documented trade: rebuild cadence
    (write_ivf_index) vs freshness, exactly as IVF systems operate.
    ``new_emb`` expects (vec_id, label, v double-array)."""
    from pyspark.sql import Window

    cents = _load_centroids(spark, index_path)
    cent_df = spark.createDataFrame(
        [(int(label), list(c)) for label, c in cents], "cell int, c array<double>"
    )
    scored = new_emb.crossJoin(F.broadcast(cent_df)).select(
        "vec_id",
        "label",
        "v",
        "cell",
        cosine(F.col("v"), F.col("c")).alias("cs"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("cell"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "v", "cell")
    )
    assigned.write.mode("append").partitionBy("cell").parquet(f"{index_path}/data")


def _ivf_cache_dir(sf_dir: str) -> str:
    """Deterministic per-dataset index location, keyed on the embeddings
    file's identity (path + mtime + size) so a driver data regeneration
    between rounds invalidates the cache instead of probing stale cells."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_{tag}")


def sim_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INDEXED IVF probe as a gated query: build the index once per
    dataset (cached across calls — steady state measures the probe, which
    is the number that matters), fetch the query vector from the source
    table (one small scan, stands in for the request payload), then
    partition-pruned multi-probe. Value-identical to sim_ivf_multiprobe
    (same quantizer, same cells, same scoring), so it shares its oracle."""
    path = _ivf_cache_dir(sf_dir)
    if not os.path.exists(os.path.join(path, "centroids", "_SUCCESS")):
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double_array("embedding").alias("v")
        )
        write_ivf_index(emb, path)
    qrow = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(as_double_array("embedding").alias("v"))
        .head()
    )
    return ivf_index_topk(
        spark,
        path,
        query_vec=list(qrow.v),
        exclude_vec_id=QUERY_VEC_ID,
        nprobe=NPROBE,
    )


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF-style ANN: coarse cells = `label`; probe the query's `nprobe`
    nearest cells, exact cosine within them.

    The coarse quantizer is engine-exact by construction: each component is
    truncated to a 2^-20 grid and *summed* per (cell, dim) as integers —
    cosine is scale-invariant, so the un-normalized centroid SUM vector
    ranks cells identically to the mean, with no float accumulation order
    or decimal-division drift. At scale: the centroid table is tiny
    (|cells| x dim, broadcast), the probe is a partition-pruned scan when
    the table is written partitioned by cell. `nprobe` is the standard
    IVF recall lever: cost grows linearly (nprobe/|cells| of the corpus
    scanned), recall approaches exact as nprobe → |cells|.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    centroids = build_ivf_centroids(emb)
    qrow = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("q"))
        # vec_id is unique, so this is already one row; limit(1) makes the
        # bound PROVABLE (logical maxRows=1), turning the nested-loop join
        # into an asserted 1-row broadcast in the plan audit
        .limit(1)
    )
    best_cell = (
        centroids.crossJoin(F.broadcast(qrow))
        .select("label", cosine(F.col("c"), F.col("q")).alias("cell_cos"))
        .orderBy(F.desc("cell_cos"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    return (
        emb.join(F.broadcast(best_cell), "label")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("q")), 6).cast("double").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


NPROBE = 2


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-cell IVF probe (nprobe=1): the cheapest ANN configuration."""
    return _ivf_topk(spark, sf_dir, nprobe=1)


def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (nprobe=2): scans the 2 nearest cells — the recall
    configuration a production ANN service actually runs (single-probe
    misses neighbors that sit just across a cell boundary)."""
    return _ivf_topk(spark, sf_dir, nprobe=NPROBE)


def _ivf_sql(nprobe: int = 1) -> str:
    cell_cos = cosine_sql_duckdb("c.c", "q.q")
    cos = cosine_sql_duckdb("e.v", "q.q")
    return f"""
WITH {_centroid_ctes()},
q AS (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}),
best AS (
  SELECT c.label FROM centroids c CROSS JOIN q
  ORDER BY {cell_cos} DESC, c.label ASC LIMIT {nprobe}
)
SELECT e.vec_id AS vec_id, e.label AS label, CAST(ROUND({cos}, 6) AS DOUBLE) AS cos_sim
FROM e JOIN best ON e.label = best.label CROSS JOIN q
WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


def _ann_sql() -> str:
    """DuckDB replay of the hyperplane sign bucket: per plane, the projection
    is the same left-associated sum of products Spark's `aggregate` fold
    computes, with the plane components inlined as shortest-roundtrip float
    literals (identical doubles in both engines)."""
    planes = hyperplanes()

    def proj(vexpr: str, plane: list[float]) -> str:
        terms = " + ".join(f"{vexpr}[{i + 1}]*({c!r})" for i, c in enumerate(plane))
        return f"(0.0 + {terms})"

    def bucket(vexpr: str) -> str:
        cases = " + ".join(
            f"(CASE WHEN {proj(vexpr, plane)} > 0 THEN {1 << p} ELSE 0 END)"
            for p, plane in enumerate(planes)
        )
        return f"({cases})"

    cos = cosine_sql_duckdb("e.v", "q.q")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {bucket("(embedding::DOUBLE[])")} AS bucket
  FROM embeddings
),
q AS (SELECT v AS q, bucket AS qbucket FROM e WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id AS vec_id, CAST(ROUND({cos}, 6) AS DOUBLE) AS cos_sim
FROM e CROSS JOIN q
WHERE xor(e.bucket::BIGINT, q.qbucket::BIGINT) IN ({', '.join(str(x) for x in _HAMMING1)})
  AND e.vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split the vector into PQ_M subspaces, quantize
# each to one of PQ_K codebook entries, and answer queries by table lookup —
# an 8-byte code replaces a 256-byte vector, the memory lever that lets a
# 100 TB embedding corpus fit an in-RAM index tier.
PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M  # 8 components per subspace
PQ_K = 16  # codebook entries per subspace (4-bit codes)


def _pq_comps(emb: DataFrame) -> DataFrame:
    """(vec_id, m, r, q): integer-quantized components keyed by subspace m
    and intra-subspace position r — the 2^-20 trunc grid that makes every
    downstream distance an exact integer in both engines."""
    return emb.select("vec_id", F.posexplode("v").alias("pos", "val")).select(
        "vec_id",
        F.expr(f"pos div {PQ_SUBDIM}").cast("int").alias("m"),
        (F.col("pos") % PQ_SUBDIM).cast("int").alias("r"),
        (F.col("val") * QUANT).cast("long").alias("q"),
    )


def _pq_codebook(emb: DataFrame, comps: DataFrame, pq_k: int = PQ_K) -> DataFrame:
    """(m, r, j, qc): the PQ codebook — entry j of subspace m is the m-th
    quantized subvector of the j-th lowest vec_id (one-shot seeding, the
    ml_kmeans_refine convention). The SINGLE source of truth for the
    seeding/quantization convention: `_pq_codes_lut` (inline queries) and
    `write_pq_index` (materialized index) both build from here, so the
    persisted codebook cannot drift from the codes/LUT arithmetic.
    ``pq_k`` is the code-width dial (16 → 4-bit, 256 → 8-bit codes)."""
    from pyspark.sql import Window

    seeds = emb.select("vec_id").orderBy("vec_id").limit(pq_k)
    seed_j = seeds.select(
        "vec_id",
        (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("j"),
    )  # PQ_K rows: the global window is over query-planning state, not data
    return comps.join(F.broadcast(seed_j), "vec_id").select(
        "m", "r", "j", F.col("q").alias("qc")
    )


def _pq_codes_lut(
    emb: DataFrame, pq_k: int = PQ_K
) -> tuple[DataFrame, DataFrame]:
    """(codes, lut): the PQ encoding of a corpus plus the query's distance
    table — the shared machinery behind sim_pq_topk and sim_ivfpq_topk.
    `emb` expects (vec_id, v double-array); codes = (vec_id, m, code),
    lut = (m, j, lut_d2) for QUERY_VEC_ID."""
    comps = _pq_comps(emb)
    cb = _pq_codebook(emb, comps, pq_k=pq_k)
    d2 = (F.col("q") - F.col("qc")) * (F.col("q") - F.col("qc"))
    codes = (
        comps.join(F.broadcast(cb), ["m", "r"])
        .groupBy("vec_id", "m", "j")
        .agg(F.sum(d2).alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "j")).alias("mn"))
        .select("vec_id", "m", F.col("mn.j").alias("code"))
    )
    lut = (
        comps.filter(F.col("vec_id") == QUERY_VEC_ID)
        .join(F.broadcast(cb), ["m", "r"])
        .groupBy("m", "j")
        .agg(F.sum(d2).alias("lut_d2"))
        # rename the keys: codes and lut share lineage through `comps`, and
        # a (codes.m == lut.m) condition on same-lineage attributes makes
        # Spark warn about (and in edge cases mis-resolve) a trivially-true
        # self-comparison — distinct names keep the join unambiguous
        .select(
            F.col("m").alias("lm"), F.col("j").alias("lj"), "lut_d2"
        )
    )
    return codes, lut


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + asymmetric-style distance computation, end to end: build the
    codebooks, encode the corpus to 4-bit-per-subspace codes, rank by
    LUT-summed distance.

    - **Codebooks**: entry j of subspace m is the m-th subvector of the
      j-th lowest vec_id (one-shot seeding, the ml_kmeans_refine
      convention; Lloyd refinement per subspace would compose exactly like
      operators/clustering.py and is deliberately not fused in here).
    - **Encoding**: each vector's subspace code = argmin_j Σ_r (q-qc)² in
      quantized-integer space, ties to the lowest j via the min-struct
      idiom — engine-exact, no float distance anywhere.
    - **Query (ADC)**: the query's quantized subvectors produce a PQ_M×PQ_K
      integer distance table; a candidate's approximate distance is the sum
      of PQ_M table lookups — the constant-time-per-candidate scoring that
      makes PQ scanning fast.

    Scale shape: the codebook (PQ_M·PQ_K·PQ_SUBDIM = 1024 rows) and the LUT
    (128 rows) are explicit broadcasts; the encode pass is
    scan → broadcast-join → two partial-agg groupBys keyed on vec_id
    prefixes (n·M·K rows pre-combine — the one-time index-build cost PQ
    systems pay); the query-side scoring join is a 128-row broadcast with a
    final per-vec_id sum. No shuffle carries more than n·M·K pre-combined
    rows; nothing is ever all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    codes, lut = _pq_codes_lut(emb)
    return (
        codes.join(
            F.broadcast(lut),
            (F.col("m") == F.col("lm")) & (F.col("code") == F.col("lj")),
        )
        .groupBy("vec_id")
        .agg(F.sum("lut_d2").alias("pq_dist"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy(F.asc("pq_dist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition production ANN systems (FAISS's default
    index family) actually run: the coarse quantizer prunes the corpus to
    the query's NPROBE nearest cells, and candidates inside those cells
    are ranked by the PQ ADC table-lookup distance instead of a full
    float dot product. Cost per query = nprobe/|cells| of the corpus
    scanned × O(PQ_M) integer lookups per candidate — both levers
    independent of the raw vector width.

    Codebooks here are GLOBAL (trained on the whole corpus), not FAISS's
    per-cell residual codebooks — residual encoding would subtract the
    cell centroid before quantizing, a fidelity refinement orthogonal to
    the plan shape; the global form keeps every distance an exact integer
    in both engines. Scale shape: the cell ranking is the broadcast
    |cells|-row centroid table; the candidate restriction is a broadcast
    semi-join of the nprobe cell ids into the codes stream; scoring is
    the 128-row LUT broadcast + per-vec_id sum."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    centroids = build_ivf_centroids(emb)
    qrow = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("q"))
        # vec_id is unique, so this is already one row; limit(1) makes the
        # bound PROVABLE (logical maxRows=1), turning the nested-loop join
        # into an asserted 1-row broadcast in the plan audit
        .limit(1)
    )
    best_cell = (
        centroids.crossJoin(F.broadcast(qrow))
        .select("label", cosine(F.col("c"), F.col("q")).alias("cell_cos"))
        .orderBy(F.desc("cell_cos"), F.asc("label"))
        .limit(NPROBE)
        .select("label")
    )
    cand = (
        emb.join(F.broadcast(best_cell), "label")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label")
    )
    codes, lut = _pq_codes_lut(emb.select("vec_id", "v"))
    return (
        codes.join(cand, "vec_id")
        .join(
            F.broadcast(lut),
            (F.col("m") == F.col("lm")) & (F.col("code") == F.col("lj")),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("lut_d2").alias("pq_dist"))
        .orderBy(F.asc("pq_dist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


SIM_PQ_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
comps AS (
  SELECT vec_id, (u.pos - 1) // {PQ_SUBDIM} AS m, (u.pos - 1) % {PQ_SUBDIM} AS r,
         u.q AS q
  FROM (
    SELECT vec_id, unnest(list_transform(range(1, len(v)+1),
           __i -> {{'pos': __i, 'q': CAST(TRUNC(v[__i] * {QUANT}) AS BIGINT)}})) AS u
    FROM e
  )
),
seed_j AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j
  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_K})
),
cb AS (
  SELECT m, r, j, q AS qc FROM comps JOIN seed_j USING (vec_id)
),
codes AS (
  SELECT vec_id, m, min(struct_pack(d2 := d2, j := j)).j AS code
  FROM (
    SELECT c.vec_id, c.m, cb.j, SUM((c.q - cb.qc) * (c.q - cb.qc)) AS d2
    FROM comps c JOIN cb ON c.m = cb.m AND c.r = cb.r
    GROUP BY c.vec_id, c.m, cb.j
  ) GROUP BY vec_id, m
),
lut AS (
  SELECT c.m, cb.j, SUM((c.q - cb.qc) * (c.q - cb.qc)) AS lut_d2
  FROM comps c JOIN cb ON c.m = cb.m AND c.r = cb.r
  WHERE c.vec_id = {QUERY_VEC_ID}
  GROUP BY c.m, cb.j
)
SELECT codes.vec_id AS vec_id, CAST(SUM(lut.lut_d2) AS BIGINT) AS pq_dist
FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.j
WHERE codes.vec_id != {QUERY_VEC_ID}
GROUP BY codes.vec_id
ORDER BY pq_dist ASC, vec_id ASC
LIMIT {TOP_K}
"""


def write_pq_index(emb: DataFrame, path: str, pq_k: int = PQ_K) -> None:
    """One-time PQ (IVF-PQ) index build, completing the materialized-index
    trio (LSH buckets, IVF cells, PQ codes):

    - ``{path}/codes``: one row per vector — (vec_id, code array<int>,
      partition column ``cell``) — an 8-int code replaces the 64-float
      vector (the ~30x memory lever), laid out cell-partitioned so an
      IVF-PQ probe partition-prunes;
    - ``{path}/codebook``: the PQ_M x PQ_K x PQ_SUBDIM quantized codebook
      (1024 small rows, the RAM-resident part);
    - ``{path}/centroids``: the IVF coarse quantizer (for cell ranking).

    Expects (vec_id, label, v double-array). ``pq_k`` picks the code width
    (16 → 4-bit, 256 → 8-bit, the §2c recall/memory dial); the probe side
    infers the width from the persisted codebook, so indexes of any width
    probe unchanged."""
    flat = emb.select("vec_id", "v")
    codes, _ = _pq_codes_lut(flat, pq_k=pq_k)
    packed = codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda x: x.code.cast("int"),
        ).alias("code")
    )
    data = packed.join(emb.select("vec_id", F.col("label").alias("cell")), "vec_id")
    data.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/codes"
    )
    _pq_codebook(flat, _pq_comps(flat), pq_k=pq_k).write.mode("overwrite").parquet(
        f"{path}/codebook"
    )
    build_ivf_centroids(emb).write.mode("overwrite").parquet(f"{path}/centroids")
    _CENTROID_CACHE.pop(path, None)  # see write_ivf_index


def pq_index_topk(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = TOP_K,
    nprobe: int | None = None,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Probe the materialized PQ index. The query's distance table is
    computed DRIVER-side from the RAM-resident codebook (PQ_M·PQ_K = 128
    integers — query planning, exactly like the IVF centroid ranking) and
    compiled into the plan as LITERAL arrays, so the scan is a pure
    codegen'd expression — per candidate: PQ_M element_at lookups + an
    8-term sum. No joins, no shuffle before the TakeOrdered top-k; with
    ``nprobe`` set, the cell filter partition-prunes the codes layout
    first. This is the ADC scan shape PQ systems run, expressed in
    Catalyst."""
    cb_rows = spark.read.parquet(f"{index_path}/codebook").collect()
    qq = [int(x * QUANT) for x in query_vec]  # trunc, matches cast("long")
    # infer the index geometry from the persisted codebook — probes work
    # unchanged across code widths (pq_k=16 and 256 indexes alike)
    n_m = max(r.m for r in cb_rows) + 1
    n_k = max(r.j for r in cb_rows) + 1
    subdim = max(r.r for r in cb_rows) + 1
    lut = [[0] * n_k for _ in range(n_m)]
    for r in cb_rows:
        d = qq[r.m * subdim + r.r] - r.qc
        lut[r.m][r.j] += d * d
    cells: list[int] | None = None
    if nprobe is not None:
        cells = _rank_cells(_load_centroids(spark, index_path), query_vec, nprobe)
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    dist = functools.reduce(
        operator.add,
        [
            F.element_at(
                F.element_at(lut_lit, m + 1),
                F.element_at(F.col("code"), m + 1) + 1,
            )
            for m in range(n_m)
        ],
    )
    codes = spark.read.parquet(f"{index_path}/codes")
    if cells is not None:
        codes = codes.filter(F.col("cell").isin(cells))
    if exclude_vec_id is not None:  # same contract as ivf_index_topk
        codes = codes.filter(F.col("vec_id") != exclude_vec_id)
    return (
        codes.select("vec_id", F.col("cell").alias("label"), dist.alias("pq_dist"))
        .orderBy(F.asc("pq_dist"), F.asc("vec_id"))
        .limit(k)
    )


def _ivfpq_sql() -> str:
    cell_cos = cosine_sql_duckdb("c.c", "q.q")
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
comps AS (
  SELECT vec_id, (u.pos - 1) // {PQ_SUBDIM} AS m, (u.pos - 1) % {PQ_SUBDIM} AS r,
         u.q AS q
  FROM (
    SELECT vec_id, unnest(list_transform(range(1, len(v)+1),
           __i -> {{'pos': __i, 'q': CAST(TRUNC(v[__i] * {QUANT}) AS BIGINT)}})) AS u
    FROM e
  )
),
seed_j AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j
  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_K})
),
cb AS (
  SELECT m, r, j, q AS qc FROM comps JOIN seed_j USING (vec_id)
),
codes AS (
  SELECT vec_id, m, min(struct_pack(d2 := d2, j := j)).j AS code
  FROM (
    SELECT c.vec_id, c.m, cb.j, SUM((c.q - cb.qc) * (c.q - cb.qc)) AS d2
    FROM comps c JOIN cb ON c.m = cb.m AND c.r = cb.r
    GROUP BY c.vec_id, c.m, cb.j
  ) GROUP BY vec_id, m
),
lut AS (
  SELECT c.m, cb.j, SUM((c.q - cb.qc) * (c.q - cb.qc)) AS lut_d2
  FROM comps c JOIN cb ON c.m = cb.m AND c.r = cb.r
  WHERE c.vec_id = {QUERY_VEC_ID}
  GROUP BY c.m, cb.j
),
ccomps AS (
  SELECT label, u.pos AS pos, u.qv AS qv FROM (
    SELECT label, unnest(list_transform(range(1, len(v)+1),
           __i -> {{'pos': __i, 'qv': CAST(TRUNC(v[__i] * {QUANT}) AS BIGINT)}})) AS u
    FROM e
  )
),
centroids AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS c
  FROM (SELECT label, pos, SUM(qv) AS s FROM ccomps GROUP BY label, pos)
  GROUP BY label
),
q AS (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}),
best AS (
  SELECT c.label FROM centroids c CROSS JOIN q
  ORDER BY {cell_cos} DESC, c.label ASC LIMIT {NPROBE}
),
cand AS (
  SELECT e.vec_id, e.label FROM e JOIN best ON e.label = best.label
  WHERE e.vec_id != {QUERY_VEC_ID}
)
SELECT cand.vec_id AS vec_id, cand.label AS label,
       CAST(SUM(lut.lut_d2) AS BIGINT) AS pq_dist
FROM codes
JOIN cand ON codes.vec_id = cand.vec_id
JOIN lut ON codes.m = lut.m AND codes.code = lut.j
GROUP BY cand.vec_id, cand.label
ORDER BY pq_dist ASC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# Residual IVF-PQ — IVFADC with residual encoding (Jégou et al. 2011, the
# form FAISS's IVFPQ actually runs; public method). BASELINE §2c measures
# the global-codebook PQ bottlenecking at 0.26 recall on the clustered
# fixture: 4-bit quantization noise exceeds the within-cluster spread, so
# ADC can't separate true neighbors inside the query's own cluster.
# Encoding RESIDUALS against the cell centroid re-centers every cell at the
# origin, so the same 16 codebook entries only have to span the
# within-cluster distribution. Arithmetic stays engine-exact: the cell
# centroid used for residuals is the TRUNCATED integer mean on the 2^-20
# grid (sum div count — trunc-toward-zero division agrees between Spark's
# `div` and DuckDB's `//`, verified on negative operands), so residuals,
# codebooks, codes and ADC lookups are all integers.


def _cell_means(emb: DataFrame) -> DataFrame:
    """(label, pos, mc): truncated integer mean component per cell — the
    residual-encoding centroid convention. |cells|·dim rows out."""
    comps = emb.select("label", F.posexplode("v").alias("pos", "val")).select(
        "label", "pos", (F.col("val") * QUANT).cast("long").alias("q")
    )
    return comps.groupBy("label", "pos").agg(
        F.expr("sum(q) div count(1)").alias("mc")
    )


def _pq_res_comps(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(rcomps, cell_means): rcomps = (vec_id, label, pos, m, r, rq) — each
    vector's quantized components minus its OWN cell's truncated mean. The
    cell-means join is a broadcast (|cells|·dim rows), so residualization
    stays scan-pipelined."""
    cm = _cell_means(emb)
    comps = emb.select(
        "vec_id", "label", F.posexplode("v").alias("pos", "val")
    ).select(
        "vec_id",
        "label",
        "pos",
        F.expr(f"pos div {PQ_SUBDIM}").cast("int").alias("m"),
        (F.col("pos") % PQ_SUBDIM).cast("int").alias("r"),
        (F.col("val") * QUANT).cast("long").alias("q"),
    )
    rcomps = comps.join(F.broadcast(cm), ["label", "pos"]).select(
        "vec_id", "label", "pos", "m", "r", (F.col("q") - F.col("mc")).alias("rq")
    )
    # ONE residual-component build for every consumer (r15): the encode of
    # each Lloyd round, each codebook update, the final encode, and the
    # seed join all re-derive rcomps — scan + posexplode + cell-means
    # aggregate + join, once per consumer (6+ rebuilds at lloyd_rounds=2,
    # 129 scans in the final plan). Materializing it behind one vec_id
    # hash exchange makes every consumer a ReusedExchange read
    # (guide §2.4); the shuffle is n·dim narrow integer rows.
    par = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rcomps = rcomps.repartition(par, "vec_id")
    return rcomps, cm


def _pq_res_encode(rcomps: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest-codebook-entry assignment of residual
    components — the shared encode step (argmin_j Σ_r (rq-qc)², ties to the
    lowest j via the min-struct idiom)."""
    d2 = (F.col("rq") - F.col("qc")) * (F.col("rq") - F.col("qc"))
    return (
        rcomps.join(F.broadcast(cb), ["m", "r"])
        .groupBy("vec_id", "m", "j")
        .agg(F.sum(d2).alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "j")).alias("mn"))
        .select("vec_id", "m", F.col("mn.j").alias("code"))
    )


def _pq_res_codes_cb(
    emb: DataFrame, lloyd_rounds: int = 0, pq_k: int = PQ_K
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(codes, cb, cell_means) for the residual encoding. Codebooks are
    shared across cells and trained on residuals (classic IVFADC: one
    residual codebook, not FAISS's optional per-cell variant) — entry j of
    subspace m is the m-th residual subvector of the j-th lowest vec_id
    (the one-shot seeding convention of _pq_codebook).

    ``lloyd_rounds`` unrolls per-subspace k-means refinement on top of the
    seeds (the ml_kmeans_refine convention: a FIXED number of
    assign→update rounds, each update the TRUNCATED INTEGER MEAN of the
    assigned residual components, empty entries keeping their previous
    value) — deterministic, engine-exact, and oracle-replayable as chained
    CTEs. Each round is one broadcast-join encode + one (m,r,code) grouped
    mean over the residual stream.

    ``pq_k`` is the CODE WIDTH dial (entries per subspace codebook):
    16 → 4-bit codes, 256 → 8-bit codes. BASELINE §2c's measured finding is
    that after residual re-centering, clustered recall is bound by code
    RESOLUTION, not codebook placement — widening pq_k is the named lever,
    at 2× the code bytes and K× the encode candidates (still n·M·K
    pre-combined rows, one-time index-build cost)."""
    from pyspark.sql import Window

    rcomps, cm = _pq_res_comps(emb)
    if lloyd_rounds:
        cb = _trained_res_cb(emb, rcomps, lloyd_rounds, pq_k)
    else:
        seeds = emb.select("vec_id").orderBy("vec_id").limit(pq_k)
        seed_j = seeds.select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("j"),
        )  # PQ_K rows: query-planning state, not data
        cb = rcomps.join(F.broadcast(seed_j), "vec_id").select(
            "m", "r", "j", F.col("rq").alias("qc")
        )
    return _pq_res_encode(rcomps, cb), cb, cm


# Session-scoped memo of the TRAINED residual codebook values (r16,
# VERDICT r15 #1). The unrolled in-plan Lloyd formulation carried 114
# static scans / 220 exchanges (plans/r16/sim_ivfpq_lloyd_topk_before.txt)
# and its nested broadcast builds serialized the whole query (5.3 s driver,
# 8-vs-32-core scaling ratio 1.02): every round's codebook subtree embeds
# every earlier round's encode. The codebook is PQ_M·PQ_SUBDIM·pq_k rows of
# small integers — kilobytes of index-build planning state, the same
# category as the BPE merge table (text_analysis._BPE_MERGES_MEMO) and the
# on-disk IVF centroids: memoized per (applicationId, emb plan identity,
# rounds, pq_k), first build per session computes from the parquet inputs
# via per-round jobs over ONE localCheckpointed residual stream (the
# graph-loop idiom, guide §5/§2.4).
#
# Data-immutability assumption (ADVICE r15, documented): plan_identity
# digests the emb PLAN (paths, expressions), not file contents — the memo
# assumes the sf_dir's parquet is immutable for the application's lifetime,
# the standing convention of every attestation memo in this repo (the
# driver starts a fresh JVM per bench/oracle run, so nothing survives a
# data regeneration).
_RES_CB_MEMO: dict[tuple, list] = {}
_RES_CB_MEMO_MAX = 16
_RES_CB_SCHEMA = "m int, r int, j int, qc bigint"


def _trained_res_cb(
    emb: DataFrame, rcomps: DataFrame, lloyd_rounds: int, pq_k: int
) -> DataFrame:
    """Lloyd-refined residual codebook as a literal (m, r, j, qc) relation.

    Training runs as ``lloyd_rounds`` SEPARATE jobs over one
    localCheckpointed residual-component stream instead of one unrolled
    plan: each round is a broadcast-join encode + the (m, r, code) grouped
    truncated-integer mean, collected (<= PQ_M·PQ_SUBDIM·pq_k rows) and
    fed to the next round as a literal — numerically identical integer
    arithmetic to the unrolled form, round by round (the DuckDB oracle's
    chained CTEs are unchanged and the gate stays bitwise)."""
    from pyspark.sql import Window

    spark = emb.sparkSession
    from ..data import plan_identity

    key = (
        spark.sparkContext.applicationId,
        plan_identity(emb),
        lloyd_rounds,
        pq_k,
    )
    got = _RES_CB_MEMO.get(key)
    if got is None:
        # ONE materialization feeds the seed collect and every round's
        # encode+update — without it each training job would re-run the
        # scan + posexplode + cell-means join + vec_id shuffle.
        rc = rcomps.localCheckpoint()
        seeds = emb.select("vec_id").orderBy("vec_id").limit(pq_k)
        seed_j = seeds.select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("j"),
        )
        rows = (
            rc.join(F.broadcast(seed_j), "vec_id")
            .select("m", "r", "j", F.col("rq").alias("qc"))
            .collect()
        )
        got = [(r["m"], r["r"], r["j"], r["qc"]) for r in rows]
        for _ in range(lloyd_rounds):
            cb = spark.createDataFrame(got, _RES_CB_SCHEMA)
            assigned = _pq_res_encode(rc, cb)
            upd = (
                rc.join(assigned, ["vec_id", "m"])
                .groupBy("m", "r", "code")
                .agg(F.expr("sum(rq) div count(1)").alias("qc2"))
                .withColumnRenamed("code", "j")
            )
            rows = (
                cb.join(upd, ["m", "r", "j"], "left")
                .select("m", "r", "j", F.coalesce("qc2", "qc").alias("qc"))
                .collect()
            )
            got = [(r["m"], r["r"], r["j"], r["qc"]) for r in rows]
        if len(_RES_CB_MEMO) >= _RES_CB_MEMO_MAX:
            _RES_CB_MEMO.pop(next(iter(_RES_CB_MEMO)))
        _RES_CB_MEMO[key] = got
    # per-session STABLE relation object (see data.literal_df): keeps every
    # consumer's plan digest identical across executions
    from ..data import literal_df

    return literal_df(spark, key, got, _RES_CB_SCHEMA)


def _ivfpq_residual(
    emb: DataFrame,
    query_vec_id: int,
    nprobe: int = NPROBE,
    k: int = TOP_K,
    lloyd_rounds: int = 0,
    pq_k: int = PQ_K,
) -> DataFrame:
    """Residual-IVFPQ ranked top-k for one query id. Unlike the global-PQ
    form, the query's ADC distance table is PER PROBED CELL (the query
    residual differs per cell centroid) — nprobe·PQ_M·PQ_K rows, still a
    trivial broadcast. Plan shape is otherwise sim_ivfpq_topk's: broadcast
    |cells|-row centroid ranking, broadcast nprobe-cell semi-join into the
    codes stream, LUT broadcast + per-vec_id sum.

    For WIDE codebooks the narrow (vec_id, label, v) input is round-robin
    repartitioned up front: the encode's heavy stage (comps x broadcast
    codebook, n·M·K pre-agg rows) otherwise runs on the scan's task count
    — one task on a single-row-group dev table. Interleaved A/B at sf0.1:
    1.8x faster at pq_k=256, but 1.5x SLOWER at pq_k=16 (the extra
    exchange outweighs the small encode), so the spread is conditional on
    the encode volume; a many-file corpus scan parallelizes itself."""
    if pq_k * PQ_M >= 512:
        par = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        emb = emb.repartition(par)
    centroids = build_ivf_centroids(emb)
    qrow = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("v").alias("q"))
        # vec_id is unique; limit(1) makes the 1-row bound provable
        .limit(1)
    )
    best_cell = (
        centroids.crossJoin(F.broadcast(qrow))
        .select("label", cosine(F.col("c"), F.col("q")).alias("cell_cos"))
        .orderBy(F.desc("cell_cos"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    codes, cb, cm = _pq_res_codes_cb(emb, lloyd_rounds=lloyd_rounds, pq_k=pq_k)
    qcomps = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.posexplode("v").alias("pos", "val")
    ).select(
        "pos",
        F.expr(f"pos div {PQ_SUBDIM}").cast("int").alias("m"),
        (F.col("pos") % PQ_SUBDIM).cast("int").alias("r"),
        (F.col("val") * QUANT).cast("long").alias("q"),
    )
    rqq = F.col("q") - F.col("mc")
    lut_d2 = (rqq - F.col("qc")) * (rqq - F.col("qc"))
    qlut = (
        qcomps.crossJoin(F.broadcast(best_cell.select(F.col("label").alias("lcell"))))
        .join(
            F.broadcast(cm.select(F.col("label").alias("lcell"), "pos", "mc")),
            ["lcell", "pos"],
        )
        .join(F.broadcast(cb), ["m", "r"])
        .groupBy("lcell", "m", "j")
        .agg(F.sum(lut_d2).alias("lut_d2"))
        .select("lcell", F.col("m").alias("lm"), F.col("j").alias("lj"), "lut_d2")
    )
    cand = (
        emb.join(F.broadcast(best_cell), "label")
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label")
    )
    return (
        codes.join(cand, "vec_id")
        .join(
            F.broadcast(qlut),
            (F.col("label") == F.col("lcell"))
            & (F.col("m") == F.col("lm"))
            & (F.col("code") == F.col("lj")),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("lut_d2").alias("pq_dist"))
        .orderBy(F.asc("pq_dist"), F.asc("vec_id"))
        .limit(k)
    )


def sim_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering of the residual IVF-PQ probe for QUERY_VEC_ID."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    return _ivfpq_residual(emb, QUERY_VEC_ID)


PQ_K_WIDE = 256  # 8-bit codes: the measured recall lever after residuals
PQ_LLOYD_ROUNDS = 2  # the ml_kmeans_refine convention: fixed unrolled rounds


def sim_ivfpq_wide_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ with WIDE (8-bit) codes — pq_k = 256 entries per
    subspace codebook instead of 16. BASELINE §2c reading 3's conclusion
    made this the named next lever: residual re-centering fixed codebook
    PLACEMENT, leaving clustered recall bound by 4-bit code RESOLUTION
    (16 entries cannot separate within-cluster neighbors whose residual
    spread spans more than 16 distinguishable shells). 8-bit codes are the
    FAISS default for exactly this reason.

    Cost accounting, honest: codes go 4 bytes → 8 bytes per vector
    (M=8 codes, one byte each when packed — still ~32× under the raw
    256-byte vector), the encode pass carries n·M·256 pre-combined rows
    instead of n·M·16 (a one-time index-build cost), and the per-probed-cell
    ADC LUT grows to nprobe·M·256 integers — all still broadcast-trivial.
    The probe-side plan is byte-identical in shape to
    sim_ivfpq_residual_topk."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    return _ivfpq_residual(emb, QUERY_VEC_ID, pq_k=PQ_K_WIDE)


def sim_ivfpq_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ with LLOYD-REFINED codebooks — the 'codebook
    training' dial BASELINE §2c names as the remaining distance to high
    clustered recall: PQ_LLOYD_ROUNDS unrolled per-subspace k-means rounds
    (assign → truncated-integer-mean update, empty entries frozen) on top
    of the one-shot seeds, then the same per-probed-cell ADC probe as
    sim_ivfpq_residual_topk. Deterministic and engine-exact, so the
    TRAINING itself is oracle-replayed as chained CTEs — the same
    verification trick as ml_kmeans_refine and text_bpe_tokens.

    Scale shape per round: one broadcast-join encode over the residual
    stream + one (m, r, code)-keyed grouped mean (map-side combined,
    PQ_M·PQ_SUBDIM·PQ_K = 1024 output rows). Training cost is
    rounds × O(corpus·M·K) pre-combined rows — the one-time index-build
    cost; probes pay nothing extra."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    return _ivfpq_residual(emb, QUERY_VEC_ID, lloyd_rounds=PQ_LLOYD_ROUNDS)


def _ivfpq_residual_sql(lloyd_rounds: int = 0, pq_k: int = PQ_K) -> str:
    cell_cos = cosine_sql_duckdb("c.c", "q.q")
    # Unrolled per-subspace Lloyd refinement as chained CTEs (the
    # ml_kmeans_refine oracle convention): each round re-assigns every
    # residual to its nearest entry, then replaces each entry with the
    # truncated integer mean of its members (empty entries keep their
    # previous value).
    rounds = ""
    cbf = "cb0"
    for i in range(lloyd_rounds):
        rounds += f""",
codes{i} AS (
  SELECT vec_id, m, min(struct_pack(d2 := d2, j := j)).j AS code
  FROM (
    SELECT rc.vec_id, rc.m, cb.j, SUM((rc.rq - cb.qc) * (rc.rq - cb.qc)) AS d2
    FROM rcomps rc JOIN {cbf} cb ON rc.m = cb.m AND rc.r = cb.r
    GROUP BY rc.vec_id, rc.m, cb.j
  ) GROUP BY vec_id, m
),
cb{i + 1} AS (
  SELECT c.m, c.r, c.j, COALESCE(u.qc2, c.qc) AS qc
  FROM {cbf} c LEFT JOIN (
    SELECT rc.m, rc.r, a.code AS j, CAST(SUM(rc.rq) // COUNT(*) AS BIGINT) AS qc2
    FROM rcomps rc JOIN codes{i} a ON rc.vec_id = a.vec_id AND rc.m = a.m
    GROUP BY rc.m, rc.r, a.code
  ) u ON u.m = c.m AND u.r = c.r AND u.j = c.j
)"""
        cbf = f"cb{i + 1}"
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
comps AS (
  SELECT vec_id, label, u.pos - 1 AS pos, (u.pos - 1) // {PQ_SUBDIM} AS m,
         (u.pos - 1) % {PQ_SUBDIM} AS r, u.q AS q
  FROM (
    SELECT vec_id, label, unnest(list_transform(range(1, len(v)+1),
           __i -> {{'pos': __i, 'q': CAST(TRUNC(v[__i] * {QUANT}) AS BIGINT)}})) AS u
    FROM e
  )
),
cellmeans AS (
  SELECT label, pos, CAST(SUM(q) // COUNT(*) AS BIGINT) AS mc
  FROM comps GROUP BY label, pos
),
rcomps AS (
  SELECT c.vec_id, c.label, c.pos, c.m, c.r, c.q - cm.mc AS rq
  FROM comps c JOIN cellmeans cm ON c.label = cm.label AND c.pos = cm.pos
),
seed_j AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j
  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {pq_k})
),
cb0 AS (
  SELECT m, r, j, rq AS qc FROM rcomps JOIN seed_j USING (vec_id)
){rounds},
codes AS (
  SELECT vec_id, m, min(struct_pack(d2 := d2, j := j)).j AS code
  FROM (
    SELECT rc.vec_id, rc.m, cb.j, SUM((rc.rq - cb.qc) * (rc.rq - cb.qc)) AS d2
    FROM rcomps rc JOIN {cbf} cb ON rc.m = cb.m AND rc.r = cb.r
    GROUP BY rc.vec_id, rc.m, cb.j
  ) GROUP BY vec_id, m
),
ccomps AS (
  SELECT label, u.pos AS pos, u.qv AS qv FROM (
    SELECT label, unnest(list_transform(range(1, len(v)+1),
           __i -> {{'pos': __i, 'qv': CAST(TRUNC(v[__i] * {QUANT}) AS BIGINT)}})) AS u
    FROM e
  )
),
centroids AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS c
  FROM (SELECT label, pos, SUM(qv) AS s FROM ccomps GROUP BY label, pos)
  GROUP BY label
),
q AS (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}),
best AS (
  SELECT c.label FROM centroids c CROSS JOIN q
  ORDER BY {cell_cos} DESC, c.label ASC LIMIT {NPROBE}
),
qlut AS (
  SELECT b.label AS lcell, cb.m AS lm, cb.j AS lj,
         SUM(((c.q - cm.mc) - cb.qc) * ((c.q - cm.mc) - cb.qc)) AS lut_d2
  FROM comps c CROSS JOIN best b
  JOIN cellmeans cm ON cm.label = b.label AND cm.pos = c.pos
  JOIN {cbf} cb ON cb.m = c.m AND cb.r = c.r
  WHERE c.vec_id = {QUERY_VEC_ID}
  GROUP BY b.label, cb.m, cb.j
),
cand AS (
  SELECT e.vec_id, e.label FROM e JOIN best USING (label)
  WHERE e.vec_id != {QUERY_VEC_ID}
)
SELECT cand.vec_id AS vec_id, cand.label AS label,
       CAST(SUM(qlut.lut_d2) AS BIGINT) AS pq_dist
FROM codes
JOIN cand ON codes.vec_id = cand.vec_id
JOIN qlut ON qlut.lcell = cand.label AND codes.m = qlut.lm AND codes.code = qlut.lj
GROUP BY cand.vec_id, cand.label
ORDER BY pq_dist ASC, vec_id ASC
LIMIT {TOP_K}
"""


# ----------------------------------------------------------- kNN classify

KNN_K = 5  # neighbors per query
KNN_QUERY_MOD = 10  # every 10th vector is a query (label withheld)
KNN_QUERY_BATCH = 1024  # labeling-batch bound (ordered, deterministic)


def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labeling over the embedding table (r12): every
    KNN_QUERY_MOD-th vector is treated as an unlabeled query and receives
    the majority label of its KNN_K nearest base vectors by cosine
    (frequency ties broken to the smallest label; score ties to the
    smallest neighbor id) — the semi-supervised label-propagation /
    auto-labeling primitive of a training-data pipeline, and the exact
    counterpart the IVF probes approximate.

    Plan shape: the query batch is a BROADCAST side against one scan of
    the base vectors, and it is bounded BY CONTRACT — an ordered
    limit(KNN_QUERY_BATCH) (deterministic: smallest query ids first, and
    a no-op at every gate SF, whose query counts sit far below the
    bound) that also makes the bound Catalyst-PROVABLE (logical maxRows),
    so the audit can assert the nested-loop product is |batch|·n —
    linear in the base, never quadratic. Per-vector norms are
    precomputed scan-side so the per-pair expression is the small
    unrolled dot product (functions/vectors.py — measured faster than
    the fold on pairwise joins), and top-k per query is a rank window
    over the bounded candidate stream. Majority election is the
    ev_mode_value STRUCT argmax (total-order key, no arithmetic
    encoding). 100 TB: exact scoring of a bounded labeling batch is the
    exactness anchor; the IVF/PQ family in this module is the scale path
    for unbounded query volumes."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v"), "label"
    )
    queries = (
        emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
        .orderBy("q_id")
        .limit(KNN_QUERY_BATCH)
    )
    base = emb.filter(F.col("vec_id") % KNN_QUERY_MOD != 0).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("v").alias("bv"),
        F.col("label").alias("nbr_label"),
    )
    return knn_vote(queries, base).orderBy("vec_id")


def knn_vote(queries: DataFrame, base: DataFrame, k: int = KNN_K) -> DataFrame:
    """The kNN scoring + majority-vote kernel shared by the gated query
    and the streaming increment (`knn_label_increment`): queries are
    (q_id, qv), base is (nbr_id, bv, nbr_label); returns one (vec_id,
    pred_label, votes) row per query. A query's label depends ONLY on
    the frozen base — queries never interact — so labeling is
    embarrassingly batch-decomposable (what the increment's stream ==
    batch pytest pins).

    Round-robin spread of the narrow base projection before the pair
    stage: the |queries|·n scoring otherwise runs on the scan's task
    count — ONE task on a single-row-group dev table (the
    sim_ivfpq_wide / mm_image_resize discipline). Interleaved A/B at
    sf0.1: 5.9 → 1.2 s; the shuffle ships only (id, vec, label) rows."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_from_norms, dot_unrolled, l2_norm

    par = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    queries = queries.withColumn("qnorm", l2_norm(F.col("qv")))
    base = base.repartition(par).withColumn("bnorm", l2_norm(F.col("bv")))
    scored = base.join(F.broadcast(queries)).select(
        "q_id",
        "nbr_id",
        "nbr_label",
        F.round(
            cosine_from_norms(
                dot_unrolled(F.col("qv"), F.col("bv")),
                F.col("qnorm"),
                F.col("bnorm"),
            ),
            6,
        ).alias("cos6"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos6"), F.asc("nbr_id"))
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    votes = topk.groupBy("q_id", "nbr_label").agg(F.count(F.lit(1)).alias("votes"))
    return (
        votes.groupBy("q_id")
        .agg(
            F.max(
                F.struct(F.col("votes"), (-F.col("nbr_label")).alias("neg_label"))
            ).alias("s")
        )
        .select(
            F.col("q_id").alias("vec_id"),
            (-F.col("s.neg_label")).cast("int").alias("pred_label"),
            F.col("s.votes").alias("votes"),
        )
    )


def knn_label_increment(new_vecs: DataFrame, base: DataFrame) -> DataFrame:
    """Auto-label a batch of ARRIVING vectors against a FROZEN labeled
    base (the entity_increment / containment_increment stream-static
    contract): new_vecs is (vec_id, embedding array<float|double>), base
    is (vec_id, embedding, label). Cost is |batch|·|base| exact scoring
    per micro-batch — the batch is the stream's natural bound, so the
    nested-loop product stays linear in the base. Because each label
    depends only on the base, incrementally labeling batches equals
    batch-labeling their union EXACTLY
    (`test_knn_increment_equals_batch`)."""
    q = new_vecs.select(
        F.col("vec_id").alias("q_id"), as_double_array("embedding").alias("qv")
    )
    b = base.select(
        F.col("vec_id").alias("nbr_id"),
        as_double_array("embedding").alias("bv"),
        F.col("label").alias("nbr_label"),
    )
    return knn_vote(q, b)


_KNN_COS = cosine_sql_duckdb("qv", "bv")
SIM_KNN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {KNN_QUERY_MOD} = 0
      ORDER BY q_id LIMIT {KNN_QUERY_BATCH}),
b AS (SELECT vec_id AS nbr_id, v AS bv, label AS nbr_label
      FROM e WHERE vec_id % {KNN_QUERY_MOD} != 0),
p AS (
  SELECT q_id, nbr_id, nbr_label,
         CAST(ROUND({_KNN_COS}, 6) AS DOUBLE) AS cos6
  FROM q CROSS JOIN b
), r AS (
  SELECT q_id, nbr_label,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, nbr_id) AS rn
  FROM p
), v AS (
  SELECT q_id, nbr_label, COUNT(*) AS votes
  FROM r WHERE rn <= {KNN_K} GROUP BY q_id, nbr_label
), el AS (
  SELECT q_id, nbr_label, votes,
         ROW_NUMBER() OVER (
           PARTITION BY q_id ORDER BY votes DESC, nbr_label ASC) AS pr
  FROM v
)
SELECT q_id AS vec_id, CAST(nbr_label AS INT) AS pred_label,
       CAST(votes AS BIGINT) AS votes
FROM el WHERE pr = 1 ORDER BY vec_id
"""


# ---------------------------------------- IVF index maintenance (r13)
# A 100 TB retrieval corpus grows between index rebuilds; the freshness
# path assigns ARRIVING vectors to the frozen coarse quantizer's cells
# and tracks how well they still fit it. The staleness metric is the
# per-cell drop between training-time fit (mean cosine of the cell's
# BASE members to their centroid — the quantizer's distortion on the
# data it was built from) and arrival-time fit (mean cosine of newly
# assigned vectors to that same frozen centroid): a growing drop is the
# rebuild-cadence signal IVF systems alert on. VERDICT r12 #5.

IVF_INCR_MOD = 5  # vec_id % 5 == 0 plays the "arriving" 20% in the gate
# The broadcast quantizer must fit an executor by IVF's own design (every
# assignment scores against all cells); the ordered limit makes that
# contract Catalyst-PROVABLE (logical maxRows), so the assignment's
# non-equi join is plan-audit-asserted bounded-batch instead of an
# unprovable cross join. The cap is a provable-bound NO-OP, not a
# sampling policy: `_assert_cell_cap` (ADVICE r13) raises if a quantizer
# ever actually exceeds it — silently assigning among the lowest-1024
# labels while base-side fits use all cells would leave the over-cap
# cells reporting n_new=0 forever, a quiet staleness-signal corruption
# both engines would agree on (so the oracle gate could not catch it).
IVF_CELL_CAP = 1024

# Verdicts keyed by (application id, canonicalized plan digest) — one
# bounded planning count per distinct quantizer plan per application,
# the injectivity-attestation memo discipline (operators/dedup.py).
_CELL_CAP_CACHE: dict[tuple[str, str], int] = {}
_CELL_CAP_CACHE_MAX = 64


def _assert_cell_cap(cents: DataFrame) -> None:
    """Planning-time attestation that the quantizer fits IVF_CELL_CAP.
    The count is bounded by limit(cap+1) — never data-sized — and
    memoized per (session, quantizer plan) so repeated executions of the
    same assignment query pay it once."""
    from ..data import plan_identity

    app_id = cents.sparkSession.sparkContext.applicationId
    key = (app_id, plan_identity(cents))
    n = _CELL_CAP_CACHE.get(key)
    if n is None:
        # distinct before the limit (ADVICE r14): the cap bounds CELLS,
        # not rows — a quantizer emitting duplicate label rows (e.g. an
        # upstream join fan-out) must not trip the assertion while its
        # distinct cells still fit
        n = cents.select("label").distinct().limit(IVF_CELL_CAP + 1).count()
        if len(_CELL_CAP_CACHE) >= _CELL_CAP_CACHE_MAX:
            _CELL_CAP_CACHE.clear()
        _CELL_CAP_CACHE[key] = n
    if n > IVF_CELL_CAP:
        raise ValueError(
            f"IVF quantizer exceeds IVF_CELL_CAP={IVF_CELL_CAP} cells: "
            "the ordered-limit bound would silently drop the highest "
            "labels from assignment while base-side fits keep them — "
            "raise the cap or shrink the quantizer"
        )


def _cos_ppm(v, c):
    """Cosine similarity in exact parts-per-million: FLOOR of the double
    product — deterministic across engines (no round-half ties), and the
    resulting BIGINTs sum exactly, so per-cell means are reproducible
    regardless of aggregation order."""
    return F.floor(cosine(v, c) * F.lit(1000000.0)).cast("long")


def ivf_assign_cells(new_emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, cos_ppm): nearest-frozen-centroid assignment for a
    batch of arriving vectors. The quantizer broadcasts under the
    IVF_CELL_CAP ordered limit (Catalyst-provable bounded-batch join —
    |batch|·|cells| work, linear in the batch); the argmax is a
    vec_id-partitioned window (never a global sort); ties break to the
    lowest cell id in both engines. Expects new_emb with (vec_id, v) and
    cents with (label, c). Raises if the quantizer exceeds the cap — the
    ordered limit is a provable bound, never a silent truncation."""
    from pyspark.sql import Window

    _assert_cell_cap(cents)
    capped = (
        cents.select(F.col("label").alias("cell"), "c")
        .orderBy("cell")
        .limit(IVF_CELL_CAP)
    )
    scored = new_emb.crossJoin(F.broadcast(capped)).select(
        "vec_id", "cell", cosine(F.col("v"), F.col("c")).alias("cs")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "cell",
            F.floor(F.col("cs") * F.lit(1000000.0)).cast("long").alias("cos_ppm"),
        )
    )


def ivf_staleness_report(base_sc: DataFrame, new_sc: DataFrame) -> DataFrame:
    """Per-cell staleness from per-row (cell, cos_ppm) fits: training-side
    means vs arrival-side means, and their drop. Cells no new vector
    landed in keep n_new=0 with NULL arrival stats (left join — the index
    defines the cell universe). Means are FLOOR(double quotient of exact
    BIGINT sums): identical floor semantics in both engines (Spark `div`
    truncates while DuckDB `//` floors, so neither is used on the
    possibly-negative sums)."""

    def mean_ppm(s, n):
        return F.floor(s.cast("double") / n).cast("long")

    base_agg = base_sc.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_base"), F.sum("cos_ppm").alias("s_base")
    )
    new_agg = new_sc.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_new"), F.sum("cos_ppm").alias("s_new")
    )
    base_mean = mean_ppm(F.col("s_base"), F.col("n_base"))
    new_mean = mean_ppm(F.col("s_new"), F.col("n_new"))
    return (
        base_agg.join(new_agg, "cell", "left")
        .select(
            "cell",
            "n_base",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            base_mean.alias("base_mean_cos_ppm"),
            new_mean.alias("new_mean_cos_ppm"),
            (base_mean - new_mean).alias("staleness_ppm"),
        )
        .orderBy("cell")
    )


def sim_ivf_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated batch rendering of IVF index maintenance: freeze a coarse
    quantizer on the BASE 80% of the embeddings (vec_id % 5 != 0), assign
    the ARRIVING 20% to its cells, and report per-cell staleness. The
    streaming twin (`streaming/pipeline.py attach_ivf_assign_stream` +
    `incremental_ivf_staleness`) accumulates the same assignments
    per-micro-batch with overwrite-partition idempotence; equality is
    pytest-proved (`test_incremental_ivf_staleness_equals_batch`)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    base = emb.filter(F.col("vec_id") % IVF_INCR_MOD != 0)
    new = emb.filter(F.col("vec_id") % IVF_INCR_MOD == 0)
    cents = build_ivf_centroids(base)
    base_sc = base.join(F.broadcast(cents), "label").select(
        F.col("label").alias("cell"),
        _cos_ppm(F.col("v"), F.col("c")).alias("cos_ppm"),
    )
    new_sc = ivf_assign_cells(new.select("vec_id", "v"), cents).select(
        "cell", "cos_ppm"
    )
    return ivf_staleness_report(base_sc, new_sc)


def _ivf_increment_sql() -> str:
    """DuckDB replay: same TRUNC-quantized centroid build over the base
    split, same FLOOR-ppm cosine fits, same window argmax assignment,
    same FLOOR-of-double-quotient means."""
    base_cos = cosine_sql_duckdb("b.v", "c.c")
    new_cos = cosine_sql_duckdb("n.v", "c.c")
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
base AS (SELECT * FROM e WHERE vec_id % {IVF_INCR_MOD} != 0),
newv AS (SELECT * FROM e WHERE vec_id % {IVF_INCR_MOD} = 0),
comps AS (
  SELECT label, u.pos AS pos, u.qv AS qv FROM (
    SELECT label, unnest(list_transform(range(1, len(v)+1),
           __i -> {{'pos': __i, 'qv': CAST(TRUNC(v[__i] * {QUANT}) AS BIGINT)}})) AS u
    FROM base
  )
),
centroids AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS c
  FROM (SELECT label, pos, SUM(qv) AS s FROM comps GROUP BY label, pos)
  GROUP BY label
),
base_sc AS (
  SELECT b.label AS cell,
         CAST(FLOOR({base_cos} * 1000000) AS BIGINT) AS cos_ppm
  FROM base b JOIN centroids c USING (label)
),
base_agg AS (
  SELECT cell, COUNT(*) AS n_base, SUM(cos_ppm) AS s_base
  FROM base_sc GROUP BY cell
),
capped AS (
  -- the SAME IVF_CELL_CAP ordered-limit contract the Spark assignment
  -- broadcasts under (ivf_assign_cells); an over-cap quantizer RAISES
  -- on the Spark side (_assert_cell_cap, ADVICE r13) rather than
  -- silently assigning among the lowest-label cells, so the limit here
  -- is a provable bound both engines agree is a no-op
  SELECT * FROM centroids ORDER BY label LIMIT {IVF_CELL_CAP}
),
scored AS (
  SELECT n.vec_id, c.label AS cell,
         CAST(FLOOR({new_cos} * 1000000) AS BIGINT) AS cos_ppm,
         ROW_NUMBER() OVER (
           PARTITION BY n.vec_id ORDER BY {new_cos} DESC, c.label ASC) AS rn
  FROM newv n CROSS JOIN capped c
),
new_agg AS (
  SELECT cell, COUNT(*) AS n_new, SUM(cos_ppm) AS s_new
  FROM scored WHERE rn = 1 GROUP BY cell
)
SELECT b.cell AS cell, b.n_base AS n_base,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
       CAST(FLOOR(CAST(b.s_base AS DOUBLE) / b.n_base) AS BIGINT)
         AS base_mean_cos_ppm,
       CAST(FLOOR(CAST(n.s_new AS DOUBLE) / n.n_new) AS BIGINT)
         AS new_mean_cos_ppm,
       CAST(FLOOR(CAST(b.s_base AS DOUBLE) / b.n_base) AS BIGINT)
         - CAST(FLOOR(CAST(n.s_new AS DOUBLE) / n.n_new) AS BIGINT)
         AS staleness_ppm
FROM base_agg b LEFT JOIN new_agg n USING (cell)
ORDER BY cell
"""


QUERIES = {
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_radius_search": sim_radius_search,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_multiprobe": sim_ivf_multiprobe,
    "sim_ivf_index_probe": sim_ivf_index_probe,
    "sim_pq_topk": sim_pq_topk,
    "sim_ivfpq_topk": sim_ivfpq_topk,
    "sim_ivfpq_residual_topk": sim_ivfpq_residual_topk,
    "sim_ivfpq_lloyd_topk": sim_ivfpq_lloyd_topk,
    "sim_ivfpq_wide_topk": sim_ivfpq_wide_topk,
    "sim_knn_classify": sim_knn_classify,
    "sim_ivf_increment": sim_ivf_increment,
    "sim_mips_topk": sim_mips_topk,
    "sim_mmr_topk": sim_mmr_topk,
}

ORACLE = {
    "sim_topk_bruteforce": SIM_TOPK_SQL,
    "sim_radius_search": SIM_RADIUS_SQL,
    "sim_ann_lsh": _ann_sql(),
    "sim_ivf_topk": _ivf_sql(),
    "sim_ivf_multiprobe": _ivf_sql(NPROBE),
    # the indexed probe is value-identical to multiprobe by construction
    "sim_ivf_index_probe": _ivf_sql(NPROBE),
    "sim_pq_topk": SIM_PQ_SQL,
    "sim_ivfpq_topk": _ivfpq_sql(),
    "sim_ivfpq_residual_topk": _ivfpq_residual_sql(),
    "sim_ivfpq_lloyd_topk": _ivfpq_residual_sql(PQ_LLOYD_ROUNDS),
    "sim_ivfpq_wide_topk": _ivfpq_residual_sql(pq_k=PQ_K_WIDE),
    "sim_knn_classify": SIM_KNN_SQL,
    "sim_ivf_increment": _ivf_increment_sql(),
    "sim_mips_topk": SIM_MIPS_SQL,
    "sim_mmr_topk": _mmr_sql(),
}
