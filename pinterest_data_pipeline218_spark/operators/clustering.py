"""K-means refinement over the embeddings table — engine-exact Lloyd
iterations for semantic data curation (cluster-then-sample/dedup is the
standard curation move on a 100 TB embedding corpus).

Determinism design (the hard part of making an ITERATIVE float algorithm
oracle-checkable): all arithmetic is integer.

- Components are truncated to a 2^-20 grid (the sim_ivf quantizer):
  qv = CAST(TRUNC(v * 2^20) AS BIGINT), identical in Spark and DuckDB.
- Distances are exact integer sums of squares: |qv| ≤ ~2^20, so a squared
  diff ≤ ~2^42 and a 64-dim sum ≤ ~2^48 — no overflow, no float order
  sensitivity.
- Centroid update is the FLOOR mean, computed as (S - posmod(S, n)) / n
  with posmod = ((S % n) + n) % n: both engines' `%` follows the dividend
  sign, so this yields the true floor for negative sums too, and the final
  division is exact (numerator divisible by n).
- Assignment ties break on cluster id via ROW_NUMBER ordered by (d2,
  cluster) — total order, deterministic under any partitioning.
- Rounds are UNROLLED (2 refinements + final assignment) so the DuckDB
  oracle replays the identical computation as chained CTEs.

Scale shape: comps is the posexploded (vec, dim, qv) stream — n·64 rows,
built once and reused every round. Each assignment joins comps against the
K·64-row centroid table (explicitly broadcast — K is a constant) and
map-side-combines the per-(vec, cluster) distance sums; each update is one
groupBy(cluster, dim) over comps semi-joined with the assignment. No
driver-side loops, no collect — the rounds are plan composition.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..data import literal_df, load_table, plan_identity, session_memo, shielded_sort
from ..functions.vectors import as_double_array

K_CLUSTERS = 8
KM_QUANT = 1 << 20
KM_ROUNDS = 2  # unrolled refinements (mirrored exactly in the oracle SQL)


def _qcomps(emb: DataFrame) -> DataFrame:
    """(vec_id, pos, qv): the quantized component stream. Deliberately NOT
    materialized behind its own exchange (r15): unlike the residual-PQ
    rcomps (scan + explode + aggregate + join per rebuild), this is one
    cheap posexplode off the scan — an A/B of a vec_id repartition here
    read ml_kmeans_refine 2.36 -> 2.79 s and dedup_semantic_kmeans
    4.70 -> 6.76 s, the extra wide exchange costing more than the
    rebuilds it saves."""
    return emb.select(
        "vec_id", F.posexplode(as_double_array("embedding")).alias("pos", "val")
    ).select("vec_id", "pos", (F.col("val") * KM_QUANT).cast("long").alias("qv"))


def _assign(comps: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per vector (exact integer L2², ties → lowest id).
    The rank-window argmin is deliberate (r15): a grouped min-struct is
    value-identical and map-side aggregable, but A/B'd 4.6 -> 11.2 s on
    dedup_semantic_kmeans (the window's exchange+sort is what the
    composed consumers' plans key their reuse off)."""
    diff = F.col("qv") - F.col("c")
    dists = (
        comps.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cluster")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cluster")
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cluster", "d2")
    )


def _update(comps: DataFrame, assign: DataFrame) -> DataFrame:
    """Floor-mean integer centroids from the current assignment. Clusters
    that lost every member simply vanish (standard empty-cluster drop)."""
    agg = (
        comps.join(assign.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "pos")
        .agg(F.sum("qv").alias("S"), F.count(F.lit(1)).alias("n"))
    )
    return agg.select(
        "cluster", "pos", F.expr("(S - ((S % n + n) % n)) div n").alias("c")
    )


# Trained k-means centroid values, memoized per emb plan (r16, the
# sim_ivfpq_lloyd_topk / BPE-merge-table discipline, guide §5). The
# unrolled 2-round formulation re-embedded every earlier round's
# assignment subtree in the final plan, and FOUR gated queries
# (ml_kmeans_refine, dedup_semantic_kmeans, ml_hard_negatives,
# ml_semantic_keepers) each re-derived the identical training per
# execution. The centroids are <= K_CLUSTERS·dim rows of small integers;
# the first build per session computes them from the parquet inputs via
# per-round jobs over ONE localCheckpointed component stream, numerically
# identical integer arithmetic round by round (the DuckDB oracle's chained
# CTEs are unchanged, gate stays bitwise).
_KM_CENT_SCHEMA = "cluster bigint, pos int, c bigint"


def _trained_centroids(
    emb: DataFrame, comps: DataFrame, rounds: int = KM_ROUNDS
) -> DataFrame:
    """Lloyd-refined centroids as a literal (cluster, pos, c) relation."""
    spark = emb.sparkSession
    key = (plan_identity(emb), rounds)

    def build():
        cps = comps.localCheckpoint()
        # Seed from the K lowest vec_ids BY RANK (TakeOrdered + broadcast),
        # not `vec_id < K` — on corpora whose ids aren't 0-based contiguous
        # the predicate form yields fewer (possibly zero) seeds and a
        # degenerate result the oracle can't catch (it replays the same
        # predicate).
        seeds = emb.select("vec_id").orderBy("vec_id").limit(K_CLUSTERS)
        rows = (
            cps.join(F.broadcast(seeds), "vec_id")
            .select(F.col("vec_id").alias("cluster"), "pos", F.col("qv").alias("c"))
            .collect()
        )
        got = [(r["cluster"], r["pos"], r["c"]) for r in rows]
        for _ in range(rounds):
            cent = spark.createDataFrame(got, _KM_CENT_SCHEMA)
            rows = _update(cps, _assign(cps, cent)).collect()
            got = [(r["cluster"], r["pos"], r["c"]) for r in rows]
        return got

    got = session_memo(spark, "kmeans_centroids", key, build)
    # a per-session STABLE relation object: a fresh createDataFrame per
    # call would change every consumer's plan digest per execution and
    # defeat the CC edge registry / CacheManager reuse (see data.literal_df)
    return literal_df(spark, key, got, _KM_CENT_SCHEMA)


def ml_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd refinements from a deterministic seed (the K lowest
    vec_ids), then the final assignment: (vec_id, cluster, d2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = _qcomps(emb)
    cent = _trained_centroids(emb, comps)
    return _assign(comps, cent).orderBy("vec_id")


def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: block the embedding near-dup search by
    the LEARNED k-means cluster (ml_kmeans_refine) instead of a given label
    — clustering feeding dedup, the composition a semantic-curation
    pipeline actually runs. Pair scoring reuses the salted blocked
    self-join and the norm-precomputed cosine from dedup_embedding_neardup;
    the assignment join is a unique-key hash join."""
    from .dedup import EMBEDDING_COSINE_THRESHOLD, _salted_block_pairs
    from ..functions.vectors import cosine_from_norms, dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    assign = ml_kmeans_refine(spark, sf_dir).select("vec_id", "cluster")
    e = emb.join(assign, "vec_id").withColumn("nrm", l2_norm(F.col("v")))
    pairs = _salted_block_pairs(
        e.select("vec_id", "cluster", "v", "nrm"), "cluster", "vec_id"
    )
    cos = cosine_from_norms(
        dot(F.col("v_a"), F.col("v_b")), F.col("nrm_a"), F.col("nrm_b")
    )
    out = pairs.select(
        "cluster",
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        F.round(cos, 6).cast("double").alias("cos_sim"),
    ).filter(F.col("cos_sim") >= EMBEDDING_COSINE_THRESHOLD)
    # shielded presentation sort (r15): the bare orderBy's range sampler
    # re-ran the salted pair join + cosine scoring (A/B 4.31 -> 3.71 s)
    return shielded_sort(out, "cluster", "vec_a", "vec_b")


NEG_K = 3  # hard negatives mined per anchor


def ml_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for every vector, the NEG_K most
    cosine-similar vectors with a DIFFERENT class label, searched only
    within the vector's learned k-means cluster — "hard" negatives are by
    definition the near-misses, and the near-misses live in the same coarse
    cell, so the cluster block bounds the quadratic search exactly where
    the candidates are (the same blocking argument as SemDeDup, here with
    the class-label inequality instead of a similarity threshold).

    Output: (anchor, anchor_label, negative, negative_label, cos_sim, rk)
    with rk 1..NEG_K per anchor — the training-pair table a contrastive
    fine-tune consumes.

    Scale shape: reuses dedup_semantic_kmeans' machinery end to end —
    integer-exact Lloyd assignment, salted blocked self-join
    (_salted_block_pairs), norm-precomputed cosine — then mirrors each
    undirected pair into both directions and ranks per anchor with a
    window PARTITIONED BY anchor (per-vector state, no global window)."""
    from .dedup import _salted_block_pairs
    from ..functions.vectors import cosine_from_norms, dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    assign = ml_kmeans_refine(spark, sf_dir).select("vec_id", "cluster")
    e = emb.join(assign, "vec_id").withColumn("nrm", l2_norm(F.col("v")))
    pairs = _salted_block_pairs(
        e.select("vec_id", "label", "cluster", "v", "nrm"), "cluster", "vec_id"
    ).filter(F.col("label_a") != F.col("label_b"))
    cos = cosine_from_norms(
        dot(F.col("v_a"), F.col("v_b")), F.col("nrm_a"), F.col("nrm_b")
    )
    scored = pairs.select(
        F.col("vec_id_a").alias("a"),
        F.col("label_a").alias("la"),
        F.col("vec_id_b").alias("b"),
        F.col("label_b").alias("lb"),
        F.round(cos, 6).cast("double").alias("cos_sim"),
    )
    # Mirror each undirected pair into both directions with ONE 2-element
    # explode instead of a self-referencing unionByName (r15, guide §2.4):
    # the union's branches each re-derived the whole scored-pair subtree
    # (kmeans assignment + salted block join + cosine) — exchange reuse
    # recovers most but not all of it; the explode emits both rows in one
    # pass and halves the plan. Row-identical (exceptAll both ways, pytest).
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("anchor"),
                    F.col("la").alias("anchor_label"),
                    F.col("b").alias("negative"),
                    F.col("lb").alias("negative_label"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("b").alias("anchor"),
                    F.col("lb").alias("anchor_label"),
                    F.col("a").alias("negative"),
                    F.col("la").alias("negative_label"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    w = Window.partitionBy("anchor").orderBy(F.desc("cos_sim"), F.asc("negative"))
    return (
        directed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NEG_K)
        .select(
            "anchor",
            "anchor_label",
            "negative",
            "negative_label",
            "cos_sim",
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("anchor", "rk")
    )


def _hard_negatives_sql() -> str:
    from ..functions.vectors import cosine_sql_duckdb

    cos = cosine_sql_duckdb("a.v", "b.v")
    return f"""WITH {_kmeans_ctes()},
e AS (
  SELECT e0.vec_id AS vec_id, e0.label AS label, afinal.cluster AS cluster,
         embedding::DOUBLE[] AS v
  FROM embeddings e0 JOIN afinal ON e0.vec_id = afinal.vec_id
),
p AS (
  SELECT a.vec_id AS anchor, a.label AS anchor_label,
         b.vec_id AS negative, b.label AS negative_label,
         CAST(ROUND({cos}, 6) AS DOUBLE) AS cos_sim
  FROM e a JOIN e b
    ON a.cluster = b.cluster AND a.vec_id != b.vec_id AND a.label != b.label
)
SELECT anchor, anchor_label, negative, negative_label, cos_sim, CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY anchor ORDER BY cos_sim DESC, negative ASC) AS rk
  FROM p
)
WHERE rk <= {NEG_K}
ORDER BY anchor, rk
"""


def _kmeans_ctes() -> str:
    def assign_cte(name: str, cent: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT vec_id, cluster, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
    FROM (
      SELECT comps.vec_id AS vec_id, {cent}.cluster AS cluster,
             CAST(SUM((qv - c) * (qv - c)) AS BIGINT) AS d2
      FROM comps JOIN {cent} ON comps.pos = {cent}.pos
      GROUP BY comps.vec_id, {cent}.cluster
    )
  ) WHERE rk = 1
)"""

    def update_cte(name: str, assign: str) -> str:
        return f"""{name} AS (
  SELECT cluster, pos, (S - ((S % n + n) % n)) // n AS c FROM (
    SELECT cluster, pos, CAST(SUM(qv) AS BIGINT) AS S, COUNT(*) AS n
    FROM comps JOIN {assign} USING (vec_id)
    GROUP BY cluster, pos
  )
)"""

    ctes = [
        f"""comps AS (
  SELECT vec_id, u.pos AS pos, u.qv AS qv FROM (
    SELECT vec_id, unnest(list_transform(range(1, len(embedding::DOUBLE[]) + 1),
           __i -> {{'pos': __i,
                    'qv': CAST(TRUNC(embedding[__i] * {KM_QUANT}) AS BIGINT)}})) AS u
    FROM embeddings
  )
)""",
        f"""cent0 AS (
  SELECT vec_id AS cluster, pos, qv AS c FROM comps
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {K_CLUSTERS})
)""",
    ]
    cent = "cent0"
    for r in range(1, KM_ROUNDS + 1):
        ctes.append(assign_cte(f"a{r}", cent))
        ctes.append(update_cte(f"c{r}", f"a{r}"))
        cent = f"c{r}"
    ctes.append(assign_cte("afinal", cent))
    return ",\n".join(ctes)


def _kmeans_sql() -> str:
    return f"""WITH {_kmeans_ctes()}
SELECT vec_id, cluster, d2 FROM afinal ORDER BY vec_id
"""


def _semantic_dedup_sql() -> str:
    from .dedup import EMBEDDING_COSINE_THRESHOLD
    from ..functions.vectors import cosine_sql_duckdb

    cos = cosine_sql_duckdb("a.v", "b.v")
    return f"""WITH {_kmeans_ctes()},
e AS (
  SELECT e0.vec_id AS vec_id, afinal.cluster AS cluster,
         embedding::DOUBLE[] AS v
  FROM embeddings e0 JOIN afinal ON e0.vec_id = afinal.vec_id
)
SELECT a.cluster AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(ROUND({cos}, 6) AS DOUBLE) AS cos_sim
FROM e a JOIN e b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE ROUND({cos}, 6) >= {EMBEDDING_COSINE_THRESHOLD}
ORDER BY cluster, vec_a, vec_b
"""


SEM_EDGE_CAP = 16  # learned clusters above this emit star edges, not pairs


def ml_semantic_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's actual DECISION output, bounded: one (vec_id, group_id,
    group_size, keep) row per vector, where groups are connected components
    of the within-cluster cosine near-dup graph and the keeper is the
    group's minimum vec_id. dedup_semantic_kmeans lists the pairs (its
    contract — measured 16.6× at the sf1 decade because true pairs grow
    quadratically in duplicate-cluster size); this is the label-consuming
    twin: learned clusters larger than {SEM_EDGE_CAP} contribute one
    verified star edge per member (member → cluster-min representative)
    instead of |cluster|² pairs, so the edge stream is O(cap·n) + O(n)
    and the output is |vectors| rows — the same per-bucket representative
    cap capped-CC and text_entity_ids use, with the same documented
    refinement trade (below the cap, groups provably equal the exhaustive
    graph's).

    100 TB shape: assignment is a unique-key hash join, the cap bounds
    within-cluster work however hot a semantic cluster gets, CC is the
    edges-only min-label loop, and nothing output-bound quadratic
    survives."""
    from .dedup import EMBEDDING_COSINE_THRESHOLD, connected_components
    from ..functions.vectors import cosine_from_norms, dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    assign = ml_kmeans_refine(spark, sf_dir).select("vec_id", "cluster")
    e = emb.join(assign, "vec_id").withColumn("nrm", l2_norm(F.col("v")))
    w = Window.partitionBy("cluster")
    sized = e.withColumn("bn", F.count(F.lit(1)).over(w)).withColumn(
        "rep", F.min("vec_id").over(w)
    )
    small = sized.filter(F.col("bn") <= SEM_EDGE_CAP)
    a, b = small.alias("a"), small.alias("b")
    exact = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("doc_a"),
        F.col("b.vec_id").alias("doc_b"),
        F.col("a.v").alias("v_a"),
        F.col("b.v").alias("v_b"),
        F.col("a.nrm").alias("nrm_a"),
        F.col("b.nrm").alias("nrm_b"),
    )
    reps = e.select(
        F.col("vec_id").alias("rep"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("nrm_a"),
    )
    star = (
        sized.filter((F.col("bn") > SEM_EDGE_CAP) & (F.col("vec_id") != F.col("rep")))
        .join(reps, "rep")
        .select(
            F.col("rep").alias("doc_a"),
            F.col("vec_id").alias("doc_b"),
            "v_a",
            F.col("v").alias("v_b"),
            "nrm_a",
            F.col("nrm").alias("nrm_b"),
        )
    )
    cos = cosine_from_norms(
        dot(F.col("v_a"), F.col("v_b")), F.col("nrm_a"), F.col("nrm_b")
    )
    pairs = (
        exact.unionByName(star)
        .filter(F.round(cos, 6) >= EMBEDDING_COSINE_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    labels = connected_components(nodes, pairs)
    return (
        labels.select(
            F.col("node").alias("vec_id"),
            F.col("label").alias("group_id"),
            F.count(F.lit(1)).over(Window.partitionBy("label")).alias("group_size"),
            (F.col("node") == F.col("label")).alias("keep"),
        )
        .orderBy("vec_id")
    )


def _semantic_keepers_sql() -> str:
    from .dedup import EMBEDDING_COSINE_THRESHOLD
    from ..functions.vectors import cosine_sql_duckdb

    cos = cosine_sql_duckdb("pc.v_a", "pc.v_b")
    return f"""WITH RECURSIVE {_kmeans_ctes()},
e AS (
  SELECT e0.vec_id AS vec_id, afinal.cluster AS cluster,
         embedding::DOUBLE[] AS v
  FROM embeddings e0 JOIN afinal ON e0.vec_id = afinal.vec_id
), sized AS (
  SELECT vec_id, cluster, v,
         COUNT(*) OVER (PARTITION BY cluster) AS bn,
         MIN(vec_id) OVER (PARTITION BY cluster) AS rep
  FROM e
), cand AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, a.v AS v_a, b.v AS v_b
  FROM sized a
  JOIN sized b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE a.bn <= {SEM_EDGE_CAP} AND b.bn <= {SEM_EDGE_CAP}
  UNION ALL
  SELECT s.rep, s.vec_id, r.v, s.v
  FROM sized s JOIN e r ON r.vec_id = s.rep
  WHERE s.bn > {SEM_EDGE_CAP} AND s.vec_id != s.rep
), pairs AS (
  SELECT doc_a, doc_b FROM cand pc
  WHERE ROUND({cos}, 6) >= {EMBEDDING_COSINE_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT ed.dst, r.label FROM reach r JOIN edges ed ON ed.src = r.node
  WHERE r.label < ed.dst
), cc AS (
  SELECT node AS vec_id, MIN(label) AS group_id FROM reach GROUP BY node
)
SELECT vec_id, group_id,
       COUNT(*) OVER (PARTITION BY group_id) AS group_size,
       vec_id = group_id AS keep
FROM cc ORDER BY vec_id
"""


QUERIES = {
    "ml_kmeans_refine": ml_kmeans_refine,
    "dedup_semantic_kmeans": dedup_semantic_kmeans,
    "ml_hard_negatives": ml_hard_negatives,
    "ml_semantic_keepers": ml_semantic_keepers,
}

ORACLE = {
    "ml_kmeans_refine": _kmeans_sql(),
    "dedup_semantic_kmeans": _semantic_dedup_sql(),
    "ml_hard_negatives": _hard_negatives_sql(),
    "ml_semantic_keepers": _semantic_keepers_sql(),
}
