"""Deduplication operators over the `documents` table.

The LLM-corpus dedup family (SURVEY.md build-plan extension): exact,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — plus embedding-cosine
near-dup (see similarity.py for the vector machinery).

Scale design (100 TB of documents):
- **Signatures are scan-local column expressions** (no explode, no Python):
  a document's minhash signature / simhash / fingerprint is computed by
  Catalyst higher-order functions pipelined into the parquet scan.
- **The only shuffles are the LSH band-bucket join** (keyed on (band_idx,
  band_key), i.e. candidate-generating, output ≪ |pairs|) and the final
  verify join, which touches candidate pairs only — this is the standard
  way MinHash-LSH avoids the O(n²) cross join.
- n-gram Jaccard here scopes pairs to a grouping key (`source`) — the
  blocked-pairs pattern; unblocked pairwise comparison is exactly what the
  MinHash path exists to avoid.

Determinism: token hashes are md5-derived 60-bit ints (functions/text.py),
identical in Spark and DuckDB, so every operator here is oracle-checkable.
"""

from __future__ import annotations

import functools
import operator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window

from ..data import load_table, plan_identity, session_memo, shielded_sort
from ..functions import text as T
from ..functions.vectors import (
    as_double_array,
    cosine_from_norms,
    cosine_sql_duckdb,
    dot,
    l2_norm,
)

NUM_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 rows
JACCARD_THRESHOLD = 0.5
EMBEDDING_COSINE_THRESHOLD = 0.25

# Cap for the COMPOSED consumers (corpus_build_full, dedup_cluster_best,
# merge triage, streaming admission): chosen above the max band-bucket size
# of the correctness-gate SFs (334 at sf0.001, 326 at sf0.01 — measured), so
# at gate scale every capped stream IS the exact candidate set and composed
# outputs are provably identical to the uncapped forms; at sf0.1 (5 buckets
# > 512) and beyond, the representative paths engage and bound the edge
# streams linearly. 512²/2 exact pairs per small bucket is the worst-case
# per-bucket work — fixed, not data-dependent. VERDICT r8 #1/#8.
CC_COMPOSED_EDGE_CAP = 512

# Universal-hash family for MinHash: one md5-derived 28-bit base hash per
# token, then NUM_HASHES affine transforms (a*h + b) mod p. This is the
# classic trick that makes the signature O(|tokens|) hash work instead of
# O(NUM_HASHES x |tokens|) — at 100 TB the md5 per token per seed was the
# dominant scan cost (it showed up even at sf0.1: 31s -> ~2s).
MINHASH_PRIME = 2_147_483_647
MINHASH_A = [1_299_721, 15_485_863, 32_452_843, 49_979_687, 67_867_967, 86_028_121, 104_395_301, 122_949_823]
MINHASH_B = [7, 15_485_867, 32_452_867, 49_979_693, 67_867_979, 86_028_157, 104_395_303, 122_949_829]


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest; keeper = min doc_id.
    One |distinct-digests|-sized shuffle with map-side partial agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keeper_doc_id
"""


def _with_signature(docs: DataFrame) -> DataFrame:
    """documents + distinct-token array + minhash signature columns h0..hJ.

    One md5 per token (28-bit base hash), then affine universal-hash
    transforms per seed — all scan-local column expressions. `source` rides
    along when present (the ngram-jaccard block key); minimal inputs
    (doc_id, text) — e.g. a micro-batch of streamed docs — work without
    it.

    Deliberately NOT pre-spread (unlike the r11 containment/ngram
    repartition move): measured at sf0.1, a round-robin repartition of
    the projection before the signature build does not improve any
    consumer (dedup_minhash_lsh 4.7→5.7 s, cluster_cc flat) — the
    signature is evaluated once per doc and the downstream band joins
    dominate, so the extra exchange only adds cost (and latency on the
    streaming micro-batch consumers)."""
    carry = ["doc_id"] + (["source"] if "source" in docs.columns else [])
    out = docs.select(
        *carry, T.distinct_tokens(F.col("text")).alias("dtoks")
    ).withColumn(
        "hs",
        # single-arg lambda — F.transform treats a 2nd param as the index
        F.transform(F.col("dtoks"), lambda t: T.token_hash(t, hex_chars=7)),
    )

    def affine(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_PRIME)

    for j in range(NUM_HASHES):
        out = out.withColumn(
            f"h{j}",
            F.array_min(F.transform(F.col("hs"), affine(MINHASH_A[j], MINHASH_B[j]))),
        )
    return out.drop("hs")


def _band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, bk0..bkB, band_idx, band_key): one exploded row per LSH band.

    One signature evaluation per doc — the band-key array is posexploded
    instead of unioning n_bands re-projections of the md5-heavy signature.
    The bk* columns ride along so a joined pair can be deduped to its lowest
    matching band without a pair-sized distinct (see _first_band_match)."""
    sig = _with_signature(docs)
    n_bands = NUM_HASHES // BAND_SIZE
    key_cols = [
        F.struct(
            *[F.col(f"h{b * BAND_SIZE + r}").alias(f"k{r}") for r in range(BAND_SIZE)]
        ).alias(f"bk{b}")
        for b in range(n_bands)
    ]
    return sig.select("doc_id", *key_cols).select(
        "doc_id",
        *[f"bk{b}" for b in range(n_bands)],
        F.posexplode(F.array(*[F.col(f"bk{b}") for b in range(n_bands)])).alias(
            "band_idx", "band_key"
        ),
    )


def _first_band_match() -> F.Column:
    """True iff the a-side row's band is the LOWEST band index the joined
    pair shares — a static codegen'd boolean over the carried bk* columns
    that emits each candidate pair exactly once, with zero extra shuffle."""
    n_bands = NUM_HASHES // BAND_SIZE
    return functools.reduce(
        operator.or_,
        [
            functools.reduce(
                operator.and_,
                [F.col("a.band_idx") == F.lit(i)]
                + [F.col(f"a.bk{j}") != F.col(f"b.bk{j}") for j in range(i)],
            )
            for i in range(n_bands)
        ],
    )


def _spread_docs(docs: DataFrame) -> DataFrame:
    """Round-robin spread of the narrow (doc_id, text) projection (r15):
    the md5-heavy signature/token-hash builds derived from a single-split
    parquet scan otherwise run INSIDE the one-task scan stage, serialized
    on one core. One round-robin exchange of the raw rows runs them on
    all cores, and — being an identical subtree — is shared by every
    consumer via AQE exchange reuse."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.select("doc_id", "text").repartition(par)


def _verify_sides(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(x, y) Jaccard-verify sides over ONE shared token-hash build: the
    doc_id hash exchange is an identical subtree for both sides, so AQE
    exchange reuse computes the md5 pass once (r15 — it previously ran
    once per side, inside the scan task)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    hset = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(T.distinct_tokens(F.col("text")), lambda t: T.token_hash(t))
        ).alias("hs"),
    ).repartition(par, "doc_id")
    x = hset.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("toks_a"))
    y = hset.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("toks_b"))
    return x, y


def _memo_plan(spark: SparkSession, key: tuple, build) -> DataFrame:
    """The lazy plan of a heavy pair-stream builder, built once per session:
    the LSH pipeline's hundreds of Column expressions cost ~0.7 s of py4j
    per build, and cluster_cc, cc_star and minhash_lsh share one plan.
    Returned as a fresh ``select("*")`` (see data.load_table):
    test_minhash_lsh_has_no_forced_corpus_broadcast flips
    autoBroadcastJoinThreshold and must see the plan re-planned."""
    return session_memo(spark, "builder_plan", key, build).select("*")


def _lsh_verified_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    key = ("lsh_verified", sf_dir, threshold)
    return _memo_plan(
        spark, key, lambda: _lsh_verified_pairs_build(spark, sf_dir, threshold)
    )


def _lsh_verified_pairs_build(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs at the given Jaccard threshold.

    shingle→minhash→band→bucket-join→verify: signatures per doc (scan-local),
    band keys from signature slices, candidates = docs sharing a band bucket,
    then exact Jaccard verification on candidates only.

    Scale design (the candidate set is the quadratic danger zone):
    - **Pair dedup without a pair-sized shuffle.** A pair sharing several band
      buckets must be emitted once; `distinct()` on the candidate pairs
      shuffles O(|candidate pairs|) rows. Instead each side carries its band
      keys and a pair is emitted only from its *lowest* matching band — a
      static codegen'd boolean over the carried keys, zero extra shuffle.
      (An `exists(sequence(...))` higher-order form of the same filter is
      interpreted per joined row: 20x slower at sf0.1.)
    - **No O(corpus) broadcasts.** Every join here is hint-free: the bands
      table and the token-hash sets grow linearly with the corpus, so a
      forced `F.broadcast` would OOM the driver at 100 TB. AQE picks a
      broadcast join at runtime while a side actually fits under the
      threshold (it does at test sf) and falls back to a shuffle join keyed
      on (band_idx, band_key) / doc_id at scale, with AQE skew-join
      splitting absorbing hot band buckets (huge near-dup clusters).
    - Verify joins rekey candidates by doc_id against the token-hash sets;
      only distinct pairs pay the exact Jaccard (computed as i/(|a|+|b|-i) —
      one array_intersect, no array_union materialization). Output is
      unordered: pair listings are set-semantics, a total sort of an
      O(pairs) result is wasted work.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Round-robin spread of the probe side: the parquet scan may be a
    # single small file (1 partition), but the bucket join *output* is the
    # quadratic candidate explosion — without this the whole explosion runs
    # in as many tasks as the scan has splits. Hot band buckets are also
    # spread instead of pinned to one task.
    par = spark.sparkContext.defaultParallelism * 4
    # Spread the narrow doc projection FIRST (r15): with the round-robin
    # exchange above the band table, the md5-heavy signature build ran
    # below it — i.e. inside the single-split scan stage, serialized on
    # one task. Spreading the (doc_id, text) rows first runs the one
    # shared signature pass across all cores; the same spread exchange
    # also feeds the verify-side token-hash build below.
    spread = _spread_docs(docs)
    # ONE band table, repartitioned once, aliased for both join sides: the
    # two sides' plan subtrees are then identical, so exchange reuse
    # (AQE/ReuseExchange) computes the md5-heavy signatures once instead of
    # twice — measured 26% off the whole query at sf0.1. The round-robin
    # spread serves both its original purposes (see comment above) on the
    # probe side and costs nothing extra on the build side since it is the
    # same exchange.
    bands = _band_table(spread).repartition(par)
    left = bands.alias("a")
    right = bands.alias("b")
    first_match = _first_band_match()
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    # verify over 60-bit md5 token hashes, not the token strings: fixed-width
    # long intersections run ~2x faster than variable-length string
    # intersections over the O(pairs) candidate stream, and both engines
    # derive identical hash sets (within-doc collisions are ~2^-52/pair and
    # would be identical cross-engine anyway)
    x, y = _verify_sides(spread)
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter / (F.size("toks_a") + F.size("toks_b") - inter)
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs at the standard 0.5 Jaccard threshold (see
    _lsh_verified_pairs for the full scale design)."""
    return _lsh_verified_pairs(spark, sf_dir, JACCARD_THRESHOLD)


# Stand-in for "today's ingest": every doc whose id hashes into this residue
# class (~10% of the corpus) plays the new batch; the rest is the corpus.
INCR_BATCH_MOD, INCR_BATCH_RESIDUE = 10, 7


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen a NEW batch against the EXISTING corpus.

    The production shape for continuous ingest — each new document is
    admitted or rejected by near-dup membership against the corpus WITHOUT
    re-pairing the corpus against itself. Candidates come from an
    *asymmetric* LSH band join (new-side bands ⋈ corpus-side bands), so the
    join output is O(|new| x avg-bucket-overlap), never O(corpus²); at
    100 TB the new side (a day's data) is orders of magnitude smaller than
    the corpus, and AQE broadcasts it at runtime — the corpus side streams
    through unshuffled. No broadcast hint: the batch size is an operational
    variable, not a compile-time constant.

    Output: one row per new doc — how many corpus near-dups it has at the
    0.5 Jaccard threshold and the best match score (NULL ⇔ novel document,
    kept via the left join so downstream can route admit/reject).
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_RESIDUE
    return incremental_matches(docs.filter(is_new), docs.filter(~is_new))


def incremental_matches(new: DataFrame, corpus: DataFrame) -> DataFrame:
    """DataFrame→DataFrame combinator behind dedup_incremental_lsh (also
    composed into corpus.merge_triage and, per micro-batch, onto document
    streams — the screen is stateless given the corpus side). Both inputs
    expect (doc_id, text); output one row per `new` doc:
    (doc_id, n_corpus_matches, best_jaccard)."""
    spark = new.sparkSession
    par = spark.sparkContext.defaultParallelism * 4
    left = _band_table(new).repartition(par).alias("a")
    right = _band_table(corpus).alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .filter(_first_band_match())
        .select(F.col("a.doc_id").alias("doc_new"), F.col("b.doc_id").alias("doc_corpus"))
    )

    def hset(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.array_distinct(
                F.transform(T.distinct_tokens(F.col("text")), lambda t: T.token_hash(t))
            ).alias("hs"),
        )

    x = hset(new).select(F.col("doc_id").alias("doc_new"), F.col("hs").alias("toks_a"))
    y = hset(corpus).select(
        F.col("doc_id").alias("doc_corpus"), F.col("hs").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = F.round(
        inter / (F.size("toks_a") + F.size("toks_b") - inter), 6
    ).cast("double")
    verified = (
        cand.join(x, "doc_new")
        .join(y, "doc_corpus")
        .select("doc_new", "doc_corpus", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    newdocs = new.select(F.col("doc_id").alias("doc_new"))
    return (
        newdocs.join(verified, "doc_new", "left")
        .groupBy("doc_new")
        .agg(
            F.count("doc_corpus").alias("n_corpus_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
        .select(
            F.col("doc_new").alias("doc_id"), "n_corpus_matches", "best_jaccard"
        )
        .orderBy("doc_id")
    )


def incremental_matches_capped(
    new: DataFrame, corpus: DataFrame, cap: int = CC_COMPOSED_EDGE_CAP
) -> DataFrame:
    """incremental_matches with a CAPPED corpus band side — the streaming
    twin of the capped-CC rewire (VERDICT r8 #8). A giant duplicate
    cluster in the CORPUS makes every co-bucketed new doc pair with all
    |bucket| corpus members, so per-micro-batch candidate work grows with
    corpus-cluster size; here each corpus band bucket contributes at most
    its `cap` lowest doc_ids (deterministic representatives), bounding the
    join at O(|new| · n_bands · cap) regardless of cluster growth.

    Semantics: identical to incremental_matches while every corpus bucket
    holds <= cap docs (the provable-equality regime — true at the gate
    SFs, pytest-pinned); above the cap, n_corpus_matches is a LOWER bound
    counted against representatives and best_jaccard ranges over them —
    the admission verdict (near-dup existence) keeps its recall because a
    bucket only exceeds the cap when it IS a near-dup cluster, and its
    lowest-id members are as matchable as any (the same representative-
    sampling trade capped_candidate_edges documents).

    Pair dedup is a plain distinct(): the capped candidate stream is
    bounded linear by construction, so the distinct shuffles
    O(|new|·n_bands·cap) rows — the first-band trick incremental_matches
    uses would DROP pairs here (a pair's first matching band may have had
    its corpus doc truncated out of that bucket while a later band kept
    it)."""
    spark = new.sparkSession
    par = spark.sparkContext.defaultParallelism * 4
    wb = Window.partitionBy("band_idx", "band_key").orderBy("doc_id")
    right = (
        _band_table(corpus)
        .select("doc_id", "band_idx", "band_key")
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= cap)
        .drop("rn")
        .alias("b")
    )
    left = (
        _band_table(new)
        .select("doc_id", "band_idx", "band_key")
        .repartition(par)
        .alias("a")
    )
    cand = (
        left.join(right, ["band_idx", "band_key"])
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_corpus"),
        )
        .distinct()
    )

    def hset(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.array_distinct(
                F.transform(T.distinct_tokens(F.col("text")), lambda t: T.token_hash(t))
            ).alias("hs"),
        )

    x = hset(new).select(F.col("doc_id").alias("doc_new"), F.col("hs").alias("toks_a"))
    y = hset(corpus).select(
        F.col("doc_id").alias("doc_corpus"), F.col("hs").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = F.round(
        inter / (F.size("toks_a") + F.size("toks_b") - inter), 6
    ).cast("double")
    verified = (
        cand.join(x, "doc_new")
        .join(y, "doc_corpus")
        .select("doc_new", "doc_corpus", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    newdocs = new.select(F.col("doc_id").alias("doc_new"))
    return (
        newdocs.join(verified, "doc_new", "left")
        .groupBy("doc_new")
        .agg(
            F.count("doc_corpus").alias("n_corpus_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
        .select(
            F.col("doc_new").alias("doc_id"), "n_corpus_matches", "best_jaccard"
        )
        .orderBy("doc_id")
    )


def _incremental_sql() -> str:
    return f"""
WITH {_minhash_cte_body()}, candi AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_corpus
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}
    AND b.doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_RESIDUE}
), verified AS (
  SELECT doc_new, doc_corpus, CAST({_VERIFIED_JACCARD} AS DOUBLE) AS jaccard
  FROM candi
  JOIN sig x ON candi.doc_new = x.doc_id
  JOIN sig y ON candi.doc_corpus = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id, COUNT(v.doc_corpus) AS n_corpus_matches, MAX(v.jaccard) AS best_jaccard
FROM (SELECT doc_id FROM documents
      WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}) d
LEFT JOIN verified v ON d.doc_id = v.doc_new
GROUP BY d.doc_id ORDER BY d.doc_id
"""


def _minhash_cte_body() -> str:
    """The shared DuckDB CTE chain base→hashed→sig→bands→cand (LSH candidate
    generation), composed into both the pair listing and the CC oracle."""
    hash_exprs = ",\n    ".join(
        f"list_aggregate(list_transform(hs, __x -> ({MINHASH_A[j]} * __x + {MINHASH_B[j]}) % {MINHASH_PRIME}), 'min') AS h{j}"
        for j in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // BAND_SIZE
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band_idx, md5({key}) AS band_key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"h{b * BAND_SIZE + r}::VARCHAR" for r in range(BAND_SIZE)
            ),
        )
        for b in range(n_bands)
    )
    return f"""base AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS dtoks FROM documents
), hashed AS (
  SELECT doc_id,
         list_transform(dtoks, __t -> ('0x' || substr(md5(__t), 1, 7))::BIGINT) AS hs,
         list_distinct(list_transform(dtoks,
             __t -> ('0x' || substr(md5(__t), 1, 15))::BIGINT)) AS hs60
  FROM base
), sig AS (
  SELECT doc_id, hs60,
    {hash_exprs}
  FROM hashed
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)"""


_VERIFIED_JACCARD = """ROUND(len(list_intersect(x.hs60, y.hs60))
      / CAST(len(x.hs60) + len(y.hs60) - len(list_intersect(x.hs60, y.hs60))
             AS DOUBLE), 6)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_cte_body()}
SELECT doc_a, doc_b,
       CAST({_VERIFIED_JACCARD} AS DOUBLE) AS jaccard
FROM cand
JOIN sig x ON cand.doc_a = x.doc_id
JOIN sig y ON cand.doc_b = y.doc_id
WHERE {_VERIFIED_JACCARD} >= {JACCARD_THRESHOLD}
"""


# ------------------ LSH calibration audit (staged r15, gates r16)
# The dedup family's analogue of sim_ivf_recall: the index-quality SLA as
# a first-class query. A MinHash signature estimates Jaccard as
# (matching components)/NUM_HASHES (Broder 1997 — each minhash matches
# with probability exactly J); this op measures, over the SAME candidate
# stream the production LSH dedup already pays to verify, how well that
# estimator tracks the exact token-set Jaccard: per signature-agreement
# level — pair count, the estimator's implied ppm, the mean TRUE Jaccard
# ppm, and the mean absolute estimation error ppm. A drifting tokenizer,
# a broken hash family, or a band-size change shows up here before it
# shows up as silent under/over-deduplication.
#
# Exactness: agreement counts and set sizes are integers; every ppm is an
# integer FLOOR division (i·10^6 div union, Σ div n) — no doubles
# anywhere. Scale shape: candidates come from the CAPPED edge stream
# (capped_candidate_edges at CC_COMPOSED_EDGE_CAP — exact pairs in
# below-cap buckets, star edges to the bucket rep above), because the
# calibration's OUTPUT is ≤ NUM_HASHES+1 rows and a 9-row report must
# not ride an unboundedly quadratic intermediate: uncapped, the decade
# measured 39× (94 s at sf1) purely from replicated-duplicate cliques;
# capped it is linear by construction, and at the correctness-gate SFs
# the cap exceeds every bucket so the gated values ARE the exact-path
# values. The rollup itself is one map-side-combinable aggregate.
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r15 (gates r16): per-agreement-level calibration of the
    MinHash Jaccard estimator against exact verification on the capped
    LSH candidate stream — (n_match, n_pairs, est_ppm, mean_true_ppm,
    mean_abs_err_ppm), all-integer."""
    docs = load_table(spark, sf_dir, "documents")
    cand = capped_candidate_edges(docs, cap=CC_COMPOSED_EDGE_CAP)
    sig = _with_signature(docs)
    prof = sig.select(
        "doc_id",
        F.array_distinct(
            F.transform("dtoks", lambda t: T.token_hash(t))
        ).alias("hs"),
        *[f"h{j}" for j in range(NUM_HASHES)],
    )
    x = prof.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        *[F.col(f"h{j}").alias(f"ha{j}") for j in range(NUM_HASHES)],
    )
    y = prof.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        *[F.col(f"h{j}").alias(f"hb{j}") for j in range(NUM_HASHES)],
    )
    n_match = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"ha{j}") == F.col(f"hb{j}"), 1).otherwise(0)
            for j in range(NUM_HASHES)
        ],
    ).cast("int")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    pairs = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            n_match.alias("n_match"),
            inter.alias("i"),
            F.size("hs_a").alias("sa"),
            F.size("hs_b").alias("sb"),
        )
        .select(
            "n_match",
            F.expr(
                "(CAST(i AS BIGINT) * 1000000) div (sa + sb - i)"
            ).alias("jac_ppm"),
        )
    )
    return (
        pairs.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(jac_ppm) div count(1)").cast("long").alias(
                "mean_true_ppm"
            ),
            F.expr(
                f"sum(abs(CAST((n_match * 1000000) div {NUM_HASHES} AS"
                " BIGINT) - jac_ppm)) div count(1)"
            )
            .cast("long")
            .alias("mean_abs_err_ppm"),
        )
        .select(
            "n_match",
            "n_pairs",
            F.expr(
                f"CAST((n_match * 1000000) div {NUM_HASHES} AS BIGINT)"
            ).alias("est_ppm"),
            "mean_true_ppm",
            "mean_abs_err_ppm",
        )
        .orderBy("n_match")
    )


def _lsh_calibration_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_lsh_calibration_matches_model_and_oracle; registers r16):
    the shared minhash CTE chain + the capped candidate CTE, per-pair
    agreement + exact-Jaccard ppm, then the per-level rollup."""
    agree = " + ".join(
        f"CASE WHEN x.h{j} = y.h{j} THEN 1 ELSE 0 END"
        for j in range(NUM_HASHES)
    )
    return f"""
WITH {_minhash_cte_body()},
{_capped_cand_cte(CC_COMPOSED_EDGE_CAP)},
pairsj AS (
  SELECT CAST(({agree}) AS INT) AS n_match,
         CAST(len(list_intersect(x.hs60, y.hs60)) * 1000000
              // (len(x.hs60) + len(y.hs60)
                  - len(list_intersect(x.hs60, y.hs60))) AS BIGINT)
           AS jac_ppm
  FROM allcand
  JOIN sig x ON allcand.doc_a = x.doc_id
  JOIN sig y ON allcand.doc_b = y.doc_id
)
SELECT n_match,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST((n_match * 1000000) // {NUM_HASHES} AS BIGINT) AS est_ppm,
       CAST(SUM(jac_ppm) // COUNT(*) AS BIGINT) AS mean_true_ppm,
       CAST(SUM(abs((n_match * 1000000) // {NUM_HASHES} - jac_ppm))
            // COUNT(*) AS BIGINT) AS mean_abs_err_ppm
FROM pairsj
GROUP BY n_match
ORDER BY n_match
"""


# CC runs on a *tight* near-dup threshold: transitive closure over a loose
# threshold chains everything into one blob (at 0.5 the sf0.01 graph is one
# ~450-doc component); 0.97 yields the realistic mix of singletons, pairs,
# and a few multi-hop clusters a dedup pipeline actually groups.
CC_JACCARD_THRESHOLD = 0.97
CC_MAX_ROUNDS = 20

def _loop_width(n_edges: int) -> int:
    """Shuffle width of a CC loop's rounds and partition count of its edge
    leaf: one partition per ~1M edges, purely state-derived (r16).

    Every round materializes on the AQE-less RDD path, so nothing coalesces
    a wide round after the fact: at the session's full width each round
    paid wide-stage scheduling regardless of data volume (1.3 s/round on a
    71k-edge graph), and the old defaultParallelism floor re-widened
    kilobyte states to one task per core (~0.3 s of scheduling per stage;
    a 35k-edge star round read 4.3 s at width 32 vs 1.9 s at width 1-4;
    scanning the 32-partition persisted union cost ~0.1 s per round).

    Callers cap it with the session's spark.sql.shuffle.partitions, the
    operator's scale knob; it binds only past conf x 1M edges. Measured at
    sf0.1, the largest CC edge set is 71,212 edges (dedup_cluster_cc):
    width 1. A session left at the 200-partition default runs a 10 B-edge
    loop at 200 partitions (~50 M edges each) until the conf is raised."""
    return n_edges // 1_000_000 + 1


def _registered_edges(
    edge_key: tuple | str, edges: DataFrame
) -> tuple[DataFrame, int]:
    """(leaf, n_edges): the relation a CC loop's rounds join against, from
    the session memo's edge registry under ``edge_key``. The edge count
    is stored with it: re-counting a cache-hit materialization cost a
    full job per consumer execution (~0.35 s at sf0.1).

    A miss materializes ``edges`` with persist + a SQL-path count, NOT a
    localCheckpoint: the RDD-path materialization skips AQE, so the
    swapped union branch lost exchange reuse and recomputed the full
    upstream a second time (measured 8.2 s vs 2.3 s for one pass at
    sf0.1). The persisted rows are then copied once into a coalesced
    localCheckpoint — the leaf — so a round plans against one small RDD
    scan instead of the full upstream lineage through the CacheManager.
    Cluster equivalent: persist(DISK_ONLY) + checkpoint().

    Deliberately never unpersisted except by eviction (r14, the VERDICT
    r13 #4 constant): the persist is plan-keyed in Spark's CacheManager,
    so a SIBLING consumer of the same pair stream (dedup_cluster_best and
    dedup_cluster_cc_capped both consume capped_verified_pairs at the
    same cap/threshold) reuses the materialized edges instead of
    re-paying the full LSH-verify pipeline, which was ~80% of
    dedup_cluster_best's per-rep cost (4.4 of 5.5 s at sf0.1). Same policy
    as the graph family's edge caches (f1228d5); growth is bounded by the
    oldest-out eviction, which unpersists."""

    def build():
        persisted = edges.persist()
        n_edges = persisted.count()
        leaf = persisted.coalesce(_loop_width(n_edges)).localCheckpoint()
        return persisted, n_edges, leaf

    _, n_edges, leaf = session_memo(
        edges.sparkSession,
        "edge_registry",
        edge_key,
        build,
        on_evict=lambda hit: hit[0].unpersist(),
    )
    return leaf, n_edges


def connected_components(
    nodes: DataFrame, pairs: DataFrame, edge_key: tuple | None = None
) -> DataFrame:
    """Min-label propagation over an undirected pair list.

    nodes: one column `node` (any orderable id); pairs: two columns naming
    the two endpoints (column names don't matter — positions do). Returns
    (node, label) where label = min node id in the connected component.
    See dedup_cluster_cc's docstring for the scale rationale.

    ``edge_key`` names the pair stream in the edge registry; by default it
    is the plan digest of the symmetric edge list (data.plan_identity). A
    caller that can name its stream cheaply passes its own key and skips
    the digest (~0.055 s per call on the LSH pairs)."""
    a, b = pairs.columns
    sym = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    spark = nodes.sparkSession
    if edge_key is None:
        edge_key = plan_identity(edges)
    edges, n_edges = _registered_edges(edge_key, edges)
    # Round 0's labels are a projection of the node scan: nothing to
    # materialize. Each round is ONE job — its localCheckpoint carries the
    # convergence probe as an Observation of the summed old and new labels
    # (decimal(38,0): no long overflow even at 10^10 nodes with 2^40-sized
    # ids). The left join keeps one row per node and new <= old on every
    # row, so equal sums <=> no label moved <=> converged.
    labels = nodes.select("node", F.col("node").alias("label"))
    shuffle_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(shuffle_key)
    try:
        width = min(int(old_parts), _loop_width(n_edges))
        spark.conf.set(shuffle_key, str(width))
        for _ in range(CC_MAX_ROUNDS):
            nmin = edges.join(labels, edges.src == labels.node).groupBy("dst").agg(
                F.min("label").alias("nlabel")
            )
            probe = Observation()
            labels = (
                labels.join(nmin, labels.node == nmin.dst, "left")
                .select(
                    "node",
                    F.col("label").alias("old"),
                    F.least(
                        F.col("label"), F.coalesce("nlabel", "label")
                    ).alias("label"),
                )
                .observe(
                    probe,
                    F.sum(F.col("old").cast("decimal(38,0)")).alias("old"),
                    F.sum(F.col("label").cast("decimal(38,0)")).alias("new"),
                )
                .select("node", "label")
                .localCheckpoint()
            )
            sums = probe.get
            if sums["old"] == sums["new"]:
                return labels
    finally:
        spark.conf.set(shuffle_key, old_parts)  # no session-level mutation
    # Round cap hit without converging: the graph has a long-diameter
    # component (min-label needs O(diameter) rounds). Hand off to the
    # alternating-star algorithm, which converges in O(log² n) rounds
    # regardless of diameter — correctness never silently degrades.
    return connected_components_star(nodes, edges)


STAR_MAX_ROUNDS = 40  # alternating-star is O(log² n): 40 covers any real n


def _canon_edges(pairs: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (hi, lo) with hi > lo, distinct, no
    self-loops. The distinct is per-round hygiene — star steps multiply
    emit the same edge, and carrying duplicates compounds each round."""
    a, b = pairs.columns
    return (
        pairs.select(
            F.greatest(F.col(a), F.col(b)).alias("hi"),
            F.least(F.col(a), F.col(b)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node links its LARGER neighbors to the minimum of
    its neighborhood (incl. itself). One shuffle (groupBy u) + one join.

    Output is already canonical BY CONSTRUCTION — m = min(neighborhood ∪
    {u}) <= u < v, so every row is (hi, lo) with hi > lo and no self-loop
    — and it is at most |edges| rows (exactly one per v > u direction of
    sym), so the r15 intermediate distinct bought nothing: duplicates
    cannot compound (only _small_star consumes this, its aggregates are
    duplicate-insensitive mins, and it ends in its own canon distinct).
    Dropping the distinct removes one full exchange per star round (r16;
    guide §2.4)."""
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node links its SMALLER neighbors (and itself) to
    the minimum of those neighbors. Input is already hi→lo directed."""
    m = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    joined = edges.join(m, "hi")
    return _canon_edges(
        joined.select(F.col("lo").alias("a"), F.col("m").alias("b")).union(
            joined.select(F.col("hi").alias("a"), F.col("m").alias("b"))
        )
    )


def connected_components_star(
    nodes: DataFrame, pairs: DataFrame, edge_key: tuple | None = None
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log² n) rounds independent of component diameter, where
    min-label propagation needs O(diameter). Same contract as
    `connected_components`: returns (node, label), label = component min.

    Each round is two codegen'd groupBy+join passes over the edge set, which
    SHRINKS toward one star edge per non-min node — unlike label
    propagation, whose per-round work stays O(|V|+|E|) for every round.
    Each round is one job: the edges localCheckpoint to break lineage
    (cluster equivalent: persist + checkpoint), and the convergence probe
    — a (count, hash-sum) of the round's edges — rides on that checkpoint
    as an Observation.

    ``edge_key``, when given by a caller that can name its pair stream
    cheaply (r16, VERDICT r15 #2): the INITIAL canonical edge set comes
    from the bounded edge registry under that key (_registered_edges;
    a cache-hit execution skips re-paying the upstream LSH-verify
    materialization). The r15 attempt at this cache keyed on
    plan_identity(edges) and LOST its A/B because digesting the huge LSH
    plan per call cost more than the rebuild; the caller-supplied key
    makes the lookup free."""
    spark = nodes.sparkSession
    if edge_key is not None:
        edges, n_edges = _registered_edges(edge_key, _canon_edges(pairs))
    else:
        size = Observation()
        edges = (
            _canon_edges(pairs)
            .observe(size, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        n_edges = size.get["n"]
    shuffle_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(shuffle_key)
    prev: tuple | None = None
    try:
        # the same scoped, state-derived loop width as connected_components
        width = min(int(old_parts), _loop_width(n_edges))
        spark.conf.set(shuffle_key, str(width))
        for _ in range(STAR_MAX_ROUNDS):
            probe = Observation()
            edges = (
                _small_star(_large_star(edges))
                .observe(
                    probe,
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(
                        F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")),
                        F.lit(0),
                    ).alias("s"),
                )
                .localCheckpoint()
            )
            row = probe.get
            cur = (row["n"], row["s"])
            if cur == prev:  # fixed point: every edge is (member → component min)
                break
            prev = cur
    finally:
        spark.conf.set(shuffle_key, old_parts)
    lab = edges.groupBy(F.col("hi").alias("node")).agg(F.min("lo").alias("label"))
    return nodes.join(lab, "node", "left").select(
        "node", F.coalesce("label", "node").alias("label")
    )


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the MinHash-LSH
    near-dup pair graph; cluster_id = min doc_id reachable (the canonical
    keeper), plus the cluster size.

    This is the step after pair identification that a corpus dedup actually
    needs — "A≈B and B≈C" must collapse A,B,C into ONE group even when A,C
    never co-occur in a band bucket.

    Scale design (iterative algorithms on Spark):
    - **Edges come from LSH candidates only** (no all-pairs scan): O(|pairs|)
      not O(n²), reusing the exact candidate machinery of dedup_minhash_lsh.
    - **Min-label propagation**: each round every node takes the min label
      among itself and its neighbors — one shuffle keyed on doc_id per round,
      all codegen'd join+agg; rounds = eccentricity of each component's min
      node (near-dup clusters are dense, so 2-3 rounds in practice; a long
      chain needs O(diameter) — for adversarial graphs switch to
      large-star/small-star, which bounds rounds at O(log n) with the same
      per-round join shape).
    - **localCheckpoint() per round** breaks the lineage chain — without it
      round k replans rounds 1..k-1 and the job graph grows quadratically.
      (On a cluster: `persist(DISK_ONLY)` + `checkpoint()` to survive
      executor loss; localCheckpoint is the single-JVM equivalent.)
    - **One job per round**: the convergence probe (summed old and new
      labels — new <= old per node, so equal sums ⇔ converged) rides on
      the round's checkpoint as an Observation; the label table itself
      never leaves the executors. Rounds join against a coalesced edge
      leaf from the edge registry, named by this caller (no plan digest).
    - Result is the exact min-reachable-id labeling — independent of
      iteration order, hence deterministic and oracle-checkable (DuckDB
      recursive CTE computes the same closure).
    """
    return _cluster_cc(spark, sf_dir, connected_components, "cc_edges")


def dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster_cc computed by the alternating large-star/small-star
    algorithm instead of min-label propagation — same contract, same
    oracle (both produce the exact min-reachable-id labeling), O(log² n)
    rounds regardless of component diameter. Gated separately so the star
    implementation carries its own full value-hash correctness check, not
    just the property tests."""
    return _cluster_cc(spark, sf_dir, connected_components_star, "star_edges")


def _cluster_cc(
    spark: SparkSession, sf_dir: str, cc_fn, edge_tag: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(spark, sf_dir, CC_JACCARD_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    # A CHEAP caller-named registry key (r16): re-paying the full
    # LSH-verify materialization per execution was the round-15 bench's
    # biggest row (7.7 s driver), and a plan_identity key cost the star
    # variant its r15 A/B. The tag keeps the two loops' edge formats apart.
    edge_key = (edge_tag, sf_dir, CC_JACCARD_THRESHOLD)
    labels = cc_fn(nodes, pairs, edge_key)
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.count(F.lit(1))
            .over(Window.partitionBy("label"))
            .alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def dedup_cluster_cc_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering with a LINEAR edge stream: each band-bucket
    member links only to the bucket's minimum doc_id (its representative)
    instead of to every co-bucketed doc — Σ|bucket| star edges in place of
    Σ|bucket|² candidate pairs. This is the lever the scaling study
    (BASELINE §2b) names for corpora with genuinely huge duplicate
    clusters, where exact pair LISTING is output-bound quadratic: here the
    per-cluster work is bounded by cluster size × n_bands no matter how
    big the cluster gets.

    Semantics: star edges are a SUBSET of the exact candidate pairs (rep
    and member share a bucket by construction) and run through the same
    Jaccard verification, so the resulting clustering is a REFINEMENT of
    dedup_cluster_cc's — it can split a cluster whose members are all
    near the representative-chain but never merges docs the exact version
    separates (pytest-proved). The standard large-corpus trade: dedup
    keeps one doc per cluster, and a split cluster merely keeps one doc
    per fragment."""
    docs = load_table(spark, sf_dir, "documents")
    # r15: spread the doc projection so the signature pass runs on all
    # cores (it previously serialized in the one-task scan stage), and key
    # the shared band-table exchange on the bucket so the reps aggregate,
    # its join, and the star filter all reuse ONE exchange with no further
    # shuffle (guide §2.4).
    spread = _spread_docs(docs)
    par = spark.sparkContext.defaultParallelism * 4
    bands = _band_table(spread).repartition(par, "band_idx", "band_key")
    reps = bands.groupBy("band_idx", "band_key").agg(F.min("doc_id").alias("rep"))
    star = (
        bands.join(reps, ["band_idx", "band_key"])
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    x, y = _verify_sides(spread)
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter / (F.size("toks_a") + F.size("toks_b") - inter)
    pairs = (
        star.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(F.round(jac, 6) >= CC_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, pairs)
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.count(F.lit(1))
            .over(Window.partitionBy("label"))
            .alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


CC_EDGE_CAP = 64  # buckets above this emit star edges, not all pairs


def capped_candidate_edges(docs: DataFrame, cap: int = CC_EDGE_CAP) -> DataFrame:
    """(doc_a, doc_b): the capped candidate edge stream — exact within-bucket
    pairs where the bucket holds <= cap docs, star edges (bucket-min rep →
    member) where it holds more. LINEAR bound: exact edges are
    <= cap · Σ|bucket| and star edges <= Σ|bucket|, so the stream is
    O(cap · n_bands · n) no matter how giant a duplicate cluster gets —
    the per-bucket representative-edge cap BASELINE §2b names as the last
    unbounded intermediate in the dedup family at 100 TB.

    Pair dedup here is a plain distinct(): unlike _lsh_verified_pairs'
    first-band trick (which avoids a pair-sized shuffle because the exact
    pair stream is output-bound quadratic), the capped stream is bounded
    linear by construction, so the distinct shuffles O(cap·n_bands·n) rows
    — and distinct-over-any-shared-small-bucket is the semantics a DuckDB
    oracle can replay exactly."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism * 4
    # r15: spread the doc projection first so the md5 signature pass runs
    # on all cores instead of inside the one-task scan stage.
    bands = _band_table(_spread_docs(docs)).select(
        "doc_id", "band_idx", "band_key"
    ).repartition(par, "band_idx", "band_key")
    sizes = bands.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_n"), F.min("doc_id").alias("rep")
    )
    sized = bands.join(sizes, ["band_idx", "band_key"])
    small = sized.filter(F.col("bucket_n") <= cap).select(
        "band_idx", "band_key", "doc_id"
    )
    exact = (
        small.alias("a")
        .join(
            small.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    star = (
        sized.filter(
            (F.col("bucket_n") > cap) & (F.col("doc_id") != F.col("rep"))
        )
        # rep = bucket min, so doc_a < doc_b holds here too
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return exact.union(star).distinct()


def capped_verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    cap: int = CC_COMPOSED_EDGE_CAP,
) -> DataFrame:
    key = ("capped_verified", sf_dir, threshold, cap)
    return _memo_plan(
        spark, key, lambda: _capped_verified_pairs_build(spark, sf_dir, threshold, cap)
    )


def _capped_verified_pairs_build(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    cap: int = CC_COMPOSED_EDGE_CAP,
) -> DataFrame:
    """Jaccard-verified near-dup pairs over the CAPPED candidate edge
    stream — the bounded-linear replacement for `_lsh_verified_pairs` in
    every consumer whose downstream is CC LABELS rather than the pair
    listing itself. Candidates come from `capped_candidate_edges` (exact
    within-bucket pairs below the cap, star edges to the bucket-min rep
    above it); verification is the same 60-bit token-hash Jaccard the
    exact path uses, so below-cap buckets produce byte-identical pairs.

    Scale: the candidate stream is O(cap · n_bands · n) by construction,
    so the verify join touches a linearly-bounded pair set no matter how
    giant a duplicate cluster grows — this is what turns the measured
    23.9×/45.3× sf1-decade growth of the pair-listing CC consumers into
    the capped form's 1.2–1.4×."""
    docs = load_table(spark, sf_dir, "documents")
    cand = capped_candidate_edges(docs, cap=cap)
    # r15: one shared token-hash build (the spread subtree is identical to
    # the one inside capped_candidate_edges, so AQE reuses that exchange
    # too — the whole query reads the raw docs shuffle once).
    x, y = _verify_sides(_spread_docs(docs))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter / (F.size("toks_a") + F.size("toks_b") - inter)
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(F.round(jac, 6) >= threshold)
        .select("doc_a", "doc_b")
    )


def _capped_cand_cte(cap: int) -> str:
    """DuckDB CTE fragment (bsz/exact_pairs/star/allcand) mirroring
    `capped_candidate_edges` at the given cap; composes after
    `_minhash_cte_body()` and replaces `cand` in capped-consumer oracles."""
    return f"""bsz AS (
  SELECT band_idx, band_key, COUNT(*) AS bucket_n, MIN(doc_id) AS rep
  FROM bands GROUP BY band_idx, band_key
), exact_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
  JOIN bsz s ON s.band_idx = a.band_idx AND s.band_key = a.band_key
  WHERE s.bucket_n <= {cap}
), star AS (
  SELECT DISTINCT s.rep AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN bsz s USING (band_idx, band_key)
  WHERE s.bucket_n > {cap} AND b.doc_id != s.rep
), allcand AS (
  SELECT doc_a, doc_b FROM exact_pairs
  UNION
  SELECT doc_a, doc_b FROM star
)"""


def dedup_cluster_cc_capped(
    spark: SparkSession, sf_dir: str, cap: int = CC_EDGE_CAP
) -> DataFrame:
    """dedup_cluster_cc with the per-bucket representative-edge cap: band
    buckets holding <= CC_EDGE_CAP docs contribute their exact verified
    pairs; bigger buckets contribute one verified star edge per member
    (member → bucket-min representative) instead of |bucket|² pairs.

    Guarantees:
    - **Edge stream is linear** (O(cap · n_bands · n)) — a corpus with a
      million-document duplicate cluster generates ~n_bands · 10⁶ edges,
      not 10¹²; the one unbounded intermediate VERDICT r6 #3 named is gone.
    - **Labels MATCH dedup_cluster_cc exactly while every bucket is below
      the cap** (then the capped stream IS the exact candidate set —
      pytest-proved at test scale, where the dev corpus satisfies the
      precondition). Above the cap, connectivity through a giant bucket
      routes via its representative: members whose rep-edge passes the
      same Jaccard verification stay merged; a member similar to other
      members but not to the rep can split off — the standard
      representative-sampling trade, and the reason the exact form remains
      the gated default at threshold-sensitive settings.
    Output contract is dedup_cluster_cc's: (doc_id, cluster_id,
    cluster_size), cluster_id = min reachable doc_id. The dev corpus has
    a 334-doc band bucket (one giant near-dup cluster), so the gated
    form exercises the star path at every test SF — the cap is not
    dead code waiting for 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = capped_verified_pairs(spark, sf_dir, CC_JACCARD_THRESHOLD, cap=cap)
    nodes = docs.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, pairs)
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.count(F.lit(1))
            .over(Window.partitionBy("label"))
            .alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def _cluster_cc_capped_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_cte_body()}, {_capped_cand_cte(CC_EDGE_CAP)}, pairs AS (
  SELECT doc_a, doc_b
  FROM allcand
  JOIN sig x ON allcand.doc_a = x.doc_id
  JOIN sig y ON allcand.doc_b = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {CC_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node WHERE r.label < e.dst
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cc ORDER BY doc_id
"""


# ------------------------------------------- cluster report (staged r14)
# The dedup ECONOMICS report a production run publishes: the cluster-size
# histogram over the capped-CC labels — how many clusters of each size,
# how many documents they hold, and how many are REMOVABLE (size − 1 per
# cluster: keep one member, drop the rest). This is the number that
# justifies the dedup pass (corpus shrink %) and the skew signal (one
# giant cluster vs many pairs); output is bounded by the count of
# DISTINCT sizes — planning-sized at any corpus scale.


def dedup_cluster_report(
    spark: SparkSession, sf_dir: str, cap: int = CC_EDGE_CAP
) -> DataFrame:
    """Staged r14 (gates r15): (cluster_size, n_clusters, n_docs,
    n_removable) from the capped-CC labels — two map-side-combinable
    rollups on top of the linear edge stream every composed consumer
    already uses."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = capped_verified_pairs(spark, sf_dir, CC_JACCARD_THRESHOLD, cap=cap)
    nodes = docs.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, pairs)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            F.sum(F.col("cluster_size") - 1).alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


def _cluster_report_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_cluster_report_oracle_agrees_cross_engine; registers r15): the
    capped-CC chain shared with _cluster_cc_capped_sql, finished by the
    size histogram instead of the per-doc listing."""
    return f"""
WITH RECURSIVE {_minhash_cte_body()}, {_capped_cand_cte(CC_EDGE_CAP)}, pairs AS (
  SELECT doc_a, doc_b
  FROM allcand
  JOIN sig x ON allcand.doc_a = x.doc_id
  JOIN sig y ON allcand.doc_b = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {CC_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node WHERE r.label < e.dst
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
), sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
)
SELECT cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


def _cluster_cc_bounded_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_cte_body()}, reps AS (
  SELECT band_idx, band_key, MIN(doc_id) AS rep FROM bands
  GROUP BY band_idx, band_key
), star AS (
  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN reps r USING (band_idx, band_key)
  WHERE b.doc_id != r.rep
), pairs AS (
  SELECT doc_a, doc_b
  FROM star
  JOIN sig x ON star.doc_a = x.doc_id
  JOIN sig y ON star.doc_b = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {CC_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node WHERE r.label < e.dst
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cc ORDER BY doc_id
"""


def _cluster_cc_sql() -> str:
    # min-reachable-id via transitive closure; the r.label < e.dst prune is
    # sound for a MIN (the component min m satisfies m < every other member,
    # so m still reaches all of them) and keeps the closure near-linear
    # instead of quadratic per component
    return f"""
WITH RECURSIVE {_minhash_cte_body()}, pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sig x ON cand.doc_a = x.doc_id
  JOIN sig y ON cand.doc_b = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {CC_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node WHERE r.label < e.dst
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cc ORDER BY doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from distinct-token hashes.

    Formulated for whole-stage codegen: explode the per-doc token-hash array
    and hash-aggregate 60 per-bit set-counts per doc_id (simple
    shiftright/AND sums — all codegen'd, map-side partial agg), then fold the
    counts into the fingerprint with a static 60-term majority expression
    (2*count_set > n_tokens  ⇔  sum over tokens of ±1 > 0).

    A scan-local nested higher-order `aggregate(sequence(0,59), aggregate(hs,
    ...))` avoids the explode+shuffle entirely but is *interpreted* per
    (bit, token) element — ~10x slower at sf0.1 than this explode +
    codegen'd-agg plan, whose shuffle is tiny (map-side combine reduces it to
    one 61-int row per doc per mapper).
    """
    docs = load_table(spark, sf_dir, "documents")
    # hash each distinct token ONCE (md5-derived 60-bit int, shared with the
    # DuckDB oracle), then count set bits per position
    # explode_outer: a NULL-text doc keeps its row (h NULL -> all bit counts
    # NULL -> simhash 0), matching the oracle; a plain explode would silently
    # drop the doc_id from the output
    # explode the NATIVE distinct-token array and hash per exploded row:
    # the md5 then runs as a codegen'd scalar, not inside an interpreted
    # transform lambda (token_hash(NULL) is NULL, preserving the
    # explode_outer NULL-doc contract)
    exploded = docs.select(
        "doc_id", F.explode_outer(T.distinct_tokens(F.col("text"))).alias("tok")
    ).select("doc_id", T.token_hash(F.col("tok")).alias("h"))
    # The 60 per-bit aggregates and the 60-term majority fold are built as
    # SQL-string expressions (r15): the Column-algebra form made ~500 py4j
    # round-trips per builder call — 1.55 s of pure driver time per bench
    # rep; F.expr parses JVM-side in one call each (build 1.55 -> 0.34 s,
    # whole query 2.41 -> 1.14 s median interleaved; plan and rows
    # identical).
    aggs = [F.expr("count(1) as n")] + [
        F.expr(f"sum(shiftright(h, {i}) & 1) as c{i}") for i in range(60)
    ]
    counts = exploded.groupBy("doc_id").agg(*aggs)
    majority = " + ".join(
        f"(case when c{i} * 2 > n then cast({1 << i} as bigint) else 0L end)"
        for i in range(60)
    )
    return counts.select(
        "doc_id", F.expr(f"({majority}) as simhash")
    ).orderBy("doc_id")


DEDUP_SIMHASH_SQL = """
WITH base AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dtoks FROM documents)
SELECT doc_id,
  list_reduce(list_transform(range(0, 60), __i ->
    CASE WHEN list_reduce(list_transform(dtoks, __t ->
           CASE WHEN ((('0x' || substr(md5(__t), 1, 15))::BIGINT >> __i) & 1) = 1
                THEN 1 ELSE -1 END), (__x, __y) -> __x + __y) > 0
         THEN (1::BIGINT << __i) ELSE 0::BIGINT END), (__x, __y) -> __x + __y) AS simhash
FROM base ORDER BY doc_id
"""


# Spread factor for blocked self-joins: a hot block's quadratic pair
# generation is split over this many join keys instead of pinning one task.
# Purely a parallelism knob — the emitted pair set is salt-invariant.
BLOCK_SALT = 16


def _salted_block_pairs(sh: DataFrame, block_col: str, id_col: str) -> DataFrame:
    """Self-join within blocks, salted for hot blocks.

    The blocked all-pairs join shuffles on the block key alone, so one huge
    block (quadratic pairs) pins a single task — and AQE's byte-based skew
    split never fires, because the *input* partition is small; only the join
    output is quadratic. Fix: key the b-side by (block, crc32(id) % SALT) and
    replicate the a-side SALT times, so the hot block's pair generation runs
    on SALT tasks. The replication is a scan-local explode (SALT x |docs|
    rows), trivially cheap next to the O(block²) pair stream it spreads.

    Returns columns: <block_col>, a.* as *_a, b.* as *_b (ids + payload).
    """
    payload = [c for c in sh.columns if c not in (block_col, id_col)]
    b = sh.select(
        F.col(block_col).alias("__blk_b"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(BLOCK_SALT)).alias("__chunk_b"),
        F.col(id_col).alias(f"{id_col}_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    a = sh.select(
        F.col(block_col),
        F.col(id_col).alias(f"{id_col}_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    ).withColumn("__chunk", F.explode(F.sequence(F.lit(0), F.lit(BLOCK_SALT - 1))))
    return a.join(
        b,
        (F.col(block_col) == F.col("__blk_b"))
        & (F.col("__chunk") == F.col("__chunk_b"))
        & (F.col(f"{id_col}_a") < F.col(f"{id_col}_b")),
    ).drop("__blk_b", "__chunk", "__chunk_b")


# dedup_ngram_jaccard's declared near-dup bar, as an exact rational (the
# prefix length and length filter are integer arithmetic on it) and the
# float both engines' final ROUND(j, 6) >= t filter uses. 1/2 matches the
# MinHash family's JACCARD_THRESHOLD.
NGRAM_T_NUM, NGRAM_T_DEN = 1, 2


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram (word-shingle) Jaccard near-duplicate pairs blocked by
    `source`, at threshold t = 1/2 — EXACT, via the PPJoin prefix filter
    (Xiao et al. 2008) over an inverted-index set-similarity join:

    1. each doc posts only its PREFIX — the first |sh| − ⌈t·|sh|⌉ + 1
       shingles (integer ceil: (n·1 + 1) div 2 for t=1/2) under a global
       total order of the shingle universe. The prefix-filter lemma
       guarantees every pair with J ≥ t shares a prefix shingle, so the
       candidate join sees half the postings and the below-threshold
       mass never materializes — the r10 form paid the full postings
       self-join and counted intersections for 56k pairs of which 7
       cleared t;
    2. candidates also pass the length filter t·|A| ≤ |B| ≤ |A|/t
       (cross-multiplied integers), then VERIFY exactly: join back both
       full shingle-string arrays and score one array_intersect per
       surviving pair. The threshold gate is the exact rational
       inter·den ≥ union·num (ADVICE r11) — never the rounded float, so
       the admitted set is precisely the J ≥ t set the prefix-filter
       lemma covers, at any corpus size.

    The order is LEXICOGRAPHIC, computed scan-side (array_sort + slice —
    zero extra passes). Any consistent total order is prefix-valid;
    rare-first (global df ascending) additionally pushes hot boilerplate
    shingles out of prefixes, but costs a postings⋈freq join plus a
    per-doc reassembly — measured 10.6 s vs 6.4 s lexicographic at sf0.1
    (both value-identical), so rare-first is the documented swap for a
    corpus with heavy shared boilerplate, not the default.

    Attested hash path (the r13-documented lever, taken r14 inside the
    rotation window): `_cont_hash_injective` — the containment family's
    corpus-level proof that the 60-bit shingle hash is collision-free on
    THIS corpus (same 3-gram universe: CONTAINMENT_N = 3, so the memo is
    shared) — lets the postings and the verify run on 8-byte longs
    instead of variable-length strings, the exact move that took
    containment_seeds 8.99→6.88 s. The prefix-filter lemma needs only A
    consistent total order of the shingle universe, not a specific one,
    so the hash-sorted prefix keeps full recall; under the proof every
    hash-array intersection EQUALS the string-set intersection, so the
    admitted pairs and their jaccard values are bit-identical to the
    string path (pytest-pinned both branches). On an attestation failure
    the string path runs unchanged — exactness is unconditional on every
    branch, with no 2^-60 caveat anywhere (ADVICE r10 stays closed).

    Scale: the thresholded contract is the operator a 100 TB pipeline
    actually runs (the unthresholded listing is quadratic OUTPUT by
    construction); prefix postings shuffle once, verification is
    per-candidate, and the docs scan is round-robin spread before the
    shingling compute (the single-row-group local fixture would
    otherwise serialize it; a multi-file cluster scan parallelizes
    naturally and AQE never coalesces an explicit repartition)."""
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Pre-filter docs that cannot produce a shingle (fewer than N tokens —
    # exactly `size(sh) == 0`, and split(NULL) sizes to -1, so this equals
    # the old post-shingle `n > 0` gate). The old gate was a filter on the
    # DERIVED shingle array: Catalyst pushed that whole md5-per-token
    # expression below the round-robin exchange into the SINGLE-TASK scan
    # stage, where it serialized a full shingle pass per branch (4x) just
    # to evaluate the predicate — measured ~5 s of one-task wall at sf0.1.
    # The token-count form pushes down as one cheap split() per row.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.size(F.split(F.col("text"), " ")) >= CONTAINMENT_N)
        .repartition(par)
    )
    base = _cont_shingle_strings(docs, "doc_id", "source")
    if _cont_hash_injective(base):
        # proof holds: sort the 60-bit hashes and run the whole PPJoin
        # (prefix postings, length filter, exact verify) over longs —
        # value-identical to the string path by the injectivity proof
        arr = F.array_sort(F.transform("shs", lambda g: T.token_hash(g)))
    else:
        arr = F.array_sort("shs")
    # ONE shingle build for all four consumers (prefix a-side, prefix
    # b-side, verify a-side, verify b-side): materialize the sorted
    # shingle arrays behind a doc_id hash exchange so AQE's exchange
    # reuse computes the md5-heavy sort ONCE and every branch re-reads
    # shuffle blocks — the _lsh_verified_pairs "one band table" move
    # (guide §2.4: two operations keyed the same way share one exchange).
    # `n` must be NON-NULLABLE (coalesce with a literal): the downstream
    # length-filter comparisons make Catalyst infer IsNotNull(n), and a
    # nullable n pushes that constraint — with n's whole md5-shingle
    # definition substituted in — below both exchanges into the
    # single-task scan stage (measured ~4 s of serialized wall at
    # sf0.1). Non-nullable folds the inferred IsNotNull to true. Value
    # is identical: sh is never NULL after the token-count pre-filter.
    sh = (
        base.select("doc_id", "source", arr.alias("sh"))
        .withColumn("n", F.coalesce(F.size("sh"), F.lit(0)))
        .repartition(par, "doc_id")
    )
    prefix_len = (
        F.col("n")
        - F.expr(f"(n * {NGRAM_T_NUM} + {NGRAM_T_DEN} - 1) div {NGRAM_T_DEN}")
        + 1
    ).cast("int")
    pre = sh.select(
        "doc_id",
        "source",
        "n",
        F.explode(F.slice(F.col("sh"), F.lit(1), prefix_len)).alias("g"),
    )
    a = pre.select(
        "source", "g",
        F.col("doc_id").alias("doc_a"), F.col("n").alias("pn_a"),
    )
    b = pre.select(
        F.col("source").alias("__src_b"), F.col("g").alias("__g_b"),
        F.col("doc_id").alias("doc_b"), F.col("n").alias("pn_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("source") == F.col("__src_b"))
            & (F.col("g") == F.col("__g_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            # length filter: t·|A| <= |B| <= |A|/t, cross-multiplied
            & (F.col("pn_b") * NGRAM_T_DEN >= F.col("pn_a") * NGRAM_T_NUM)
            & (F.col("pn_a") * NGRAM_T_DEN >= F.col("pn_b") * NGRAM_T_NUM),
        )
        .select("source", "doc_a", "doc_b")
        .distinct()
    )
    va = sh.select(
        "source", F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"), F.col("n").alias("n_a"),
    )
    vb = sh.select(
        "source", F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"), F.col("n").alias("n_b"),
    )
    # Threshold on the EXACT RATIONAL inter·den ≥ union·num, not the
    # rounded float (ADVICE r11): the prefix filter only guarantees recall
    # for true J ≥ t, so a pair with J ∈ [t − 5e-7, t) — which ROUND(j,6)
    # would admit — must be excluded by the gate in BOTH engines, or the
    # oracle's exhaustive scan could keep a pair the prefix filter prunes.
    # The displayed jaccard column stays the rounded double.
    return (
        cand.join(va, ["source", "doc_a"])
        .join(vb, ["source", "doc_b"])
        .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("__u", F.col("n_a") + F.col("n_b") - F.col("__i"))
        .filter(F.col("__i") * NGRAM_T_DEN >= F.col("__u") * NGRAM_T_NUM)
        .select(
            "source",
            "doc_a",
            "doc_b",
            F.round(F.try_divide(F.col("__i"), F.col("__u")), 6)
            .cast("double")
            .alias("jaccard"),
        )
        # shielded (r15): the bare sort's range sampler re-ran the whole
        # postings+verify segment above this point
        .transform(lambda d: shielded_sort(d, "source", "doc_a", "doc_b"))
    )


_SH = T.word_shingles_sql("string_split(text, ' ')", 3)
DEDUP_NGRAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, source, list_distinct({_SH}) AS s FROM documents
)
SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(ROUND(len(list_intersect(a.s, b.s))
            / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * {NGRAM_T_DEN}
      >= len(list_distinct(list_concat(a.s, b.s))) * {NGRAM_T_NUM}
ORDER BY source, doc_a, doc_b
"""


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by `label` (the coarse
    cluster standing in for an IVF cell at scale): pairwise cosine only
    within blocks, hot cells spread via the salted self-join.

    Pair-side cost engineering (the O(block²) stream is the hot path):
    each vector's L2 norm is computed ONCE scan-side and carried through the
    join (8 bytes/row), so a pair pays a single dot product instead of
    three — measured 12.4s → ~5.3s at sf0.1, and at scale it is a 3x cut of
    the quadratic term's FLOPs. Bit-identical to the inline cosine: same
    left-assoc addition order, same norm values."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        as_double_array("embedding").alias("v"),
    )
    emb = emb.withColumn("nrm", l2_norm(F.col("v")))
    pairs = _salted_block_pairs(emb, "label", "vec_id")
    cos = cosine_from_norms(
        dot(F.col("v_a"), F.col("v_b")), F.col("nrm_a"), F.col("nrm_b")
    )
    return (
        pairs.select(
            "label",
            F.col("vec_id_a").alias("vec_a"),
            F.col("vec_id_b").alias("vec_b"),
            F.round(cos, 6).cast("double").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= EMBEDDING_COSINE_THRESHOLD)
        # shielded (r15): the bare sort's range sampler re-ran the blocked
        # cosine pair stage above this point
        .transform(lambda d: shielded_sort(d, "label", "vec_a", "vec_b"))
    )


_COS = cosine_sql_duckdb("a.v", "b.v")
DEDUP_EMBEDDING_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(ROUND({_COS}, 6) AS DOUBLE) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND({_COS}, 6) >= {EMBEDDING_COSINE_THRESHOLD}
ORDER BY label, vec_a, vec_b
"""


def dedup_compact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the dedup: keep one document per exact-content group (the
    keeper = min doc_id) — the corpus-compaction step a training pipeline
    runs after identification. Implemented as groupBy-keeper + self semi
    join; the join is on doc_id (unique), so at scale it stays a hash
    lookup against the |keepers| set, and writing the output partitioned
    by source keeps downstream scans pruned."""
    docs = load_table(spark, sf_dir, "documents")
    keepers = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        docs.join(keepers, "doc_id", "left_semi")
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


DEDUP_COMPACT_SQL = """
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Asymmetric n-gram CONTAINMENT — the sub-document duplication screen.
# Jaccard misses subset relations by construction (a 20-shingle quote fully
# inside a 500-shingle page scores j ≈ 0.04); containment |A∩B|/|A| is the
# standard complement (Broder 1997's "containment", the measure behind
# quote/boilerplate/subset detection in crawl dedup). Scores are basis-point
# fixed-point integers, so the operator is oracle-exact.
CONTAINMENT_N = 3
CONTAINMENT_MIN_BP = 8000  # "sub-duplicate" flag: ≥80% of one side contained


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment for document pairs blocked by `source`:
    cont_a_bp = 10^4·|A∩B| div |A| (how much of A sits inside B) and the
    mirror, plus the sub-duplicate flag when either direction clears
    CONTAINMENT_MIN_BP. Emits the same candidate universe as
    dedup_ngram_jaccard (same blocking, same shingle sets, inter > 0), so
    the two screens compose: Jaccard finds near-equals, containment finds
    asymmetric engulfment Jaccard dilutes away.

    Scale shape: identical to dedup_ngram_jaccard — shuffle on (block key,
    salt chunk), hot blocks spread over BLOCK_SALT tasks
    (_salted_block_pairs), hashed shingle sets screen the quadratic stage
    and surviving pairs verify EXACTLY on the string sets (r12 — scores
    carry no hash step, so the output is unconditionally exact at any
    corpus size). At corpus scale the blocking key is the LSH band bucket
    instead of `source` — the same swap the minhash pipeline documents."""
    return containment_pairs(load_table(spark, sf_dir, "documents"))


def _cont_shingle_strings(docs: DataFrame, *keys: str) -> DataFrame:
    """(keys..., shs): the exact STRING shingle set per document. Post-r13
    scorers read these directly only when `_cont_hash_injective` FAILS to
    prove the 60-bit hash collision-free on the corpus (the attested hash
    path is exactly equal by the proof, so exactness is unconditional
    either way — VERDICT r11 #3's caveat stays retired, r12 #3's verify
    cost won back). The string sets also feed the attestation itself and
    containment_increment's branch-free streaming verify."""
    return docs.select(
        *keys,
        F.array_distinct(
            T.word_shingles(T.tokens(F.col("text")), CONTAINMENT_N)
        ).alias("shs"),
    )


def _cont_hashed(shs_df: DataFrame) -> DataFrame:
    """The 60-bit hashed rendering of the string shingle set, used for
    candidate screening and (when `_cont_hash_injective` attests) for the
    verify stage too: 8-byte longs keep the quadratic/pair stage ~2x
    cheaper than variable-length strings (measured r11), and a
    string-overlapping pair ALWAYS shares a hash (hashing is a function),
    so the screen is lossless for the exact contract. `shs` is dropped —
    the pair join must never ship string arrays speculatively."""
    return shs_df.withColumn(
        "sh", F.transform("shs", lambda g: T.token_hash(g))
    ).drop("shs")


def _cont_hash_injective(base: DataFrame) -> bool:
    """Corpus-level injectivity attestation for the 60-bit shingle hash:
    group the exploded (hash → string) shingle volume by hash and look
    for any hash carrying two distinct strings. Empty ⇒ token_hash is
    injective ON THIS CORPUS, so every hash-array intersection equals the
    string-set intersection EXACTLY (a proof, not a 2^-60 probability),
    and the verify stage may ship 8-byte longs instead of string arrays.
    Non-empty ⇒ callers keep the full string-set verify, so exactness
    holds unconditionally on every branch (filter-then-confirm at corpus
    granularity — VERDICT r12 #3's win-back of the r12 verify-port cost).
    One linear aggregation over the shingle volume (~6 s at sf0.1),
    memoized per corpus plan, the way an engine caches ANALYZE statistics
    per table version; the limit(1).collect() is bounded planning state
    (0 or 1 rows)."""

    def build():
        dup = (
            base.select(F.explode("shs").alias("g"))
            .select(T.token_hash(F.col("g")).alias("h"), "g")
            .groupBy("h")
            .agg(F.count_distinct("g").alias("n_strings"))
            .filter(F.col("n_strings") > 1)
        )
        return not dup.limit(1).collect()

    return session_memo(base.sparkSession, "injectivity", plan_identity(base), build)


def _cont_score_exact(sized: DataFrame, order_keys: list[str]) -> DataFrame:
    """Shared containment finisher over (.., n_sh_a, n_sh_b, n_common):
    basis-point integer divisions + the sub-duplicate flag."""
    ca = F.expr("(10000L * n_common) div n_sh_a")
    cb = F.expr("(10000L * n_common) div n_sh_b")
    drop = [c for c in ("n_sh_a", "n_sh_b") if c in sized.columns]
    scored = (
        sized.withColumn("cont_a_bp", ca)
        .withColumn("cont_b_bp", cb)
        .withColumn(
            "subdup", F.greatest(ca, cb) >= CONTAINMENT_MIN_BP
        )
        .drop(*drop)
    )
    # shielded (r15): the bare sort's range sampler re-ran the entire
    # candidate-join + array_intersect verify segment above this point
    # (broadcast joins add no exchange, so nothing shielded the sampler)
    return shielded_sort(scored, *order_keys)


def containment_pairs(docs: DataFrame) -> DataFrame:
    """DataFrame→DataFrame combinator behind dedup_containment; expects
    (doc_id, source, text)."""
    # Two-stage shape (the PPJoin discipline, ported r11 #3, cost won
    # back r13 per VERDICT r12 #3): the O(block²) pair stage intersects
    # 60-bit hashed shingles (8-byte longs, ~2x cheaper than strings).
    # When `_cont_hash_injective` PROVES the hash collision-free on this
    # corpus, that intersection IS the exact string-set intersection and
    # the pair stage scores directly — no string join-back at all. Only
    # on an attestation failure (an actual collision found) do surviving
    # pairs join back their STRING shingle sets and score over those, so
    # scores are exact on every branch.
    #
    # The shingle build is the CPU-heavy scan-side stage and the salted
    # self-join derives it on BOTH sides, so spread the narrow projection
    # first (the containment_pairs_seeds r11 move: a few-row-group scan
    # otherwise pins the whole tokenize+hash pass to the scan tasks).
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # Token-count pre-filter (value-identical: a doc with < N tokens has an
    # empty shingle set, so every pair it joins into fails n_common > 0) —
    # pushes to the scan as one cheap split() instead of letting the block
    # join fan out empty-shingle rows.
    docs = (
        docs.select("doc_id", "source", "text")
        .filter(F.size(F.split(F.col("text"), " ")) >= CONTAINMENT_N)
        .repartition(par)
    )
    base = _cont_shingle_strings(docs, "doc_id", "source")
    # ONE shingle build for both self-join sides: materialize the hashed
    # arrays behind a doc_id exchange so AQE exchange reuse computes the
    # md5-heavy transform once (guide §2.4) instead of once per side.
    hashed = _cont_hashed(base).repartition(par, "doc_id")
    pairs = _salted_block_pairs(hashed, "source", "doc_id")
    if _cont_hash_injective(base):
        sized = pairs.select(
            "source",
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.size("sh_a").alias("n_sh_a"),
            F.size("sh_b").alias("n_sh_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
        ).filter(F.col("n_common") > 0)
    else:
        screen = pairs.filter(
            F.size(F.array_intersect("sh_a", "sh_b")) > 0
        ).select(
            "source",
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
        )
        va = base.select(
            "source",
            F.col("doc_id").alias("doc_a"),
            F.col("shs").alias("str_a"),
        )
        vb = base.select(
            "source",
            F.col("doc_id").alias("doc_b"),
            F.col("shs").alias("str_b"),
        )
        n_common = F.size(F.array_intersect("str_a", "str_b"))
        sized = (
            screen.join(va, ["source", "doc_a"])
            .join(vb, ["source", "doc_b"])
            .select(
                "source",
                "doc_a",
                "doc_b",
                F.size("str_a").alias("n_sh_a"),
                F.size("str_b").alias("n_sh_b"),
                n_common.alias("n_common"),
            )
            .filter(F.col("n_common") > 0)
        )
    return _cont_score_exact(sized, ["source", "doc_a", "doc_b"]).select(
        "source", "doc_a", "doc_b", "n_common",
        "cont_a_bp", "cont_b_bp", "subdup",
    )


_CSH = T.word_shingles_sql("string_split(text, ' ')", CONTAINMENT_N)
_CSH_HASHED = f"list_transform({_CSH}, __g -> {T.token_hash_sql('__g')})"
DEDUP_CONTAINMENT_SQL = f"""
WITH sh AS (
  SELECT doc_id, source, list_distinct({_CSH}) AS s FROM documents
), sized AS (
  SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(a.s) AS n_sh_a, len(b.s) AS n_sh_b,
         len(list_intersect(a.s, b.s)) AS n_common
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) > 0
)
SELECT source, doc_a, doc_b, n_common,
       (10000 * n_common) // n_sh_a AS cont_a_bp,
       (10000 * n_common) // n_sh_b AS cont_b_bp,
       GREATEST((10000 * n_common) // n_sh_a,
                (10000 * n_common) // n_sh_b) >= {CONTAINMENT_MIN_BP} AS subdup
FROM sized
ORDER BY source, doc_a, doc_b
"""


def containment_pairs_lsh(docs: DataFrame) -> DataFrame:
    """The documented 100 TB blocking swap for dedup_containment: candidate
    pairs come from the minhash BAND BUCKETS (the exact machinery behind
    dedup_minhash_lsh — never all-pairs within a metadata block), then the
    same hashed-shingle containment scoring. Columns match
    containment_pairs minus `source` (bands span sources).

    The trade, stated plainly: minhash banding approximates JACCARD, so an
    engulfed-but-small document (high containment, low Jaccard — exactly
    the asymmetric case) can fall below the banding recall curve; the
    candidate generator real systems use for containment at scale is
    seed-chunk / suffix sampling, not symmetric minhash. This form is the
    right swap when containment runs BESIDE the near-dup screen on the
    same candidate stream (one banding pass feeds both scorers, which is
    how the pair machinery here composes); the exhaustive source-blocked
    form remains the within-block contract. Pytest proves score equality
    with the exhaustive form on every pair both emit."""
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bands = _band_table(docs).repartition(par)
    left, right = bands.alias("a"), bands.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(_first_band_match())
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    sh = _cont_shingle_strings(docs, "doc_id")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("str_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("str_b"))
    n_common = F.size(F.array_intersect("str_a", "str_b"))
    sized = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("str_a").alias("n_sh_a"),
            F.size("str_b").alias("n_sh_b"),
            n_common.alias("n_common"),
        )
        .filter(F.col("n_common") > 0)
    )
    return _cont_score_exact(sized, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "n_common", "cont_a_bp", "cont_b_bp", "subdup"
    )


def dedup_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection per near-dup cluster — the compaction
    policy a production dedup actually runs: within each connected
    component of the verified LSH pair graph, keep the HIGHEST-quality
    member (ties to the lowest doc_id), not the arbitrary minimum id.
    Quality is the corpus gate's score in fixed-point ppm (trunc of
    score*10^6 — the engine-exact convention), so keeper choice is
    deterministic and oracle-replayable. Output: one row per cluster
    (cluster_id, keeper_doc_id, keeper_q_ppm, n_members).

    Scale shape: the CC labeling is the existing min-label machinery
    over the CAPPED candidate edge stream (capped_verified_pairs at
    CC_COMPOSED_EDGE_CAP=512) — the consumer here is labels, never the
    pair listing, so the bounded-linear stream replaces the output-bound
    quadratic one (VERDICT r8 #1: the uncapped form measured 45.3× at the
    sf1 decade vs 1.2–1.4× capped; below the cap — all gate SFs — the
    streams are identical and labels provably match). Keeper election is
    ONE grouped min-struct over the |docs| label table — no window, no
    second pass over text (quality computes scan-side on the same read
    that feeds the signatures)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = capped_verified_pairs(spark, sf_dir, CC_JACCARD_THRESHOLD)
    nodes = docs.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, pairs)
    # NULL text scores NULL — coalesce to -1 so a NULL-quality member sorts
    # LAST deterministically in BOTH engines (struct comparison over a NULL
    # field is the one place Spark/DuckDB ordering could diverge)
    q_ppm = F.coalesce(
        (T.quality_score(T.tokens(F.col("text"))) * 1_000_000).cast("long"),
        F.lit(-1).cast("long"),
    )
    quality = docs.select(F.col("doc_id").alias("node"), q_ppm.alias("q_ppm"))
    return (
        labels.join(quality, "node")
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.min(
                F.struct(
                    (-F.col("q_ppm")).alias("nq"), F.col("node").alias("d")
                )
            ).alias("mn"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("mn.d").alias("keeper_doc_id"),
            (-F.col("mn.nq")).alias("keeper_q_ppm"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


def _cluster_best_sql() -> str:
    sw = T.stopword_ratio_sql("string_split(text, ' ')")
    atl = T.avg_token_len_sql("string_split(text, ' ')")
    quality = (
        f"(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {sw})"
        f" + 0.2 * least({atl} / 8.0, 1.0))"
    )
    return f"""
WITH RECURSIVE {_minhash_cte_body()}, {_capped_cand_cte(CC_COMPOSED_EDGE_CAP)}, pairs AS (
  SELECT doc_a, doc_b
  FROM allcand
  JOIN sig x ON allcand.doc_a = x.doc_id
  JOIN sig y ON allcand.doc_b = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {CC_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node WHERE r.label < e.dst
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
), q AS (
  SELECT doc_id,
         COALESCE(CAST(TRUNC({quality} * 1000000) AS BIGINT), -1) AS q_ppm
  FROM documents
)
SELECT cc.cluster_id,
       (min(struct_pack(nq := -q.q_ppm, d := cc.doc_id))).d AS keeper_doc_id,
       -((min(struct_pack(nq := -q.q_ppm, d := cc.doc_id))).nq) AS keeper_q_ppm,
       COUNT(*) AS n_members
FROM cc JOIN q ON cc.doc_id = q.doc_id
GROUP BY cc.cluster_id
ORDER BY cc.cluster_id
"""


CONTAINMENT_SEED_K = 8  # bottom-k seed shingles per document


def containment_pairs_seeds(
    docs: DataFrame, seed_k: int = CONTAINMENT_SEED_K, df_cap: int | None = None
) -> DataFrame:
    """The ASYMMETRIC containment candidate generator real systems use at
    scale — seed-shingle sampling — replacing both the all-pairs block
    screen and the symmetric minhash banding whose recall curve
    under-serves engulfed-SMALL documents (containment_pairs_lsh's
    documented trade).

    Mechanics: each document contributes its ``seed_k`` hash-smallest
    shingles as SEEDS (a bottom-k sketch — deterministic, and w.r.t. the
    hash order a uniform random k-subset of the doc's shingle set); every
    document's full shingle set is an inverted-index POSTING list; a
    candidate pair is any (seed owner, posting owner) sharing a shingle
    hash. If cont(A→B) = |A∩B| div |A| ≥ τ, the chance all k of A's seeds
    miss B is ≤ (1-τ)^k — at τ=0.8, k=8 that is 2.6e-6, so engulfment is
    caught regardless of how LARGE B is (the case Jaccard banding dilutes
    away: a 20-shingle quote inside a 500-shingle page has j≈0.04 but
    cont≈1.0). Candidates are then scored EXACTLY over the string shingle
    sets (the shared _cont_score_exact stage, r12 — no hash anywhere in a
    score), so scores are equal on every pair any generator emits
    (pytest-proved).

    Scale shape: seeds are n·k rows; postings are the distinct-shingle
    volume (the same explode the minhash signature pass already pays); the
    candidate join is a hash equi-join on the shingle value whose output is
    bounded by seed-posting co-occurrence — never all-pairs, never
    quadratic in a block. The one adversarial input is a STOPWORD-heavy
    shingle present in a large fraction of the corpus (its posting list
    multiplies every seed occurrence): ``df_cap`` drops postings whose
    document frequency exceeds the cap before the join — the standard
    stopword-posting cut, one extra (hash)-keyed grouped count. The gated
    form runs df_cap=None so the oracle stays a 4-CTE replay.

    The shingle build (tokenize + hash per doc) is the CPU-heavy scan-side
    stage and every consumer re-derives from it, so the narrow doc
    projection is round-robin repartitioned first: on a few-row-group scan
    the whole shingle pass otherwise pins to the scan tasks (measured 2x
    at sf0.1; correctness-neutral, the downstream joins shuffle on their
    own keys)."""
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # Token-count pre-filter (value-identical: a doc with < N tokens has an
    # empty shingle set — no seeds, no postings, and as a verify side it
    # can never appear in `cand`), pushed to the scan as one cheap split().
    docs = (
        docs.select("doc_id", "text")
        .filter(F.size(F.split(F.col("text"), " ")) >= CONTAINMENT_N)
        .repartition(par)
    )
    base = _cont_shingle_strings(docs, "doc_id")
    # candidate generation is hash-ORDER-dependent by design (bottom-k of
    # the hash-sorted shingles = a uniform random k-subset), identical in
    # both engines; SCORES are exact on every branch — over the hash
    # arrays when `_cont_hash_injective` proves them collision-free on
    # this corpus (the r13 win-back of the r12 string-port cost, VERDICT
    # r12 #3), over the string sets otherwise.
    # ONE shingle build for all four consumers (seeds, postings, verify a,
    # verify b): materialize the hashed arrays behind a doc_id exchange so
    # AQE exchange reuse computes the md5-heavy transform once (guide §2.4)
    # instead of once per branch — measured 4 parallel rebuilds at sf0.1.
    sh = _cont_hashed(base).repartition(par, "doc_id")
    # explode_outer + null-drop instead of explode (r15): plain explode
    # makes Spark insert an implicit `size(arr) > 0` pre-filter, and
    # predicate pushdown carries that filter — with the whole md5-shingle
    # expression substituted in — through BOTH exchanges into the
    # single-task scan stage. The outer form needs no pre-filter; the
    # IsNotNull(h) lands ABOVE the Generate, on the already-materialized
    # rows. Row-identical: explode skips empty arrays, explode_outer emits
    # one NULL row for them and the filter drops it.
    seeds = sh.select(
        "doc_id",
        F.explode_outer(F.slice(F.array_sort("sh"), 1, seed_k)).alias("h"),
    ).filter(F.col("h").isNotNull())
    postings = sh.select(
        F.col("doc_id").alias("p_doc"), F.explode_outer("sh").alias("h")
    ).filter(F.col("h").isNotNull())
    if df_cap is not None:
        keep = (
            postings.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("h")
        )
        postings = postings.join(keep, "h")
    cand = (
        seeds.join(postings, "h")
        .filter(F.col("doc_id") != F.col("p_doc"))
        .select(
            F.least("doc_id", "p_doc").alias("doc_a"),
            F.greatest("doc_id", "p_doc").alias("doc_b"),
        )
        .distinct()
    )
    if _cont_hash_injective(base):
        a = sh.select(
            F.col("doc_id").alias("doc_a"), F.col("sh").alias("str_a")
        )
        b = sh.select(
            F.col("doc_id").alias("doc_b"), F.col("sh").alias("str_b")
        )
    else:
        a = base.select(
            F.col("doc_id").alias("doc_a"), F.col("shs").alias("str_a")
        )
        b = base.select(
            F.col("doc_id").alias("doc_b"), F.col("shs").alias("str_b")
        )
    n_common = F.size(F.array_intersect("str_a", "str_b"))
    sized = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("str_a").alias("n_sh_a"),
            F.size("str_b").alias("n_sh_b"),
            n_common.alias("n_common"),
        )
        .filter(F.col("n_common") > 0)
    )
    return _cont_score_exact(sized, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "n_common", "cont_a_bp", "cont_b_bp", "subdup"
    )


def dedup_containment_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering of the seed-shingle containment screen (the 100 TB
    candidate-generation shape) over the documents table."""
    return containment_pairs_seeds(load_table(spark, sf_dir, "documents"))


def containment_increment(
    new_docs: DataFrame,
    corpus: DataFrame,
    seed_k: int = CONTAINMENT_SEED_K,
    df_cap: int | None = None,
) -> DataFrame:
    """Incremental containment triage: screen a batch of NEW documents
    against an existing corpus for sub-document duplication, in BOTH
    directions — a new doc engulfed by a corpus doc (quote/boilerplate
    ingestion) AND a new doc that engulfs a corpus doc (a superset page
    re-crawled). Candidates come from two asymmetric seed joins:
    new-side seeds x corpus postings catches new⊆corpus, corpus-side
    seeds x new postings catches corpus⊆new; each has the (1-tau)^k miss
    bound on its own direction. This is the per-micro-batch composition
    (dedup_incremental_lsh's contract for the containment measure): cost
    scales with |new| x posting hit rates, never with |corpus|² —
    corpus-side seeds/postings are derivable once and reusable across
    batches. Emits (doc_new, doc_corpus, n_common, cont_new_bp,
    cont_corpus_bp, subdup); stream-static equality is pytest-proved
    (`test_stream_containment_increment_equals_batch`)."""

    base_new = _cont_shingle_strings(new_docs, "doc_id")
    base_corpus = _cont_shingle_strings(corpus, "doc_id")
    sh_new, sh_corpus = _cont_hashed(base_new), _cont_hashed(base_corpus)

    def seeds_of(sh: DataFrame) -> DataFrame:
        return sh.select(
            "doc_id", F.explode(F.slice(F.array_sort("sh"), 1, seed_k)).alias("h")
        )

    def postings_of(sh: DataFrame) -> DataFrame:
        p = sh.select(F.col("doc_id").alias("p_doc"), F.explode("sh").alias("h"))
        if df_cap is not None:
            keep = (
                p.groupBy("h")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= df_cap)
                .select("h")
            )
            p = p.join(keep, "h")
        return p

    fwd = seeds_of(sh_new).join(postings_of(sh_corpus), "h").select(
        F.col("doc_id").alias("doc_new"), F.col("p_doc").alias("doc_corpus")
    )
    rev = (
        seeds_of(sh_corpus)
        .select(F.col("doc_id").alias("__corpus_doc"), "h")
        .join(postings_of(sh_new), "h")
        .select(
            F.col("p_doc").alias("doc_new"), F.col("__corpus_doc").alias("doc_corpus")
        )
    )
    cand = fwd.unionAll(rev).distinct()
    a = base_new.select(
        F.col("doc_id").alias("doc_new"), F.col("shs").alias("str_a")
    )
    b = base_corpus.select(
        F.col("doc_id").alias("doc_corpus"), F.col("shs").alias("str_b")
    )
    n_common = F.size(F.array_intersect("str_a", "str_b"))
    sized = (
        cand.join(a, "doc_new")
        .join(b, "doc_corpus")
        .select(
            "doc_new",
            "doc_corpus",
            F.size("str_a").alias("n_sh_a"),
            F.size("str_b").alias("n_sh_b"),
            n_common.alias("n_common"),
        )
        .filter(F.col("n_common") > 0)
    )
    return (
        _cont_score_exact(sized, ["doc_new", "doc_corpus"])
        .withColumnsRenamed(
            {"cont_a_bp": "cont_new_bp", "cont_b_bp": "cont_corpus_bp"}
        )
        .select(
            "doc_new", "doc_corpus", "n_common",
            "cont_new_bp", "cont_corpus_bp", "subdup",
        )
    )


DEDUP_CONTAINMENT_SEEDS_SQL = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({_CSH_HASHED}) AS s FROM documents
), shs AS (
  SELECT doc_id, list_distinct({_CSH}) AS s FROM documents
), seeds AS (
  SELECT doc_id, unnest(list_sort(s)[1:{CONTAINMENT_SEED_K}]) AS h FROM sh
), postings AS (
  SELECT doc_id AS p_doc, unnest(s) AS h FROM sh
), cand AS (
  SELECT DISTINCT LEAST(se.doc_id, p.p_doc) AS doc_a,
         GREATEST(se.doc_id, p.p_doc) AS doc_b
  FROM seeds se JOIN postings p USING (h)
  WHERE se.doc_id != p.p_doc
), sized AS (
  -- candidates are hash-order-dependent by design (bottom-k seeds);
  -- SCORES are exact over the string shingle sets (r12)
  SELECT c.doc_a, c.doc_b, len(a.s) AS n_sh_a, len(b.s) AS n_sh_b,
         len(list_intersect(a.s, b.s)) AS n_common
  FROM cand c JOIN shs a ON c.doc_a = a.doc_id JOIN shs b ON c.doc_b = b.doc_id
  WHERE len(list_intersect(a.s, b.s)) > 0
)
SELECT doc_a, doc_b, n_common,
       (10000 * n_common) // n_sh_a AS cont_a_bp,
       (10000 * n_common) // n_sh_b AS cont_b_bp,
       GREATEST((10000 * n_common) // n_sh_a,
                (10000 * n_common) // n_sh_b) >= {CONTAINMENT_MIN_BP} AS subdup
FROM sized
ORDER BY doc_a, doc_b
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_cluster_cc_star": dedup_cluster_cc_star,
    "dedup_cluster_cc_bounded": dedup_cluster_cc_bounded,
    "dedup_cluster_cc_capped": dedup_cluster_cc_capped,
    "dedup_incremental_lsh": dedup_incremental_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_neardup": dedup_embedding_neardup,
    "dedup_compact_corpus": dedup_compact_corpus,
    "dedup_containment": dedup_containment,
    "dedup_containment_seeds": dedup_containment_seeds,
    "dedup_cluster_best": dedup_cluster_best,
    "dedup_cluster_report": dedup_cluster_report,
}

ORACLE = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_cluster_cc": _cluster_cc_sql(),
    "dedup_cluster_cc_star": _cluster_cc_sql(),
    "dedup_cluster_cc_bounded": _cluster_cc_bounded_sql(),
    "dedup_cluster_cc_capped": _cluster_cc_capped_sql(),
    "dedup_incremental_lsh": _incremental_sql(),
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_embedding_neardup": DEDUP_EMBEDDING_SQL,
    "dedup_compact_corpus": DEDUP_COMPACT_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_containment_seeds": DEDUP_CONTAINMENT_SEEDS_SQL,
    "dedup_cluster_best": _cluster_best_sql(),
    "dedup_cluster_report": _cluster_report_sql(),
}
