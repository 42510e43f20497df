"""Text-analysis operators over the `documents` table.

Each operator is a (spark, sf_dir) -> DataFrame callable plus a DuckDB oracle
string. All per-document computation is scan-local column expression work
(functions/text.py) — at 100 TB these pipeline into the parquet scan with no
shuffle; only the final order/top-k aggregates exchange data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..data import load_table, plan_identity, session_memo, shielded_sort
from ..functions import text as T


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: total/distinct tokens, char length, type-token ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    return shielded_sort(
        docs.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            F.length("text").alias("n_chars_computed"),
            F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6)
            .cast("double")
            .alias("ttr"),
        ),
        "doc_id",
    )


TEXT_TOKEN_STATS_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       length(text) AS n_chars_computed,
       CAST(ROUND(len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS DOUBLE) AS ttr
FROM documents ORDER BY doc_id
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio, mean token length, and a
    combined score — the pretraining-corpus filtering primitive."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    sw = T.stopword_ratio(toks)
    atl = T.avg_token_len(toks)
    # No rounding: the score is emitted as the raw double. Both engines
    # evaluate the identical left-associated expression tree over identical
    # inputs, so the result is bit-deterministic; rounding would *introduce*
    # divergence at exact decimal ties (Spark rounds the decimal string
    # HALF_UP, DuckDB rounds the scaled binary).
    score = T.quality_score(toks)
    out = docs.select(
        "doc_id",
        F.round(sw, 6).cast("double").alias("stopword_ratio"),
        F.round(atl, 6).cast("double").alias("avg_token_len"),
        score.cast("double").alias("quality_score"),
    )
    return shielded_sort(out, "doc_id")


_SW = T.stopword_ratio_sql("string_split(text, ' ')")
_ATL = T.avg_token_len_sql("string_split(text, ' ')")
TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(ROUND({_SW}, 6) AS DOUBLE) AS stopword_ratio,
       CAST(ROUND({_ATL}, 6) AS DOUBLE) AS avg_token_len,
       CAST(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
          + 0.3 * (1.0 - {_SW})
          + 0.2 * least({_ATL} / 8.0, 1.0) AS DOUBLE) AS quality_score
FROM documents ORDER BY doc_id
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-based language ID heuristic (n-gram-family heuristic over a
    known-language stopword set; engine-neutral so it is oracle-checkable)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    en_ratio = T.stopword_ratio(toks)
    return docs.select(
        "doc_id",
        F.round(en_ratio, 6).cast("double").alias("en_ratio"),
        F.when(en_ratio > 0.02, F.lit("en")).otherwise(F.lit("unknown")).alias("lang_guess"),
    ).orderBy("doc_id")


TEXT_LANGID_SQL = f"""
SELECT doc_id,
       CAST(ROUND({_SW}, 6) AS DOUBLE) AS en_ratio,
       CASE WHEN {_SW} > 0.02 THEN 'en' ELSE 'unknown' END AS lang_guess
FROM documents ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# TRAINED char-trigram language ID (supersedes the stopword-ratio rendering
# above, which is English-centric by construction). The classic n-gram
# profile method (Cavnar & Trenkle 1994, "N-Gram-Based Text
# Categorization"), built the text_bpe_tokens way: the model is TRAINED
# inside the engine from a small labeled fixture (profile table = the
# state), training is deterministic and replayed verbatim by the DuckDB
# oracle, and scoring is scan-side trigram explode + one broadcast join —
# fixed-point ppm weights, no floats.
LANGID_TRAIN: dict[str, list[str]] = {
    "en": [
        "the quick brown fox jumps over the lazy dog",
        "where there is a will there is a way",
        "the weather today is cold and the wind blows from the north",
        "she said that they would come to the house in the morning",
        "this is the thing that we wanted to show you",
        "a bird in the hand is worth two in the bush",
        "what you see is what you get with this one",
        "children play in the park when the sun shines",
    ],
    "de": [
        "der schnelle braune fuchs springt ueber den faulen hund",
        "wo ein wille ist da ist auch ein weg",
        "das wetter ist heute kalt und der wind weht aus dem norden",
        "sie sagte dass sie morgen frueh zu dem haus kommen wuerden",
        "das ist genau das was wir euch zeigen wollten",
        "ein vogel in der hand ist besser als zwei im busch",
        "die kinder spielen im park wenn die sonne scheint",
        "ich weiss nicht was soll es bedeuten dass ich so traurig bin",
    ],
    "fr": [
        "le rapide renard brun saute par dessus le chien paresseux",
        "quand on veut on peut dit le proverbe ancien",
        "le temps est froid aujourd hui et le vent souffle du nord",
        "elle a dit qu ils viendraient a la maison demain matin",
        "c est exactement ce que nous voulions vous montrer",
        "un oiseau dans la main vaut mieux que deux dans le buisson",
        "les enfants jouent dans le parc quand le soleil brille",
        "je ne sais pas ce que cela veut dire",
    ],
    "es": [
        "el rapido zorro marron salta sobre el perro perezoso",
        "querer es poder dice el viejo refran popular",
        "el tiempo esta frio hoy y el viento sopla del norte",
        "ella dijo que vendrian a la casa manana por la manana",
        "esto es exactamente lo que queriamos mostrarles hoy",
        "mas vale pajaro en mano que ciento volando",
        "los ninos juegan en el parque cuando brilla el sol",
        "no se lo que quiere decir todo esto",
    ],
    "zh": [  # romanized (pinyin) profile — the fixture's zh register
        "wo men jin tian qu gong yuan san bu ba",
        "ta shuo ming tian zao shang lai wo jia",
        "zhe jiu shi wo men xiang gei ni kan de dong xi",
        "tian qi hen leng feng cong bei bian chui lai",
        "hai zi men zai gong yuan li wan shua tai yang hen hao",
        "yi niao zai shou sheng guo liang niao zai lin",
        "ni kan dao de jiu shi ni de dao de",
        "wo bu zhi dao zhe shi shen me yi si",
    ],
}

LANGID_PPM = 1_000_000


def char_trigrams(c: F.Column) -> F.Column:
    """Overlapping character 3-grams of lower(c) — scan-local. Texts
    shorter than 3 chars yield the empty array (guarded explicitly:
    Spark's sequence(1, 0) would otherwise DESCEND and emit phantom
    positions)."""
    t = F.lower(c)
    return F.when(
        F.length(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: t.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def langid_fixture_df(spark: SparkSession) -> DataFrame:
    rows = [(lang, s) for lang, sents in LANGID_TRAIN.items() for s in sents]
    return spark.createDataFrame(rows, "lang string, sent string")


def train_langid_profiles(fixture: DataFrame) -> DataFrame:
    """(lang, g, w_ppm): per-language trigram frequency profile in
    fixed-point parts-per-million (trunc division — engine-exact). The
    profile is the MODEL: a few hundred rows of query-planning-scale state
    that broadcasts into every scoring join."""
    grams = fixture.select(
        "lang", F.explode(char_trigrams(F.col("sent"))).alias("g")
    )
    counts = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
    totals = grams.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # |langs| rows: broadcast explicitly so the static plan is already
    # right (AQE would convert the SMJ at runtime; the hint removes the
    # conversion and the planned exchange — tools/plan_audit.py evidence)
    return counts.join(F.broadcast(totals), "lang").select(
        "lang", "g", F.expr(f"({LANGID_PPM}L * c) div n").alias("w_ppm")
    )


def langid_classify(docs: DataFrame, profiles: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, score_ppm): evidence score per language = sum of
    profile weights over the document's trigram OCCURRENCES; argmax with
    ties to the lexicographically smallest language (the min-struct idiom).
    Documents matching no profile trigram (empty/NULL text) classify as
    'und' with score 0. One scan-side explode + one broadcast join + two
    partial-agg groupBys — no shuffle carries more than (doc, lang) rows.

    The corpus-side trigram build explodes POSITIONS first and slices with
    a plain codegen'd substring per exploded row (measured 2x over the
    interpreted per-element transform-lambda form), and ROUND-ROBIN
    repartitions the narrow (doc_id, text) projection ahead of the explode
    — the scoring join's other side is a broadcast model, so round-robin
    is correct, and without it a few-row-group scan pins the whole
    explode+join pipeline to its scan tasks (measured 5x on the
    single-row-group dev tables; on a real many-file corpus the scan
    itself provides the parallelism)."""
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    t = F.lower(F.col("text"))
    dg = (
        docs.select("doc_id", t.alias("__t"))
        .filter(F.length("__t") >= 3)  # sequence(1, 0) would descend
        .repartition(par)
        .select(
            "doc_id",
            "__t",
            F.explode(F.sequence(F.lit(1), F.length("__t") - 2)).alias("__i"),
        )
        .select("doc_id", F.expr("substring(__t, __i, 3)").alias("g"))
    )
    scores = (
        dg.join(F.broadcast(profiles), "g")
        .groupBy("doc_id", "lang")
        .agg(F.sum("w_ppm").alias("score"))
    )
    best = (
        scores.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("lang").alias("lg"))
            ).alias("mn")
        )
        .select(
            "doc_id",
            F.col("mn.lg").alias("pred_lang"),
            (-F.col("mn.ns")).alias("score_ppm"),
        )
    )
    # best is bounded by |docs-with-matches|; at dev scale it broadcasts
    # and at corpus scale the left join shuffles on doc_id either way —
    # leave it hint-free (AQE policy) and only the final projection here
    return docs.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
        F.coalesce("score_ppm", F.lit(0).cast("long")).alias("score_ppm"),
    )


def text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering: train the trigram profiles from LANGID_TRAIN inside
    the engine, classify every document. The oracle replays training AND
    scoring from the same fixture literals — the text_bpe_tokens
    verification pattern."""
    profiles = train_langid_profiles(langid_fixture_df(spark))
    docs = load_table(spark, sf_dir, "documents")
    return langid_classify(docs, profiles).orderBy("doc_id")


def _langid_cte_sql() -> str:
    """The fixture→profiles→scores→best CTE chain — shared by the gated
    langid query's oracle and corpus oracles that compose the classifier
    (corpus_stratified_predlang), so the trained model cannot drift
    between them."""
    fixture_rows = ", ".join(
        f"('{lang}', '{s}')"
        for lang, sents in LANGID_TRAIN.items()
        for s in sents
    )
    tri = (
        "list_transform(range(1, greatest(len({t}) - 2, 0) + 1), "
        "__i -> substr({t}, __i, 3))"
    )
    return f"""fx AS (SELECT * FROM (VALUES {fixture_rows}) AS t(lang, sent)),
grams AS (
  SELECT lang, unnest({tri.format(t="lower(sent)")}) AS g FROM fx
),
counts AS (SELECT lang, g, COUNT(*) AS c FROM grams GROUP BY lang, g),
totals AS (SELECT lang, COUNT(*) AS n FROM grams GROUP BY lang),
profiles AS (
  SELECT counts.lang, g, ({LANGID_PPM} * c) // n AS w_ppm
  FROM counts JOIN totals ON counts.lang = totals.lang
),
dg AS (
  SELECT doc_id, unnest({tri.format(t="lower(text)")}) AS g FROM documents
),
scores AS (
  SELECT doc_id, lang, CAST(SUM(w_ppm) AS BIGINT) AS score
  FROM dg JOIN profiles USING (g) GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id,
         (min(struct_pack(ns := -score, lg := lang))).lg AS pred_lang,
         -((min(struct_pack(ns := -score, lg := lang))).ns) AS score_ppm
  FROM scores GROUP BY doc_id
)"""


def _langid_trained_sql() -> str:
    return f"""
WITH {_langid_cte_sql()}
SELECT d.doc_id,
       COALESCE(b.pred_lang, 'und') AS pred_lang,
       CAST(COALESCE(b.score_ppm, 0) AS BIGINT) AS score_ppm
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
ORDER BY d.doc_id
"""


def normalize_text(c: F.Column) -> F.Column:
    """Canonical text normalization — the stage every text pipeline runs
    before tokenize/hash/dedup: lowercase, strip everything outside
    [a-z0-9 ], collapse whitespace runs, trim. Pure codegen'd expression
    chain (P8's regexp_replace machinery), identical semantics in DuckDB
    with the 'g' flag."""
    t = F.lower(c)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


NORMALIZE_SQL_EXPR = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering: normalized text + its token count per document —
    the projection a normalization-first pipeline would materialize."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(T.tokens(norm)).alias("n_norm_tokens"),
    ).orderBy("doc_id")


TEXT_NORMALIZE_SQL = f"""
SELECT doc_id,
       {NORMALIZE_SQL_EXPR.format(c="text")} AS norm_text,
       len(string_split({NORMALIZE_SQL_EXPR.format(c="text")}, ' ')) AS n_norm_tokens
FROM documents ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive md5 fingerprint of the token set per document."""
    docs = load_table(spark, sf_dir, "documents")
    return shielded_sort(
        docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint")),
        "doc_id",
    )


TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id, {T.FINGERPRINT_SQL} AS fingerprint FROM documents ORDER BY doc_id
"""


def text_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode tokens → counts (the one shuffle in this
    family; partial aggregation makes the exchange |vocab|-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("occurrences"), F.asc("token"))
    )


TEXT_WORD_FREQ_SQL = """
SELECT token, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY occurrences DESC, token ASC
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms by a TF-IDF-style score.

    Score is the *rational* form tf * N / df (as a double: one exact integer
    product, one IEEE division — bit-identical cross-engine), not tf *
    log(N/df): java.lang.Math.log and libm log are each within 1 ulp but not
    guaranteed the same ulp, which would poison the value-hash gate. The
    ranking (the part that matters) is identical for any monotone transform
    of N/df at fixed tf ordering... which log is.

    Plan shape at scale: explode → (doc, term) counts → df per term (the
    |vocab| aggregate) → rank window per doc. N is a 1-row aggregate
    crossJoined in (always broadcast — one row), NOT a driver-side
    ``docs.count()``, which would be a second full scan as a separate job.
    The tf⋈df join is hint-free: |vocab| grows with the corpus, so a forced
    broadcast would OOM at scale; AQE broadcasts it while it actually fits.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    pairs = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = pairs.join(df_, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        "tf",
        "df",
        ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rk")
        .orderBy("doc_id", "rk")
    )


TEXT_TFIDF_SQL = """
WITH pairs AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, tf.term AS term, tf, df,
         CAST(tf * n_docs AS DOUBLE) / df AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tf, df, score, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM scored
)
WHERE rk <= 3
ORDER BY doc_id, rk
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus — emails, card numbers, IPv4s, phone
    numbers → typed placeholders (functions/text.redact_pii). The synthetic
    corpus contains no PII, so the query deterministically plants one span
    of each kind (derived from doc_id) before scrubbing: the oracle then
    proves both regex engines find and replace the identical spans. Counts
    come from regexp_extract_all over the dirty text; the redacted text is
    asserted clean by re-counting after the scrub."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact u"), did, F.lit("@example.com"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 200).cast("string"), F.lit(".7"),
        F.lit(" tel 555-010-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" card 4111 1111 1111 1111"),
    )
    n_found = sum(
        (F.size(F.regexp_extract_all(dirty, F.lit(pat), 0)) for pat, _ in T.PII_PATTERNS),
        start=F.lit(0),
    )
    clean = T.redact_pii(dirty)
    n_residual = sum(
        (F.size(F.regexp_extract_all(clean, F.lit(pat), 0)) for pat, _ in T.PII_PATTERNS),
        start=F.lit(0),
    )
    return shielded_sort(
        docs.select(
            "doc_id",
            clean.alias("redacted"),
            n_found.alias("n_pii_found"),
            n_residual.alias("n_pii_residual"),
        ),
        "doc_id",
    )


def _pii_counts_sql(expr: str) -> str:
    return " + ".join(
        f"len(regexp_extract_all({expr}, '{pat}'))" for pat, _ in T.PII_PATTERNS
    )


_DIRTY_SQL = (
    "(text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' ip 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'"
    " || ' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' card 4111 1111 1111 1111')"
)

TEXT_PII_SQL = f"""
WITH dirty AS (SELECT doc_id, {_DIRTY_SQL} AS d FROM documents)
SELECT doc_id,
       {T.redact_pii_sql('d')} AS redacted,
       CAST({_pii_counts_sql('d')} AS INT) AS n_pii_found,
       CAST({_pii_counts_sql(T.redact_pii_sql('d'))} AS INT) AS n_pii_residual
FROM dirty
ORDER BY doc_id
"""


def _tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, toks): pass-through when the input already carries a
    pre-tokenized ``toks`` column (the single-pass corpus build hands every
    gate one shared tokenization), else one T.tokens scan over ``text``."""
    if "toks" in docs.columns:
        return docs.select("doc_id", "toks")
    return docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))


def _gram_rows_pos(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, i, gram) — one row per n-word shingle with its 1-based start
    position, built the codegen'd way: explode a position sequence, then
    assemble the gram from element_at + concat as PLAIN scalar expressions.
    Exploding a lambda-built shingle ARRAY instead (word_shingles + explode)
    measured 10-20x slower at sf0.1 — higher-order-function arrays are
    interpreted per element and their Generate doesn't get whole-stage
    codegen; this form pipelines into the scan. Docs shorter than n emit no
    rows: the explode is gated on size(toks) >= n because sequence(1, 0) is
    NOT empty — Spark yields the DESCENDING array [1, 0], and
    element_at(toks, 0) then throws under ANSI mode, so an ungated form
    crashes the whole query on any short doc. Accepts (doc_id, text) or a
    pre-tokenized (doc_id, toks) frame (see _tokenized)."""
    toked = _tokenized(docs).filter(F.size("toks") >= n)
    seq = F.sequence(F.lit(1), F.size("toks") - (n - 1))
    ex = toked.select("doc_id", "toks", F.explode(seq).alias("i"))
    pieces = [F.element_at(F.col("toks"), F.col("i") + j) for j in range(n)]
    g = pieces[0]
    for p in pieces[1:]:
        g = F.concat(g, F.lit(" "), p)
    return ex.select("doc_id", "i", g.alias("gram"))


def _gram_rows(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram) — position-free view of _gram_rows_pos (the column is
    pruned before the explode's consumers, so keeping it there is free)."""
    return _gram_rows_pos(docs, n).select("doc_id", "gram")


def repetition_flags(docs: DataFrame) -> DataFrame:
    """DataFrame→DataFrame combinator behind text_repetition_score (also
    composed into corpus.build_training_corpus): per doc_id the bigram
    stats + keep gate. Expects (doc_id, text), or pre-tokenized
    (doc_id, toks) to reuse a shared tokenization."""
    per = (
        _gram_rows(docs, 2)
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_c"),
    )
    dup_frac = (F.col("n_grams") - F.col("n_distinct")) / F.col("n_grams")
    top_frac = F.col("max_c") / F.col("n_grams")
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            dup_frac.alias("dup_gram_frac"),
            top_frac.alias("top_gram_frac"),
            F.when(F.col("n_grams").isNull(), F.lit(True))
            .otherwise((dup_frac <= 0.3) & (top_frac <= 0.2))
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering (the Gopher/C4-family rules): per
    document, the duplicate-bigram fraction and the mass of the single most
    frequent bigram, plus the keep/drop gate a pretraining pipeline applies.

    Scale shape: explode bigrams → (doc, gram) counts → per-doc aggregate.
    One shuffle keyed on (doc_id, gram) with map-side partial aggregation;
    the per-doc rollup reuses the same doc_id-prefixed partitioning. The
    scan-local HOF alternative (array_max over per-element counts) is O(d²)
    per doc and interpreted — fine at 100-token docs, pathological on long
    ones, so the exploded form is the one that survives 100 TB.

    Fractions are double quotients of exact integer counts — bit-identical
    cross-engine. Docs with <2 tokens have no bigrams: NULL fractions,
    keep=true (nothing repeated)."""
    return repetition_flags(load_table(spark, sf_dir, "documents"))


_GRAMS2 = T.word_shingles_sql("string_split(text, ' ')", 2)
TEXT_REPETITION_SQL = f"""
WITH g AS (
  SELECT doc_id, unnest({_GRAMS2}) AS g FROM documents
), per AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g
), agg AS (
  -- CAST: DuckDB SUM yields HUGEINT; BIGINT matches Spark's long
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         COUNT(*) AS n_distinct, MAX(c) AS max_c
  FROM per GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       COALESCE(a.n_grams, 0) AS n_grams,
       (a.n_grams - a.n_distinct) / a.n_grams AS dup_gram_frac,
       a.max_c / a.n_grams AS top_gram_frac,
       CASE WHEN a.n_grams IS NULL THEN true
            ELSE (a.n_grams - a.n_distinct) / a.n_grams <= 0.3
                 AND a.max_c / a.n_grams <= 0.2 END AS keep
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY doc_id
"""


# Decontamination: which training docs share an n-gram with the held-out
# eval set. The benchmark stand-in is a deterministic corpus slice.
DECON_NGRAM, DECON_BENCH_MOD, DECON_BENCH_RESIDUE = 5, 17, 3


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: flag training documents sharing any
    5-word n-gram with the "benchmark" slice (doc_id % 17 == 3 stands in for
    an eval set) — the decontamination pass every serious pretraining corpus
    runs before training.

    Scale shape: both sides' n-grams are md5-hashed to 60-bit longs at the
    scan (functions/text.token_hash equivalent — fixed-width join keys
    shuffle ~4x smaller than the gram strings), per-doc distinct applied
    scan-local BEFORE the explode so the join stream carries each (doc,
    gram) once. The benchmark side is distinct-deduped and joined hint-free:
    real eval sets are broadcast-sized, and AQE broadcasts them when they
    fit, but nothing breaks when someone decontaminates against a huge
    corpus instead. Output: contaminated docs only, with hit counts for
    audit."""
    return contamination_report(load_table(spark, sf_dir, "documents"))


def contamination_report_vs(train: DataFrame, bench: DataFrame) -> DataFrame:
    """Decontamination against an EXPLICIT eval set: flag every train doc
    sharing a hashed 5-gram with `bench`. Both sides expect (doc_id, text)
    or pre-tokenized (doc_id, toks).

    Each train doc's verdict depends only on (its own text, the bench
    set), so with a STATIC bench table this composes onto a document
    stream per micro-batch with exact batch equality
    (`test_stream_decontaminate_equals_batch`) — the production shape:
    the benchmark is a fixed table, the training corpus arrives
    continuously.

    Per-doc gram dedup is a (doc_id, gh) `distinct()` on the exploded
    stream rather than a scan-side `array_distinct` over a lambda-built
    hash array: the array form avoids that one shuffle but pays the
    interpreted-HOF tax on every gram (11x slower end-to-end at sf0.1),
    and the exploded stream was headed into a shuffling join anyway."""
    # gh is wrapped NON-NULLABLE (coalesce with a literal that can never
    # fire — grams are concats of non-null split tokens): the gh equi-join
    # below makes Catalyst infer IsNotNull(gh), and a nullable gh pushes
    # that check — with the md5 hash substituted in — below the distinct
    # into the gram stage, where every gram pays the md5 TWICE (once for
    # the null test, once for the projection). Non-nullable folds the
    # inferred IsNotNull to true (r15; the dedup_ngram_jaccard fix).
    gh_nn = F.coalesce(T.token_hash(F.col("gram")), F.lit(0).cast("long"))
    tgh = (
        _gram_rows(train, DECON_NGRAM)
        .select("doc_id", gh_nn.alias("gh"))
        .distinct()
    )
    bgh = (
        _gram_rows(bench, DECON_NGRAM)
        .select(gh_nn.alias("gh"))
        .distinct()
    )
    per_doc = tgh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_doc_ngrams"))
    hits = tgh.join(bgh, "gh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit_ngrams")
    )
    return (
        hits.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_hit_ngrams",
            "n_doc_ngrams",
            (F.col("n_hit_ngrams") / F.col("n_doc_ngrams")).alias("contamination_frac"),
        )
        .orderBy("doc_id")
    )


def contamination_report(docs: DataFrame) -> DataFrame:
    """DataFrame→DataFrame combinator behind text_decontaminate (also
    composed into corpus.build_training_corpus): the bench slice is carved
    from the corpus itself by the deterministic doc_id residue, then
    handed to contamination_report_vs."""
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD) == DECON_BENCH_RESIDUE
    return contamination_report_vs(docs.filter(~is_bench), docs.filter(is_bench))


_GRAMSN = T.word_shingles_sql("string_split(text, ' ')", DECON_NGRAM)
_GH = T.token_hash_sql("g")
TEXT_DECONTAMINATE_SQL = f"""
WITH hashed AS (
  SELECT doc_id,
         list_distinct(list_transform({_GRAMSN}, g -> {_GH})) AS ghs
  FROM documents
), bench AS (
  SELECT DISTINCT unnest(ghs) AS gh FROM hashed
  WHERE doc_id % {DECON_BENCH_MOD} = {DECON_BENCH_RESIDUE}
), train AS (
  SELECT doc_id, len(ghs) AS n_doc_ngrams, unnest(ghs) AS gh FROM hashed
  WHERE doc_id % {DECON_BENCH_MOD} != {DECON_BENCH_RESIDUE}
)
SELECT t.doc_id AS doc_id,
       COUNT(*) AS n_hit_ngrams,
       n_doc_ngrams,
       COUNT(*) / n_doc_ngrams AS contamination_frac
FROM train t JOIN bench b ON t.gh = b.gh
GROUP BY t.doc_id, n_doc_ngrams
ORDER BY doc_id
"""


# Subword ("BPE-ish") tokenization: a deterministic regex segmentation
# standing in for a learned BPE merge table. Vowel-run / consonant-run
# alternation is unambiguous (every char matches exactly one branch), so
# Java regex (Spark) and RE2 (DuckDB) cannot disagree on it.
SUBWORD_RE = "[aeiou]+|[^aeiou ]+"


def text_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting under a subword tokenizer: per document, the
    whitespace word count, the subword-unit count from a BPE-ish regex
    segmentation, and the fertility (subwords per word) — the number a
    training-budget planner needs, since model tokens are subwords, not
    words. A learned BPE's merge table would slot into the same plumbing
    as a literal regex alternation (longest-merge-first); the regex here is
    the deterministic stand-in, and the Spark-side shape — scan-local
    regexp_extract_all, size() counts, exact-quotient ratio — is the real
    part. Zero shuffles before the final order."""
    docs = load_table(spark, sf_dir, "documents")
    words = T.tokens(F.col("text"))
    subs = F.regexp_extract_all("text", F.lit(SUBWORD_RE), 0)
    return docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(subs).cast("bigint").alias("n_subtokens"),
        (F.size(subs) / F.size(words)).alias("fertility"),
    ).orderBy("doc_id")


TEXT_SUBWORD_SQL = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_words,
       len(regexp_extract_all(text, '{SUBWORD_RE}')) AS n_subtokens,
       len(regexp_extract_all(text, '{SUBWORD_RE}'))
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS fertility
FROM documents ORDER BY doc_id
"""


# Trained-merges BPE (Sennrich et al. 2016, "Neural Machine Translation of
# Rare Words with Subword Units"): learn the top-K most frequent adjacent
# unit merges from the corpus itself, then tokenize by applying them in
# order. K is small and the rounds are unrolled (the ml_kmeans_refine
# convention), which keeps every round oracle-replayable.
BPE_MERGES = 8
BPE_SEP = "\x1f"  # unit separator — cannot occur in (printable) corpus text


def _bpe_seg_init(word_col: str) -> F.Column:
    """Character-level initial segmentation: every char followed by the
    separator, trailing separator dropped (len 2n-1). Plain '(.)' regex —
    identical semantics in Java regex and RE2."""
    return F.substring(
        F.regexp_replace(F.col(word_col), "(.)", "$1" + BPE_SEP),
        1,
        F.length(F.col(word_col)) * 2 - 1,
    )


def _bpe_pairs(seg_df: DataFrame) -> DataFrame:
    """(pair, cnt): one row per adjacent unit pair occurrence, weighted by
    word frequency. The pair is represented as 'a<SEP>b' so the merge
    application is a plain substring replace and the tie-break is a single
    binary string comparison in both engines."""
    units = F.split("seg", BPE_SEP)
    return seg_df.filter(F.size(units) >= 2).select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(units) - 1),
                lambda i: F.concat(
                    F.element_at(units, i), F.lit(BPE_SEP), F.element_at(units, i + 1)
                ),
            )
        ).alias("pair"),
    )


def train_bpe_merges(vocab: DataFrame, n_merges: int = BPE_MERGES) -> list[str]:
    """Greedy BPE training over a (w, cnt) vocabulary table: each round
    counts adjacent-pair frequencies over the CURRENT segmentation, picks
    the most frequent pair (ties to the binary-smallest — deterministic in
    any engine), and merges it everywhere via left-to-right non-overlapping
    substring replace (exactly BPE's merge semantics).

    Scale shape: training state is the VOCAB (distinct words × counts),
    not the corpus — the classic BPE trainer's move; pair counting per
    round is one explode + map-side-combined groupBy over the cached
    vocab, and the chosen pair (a one-row collect) is kilobyte
    query-planning state like the IVF centroids. Application to the full
    corpus happens scan-side later with the merges as literals. The merge
    table is memoized per (vocab plan, n_merges): K+1 driver jobs that
    would otherwise be re-paid by every execution."""

    def build():
        cur = vocab.select("w", "cnt", _bpe_seg_init("w").alias("seg")).persist()
        try:
            merges: list[str] = []
            for _ in range(n_merges):
                top = (
                    _bpe_pairs(cur)
                    .groupBy("pair")
                    .agg(F.sum("cnt").alias("c"))
                    .orderBy(F.desc("c"), F.asc("pair"))
                    .limit(1)
                    .collect()
                )
                if not top:
                    break
                pair = top[0]["pair"]
                merges.append(pair)
                cur = cur.withColumn(
                    "seg",
                    F.replace(
                        F.col("seg"), F.lit(pair), F.lit(pair.replace(BPE_SEP, ""))
                    ),
                )
            return merges
        finally:
            cur.unpersist()

    key = (plan_identity(vocab), n_merges)
    return list(session_memo(vocab.sparkSession, "bpe_merges", key, build))


def apply_bpe_merges(seg: F.Column, merges: list[str]) -> F.Column:
    """The trained merge table applied scan-side as a literal replace
    chain — the production shape: training produced kilobytes of state,
    tokenization is pure codegen'd string work, no joins."""
    for pair in merges:
        seg = F.replace(seg, F.lit(pair), F.lit(pair.replace(BPE_SEP, "")))
    return seg


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword token accounting under a TRAINED BPE: learn BPE_MERGES
    merges from the corpus's own pair frequencies, apply them to the
    vocabulary, and emit per-document word/subtoken counts + fertility.

    The merge table is data-derived (rerunning on a different corpus
    yields different merges), which is what upgrades text_subword_tokens'
    regex stand-in to a real subword tokenizer; the fixed unrolled round
    count is what keeps it oracle-checkable — the DuckDB oracle re-derives
    the same merges through K materialized CTE rounds and must land on
    bit-identical counts. Per-word unit counts are joined back to the
    exploded word stream hint-free (vocab is usually broadcast-sized; AQE
    decides) and summed per document."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    merges = train_bpe_merges(vocab)
    per_word = vocab.select(
        "w",
        F.size(F.split(apply_bpe_merges(_bpe_seg_init("w"), merges), BPE_SEP)).alias(
            "n_units"
        ),
    )
    return (
        words.join(per_word, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_units").alias("n_subtokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subtokens",
            (F.col("n_subtokens") / F.col("n_words")).alias("fertility"),
        )
        .orderBy("doc_id")
    )


def _bpe_ctes() -> list[str]:
    """The shared trained-BPE CTE chain (words → vocab → K greedy merge
    rounds → final segmentation), reused verbatim by the gated
    text_bpe_tokens oracle and the staged per-language fertility oracle —
    one tokenizer, two reports."""
    parts = [
        "words AS MATERIALIZED (SELECT doc_id, w FROM "
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) "
        "WHERE w != '')",
        "vocab AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w)",
        "seg0 AS MATERIALIZED (SELECT w, cnt, "
        "substr(regexp_replace(w, '(.)', '\\1' || chr(31), 'g'), 1, 2*length(w)-1) "
        "AS seg FROM vocab)",
    ]
    for r in range(BPE_MERGES):
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT pair FROM ("
            "SELECT unnest(list_transform(range(1, len(u)), "
            "__i -> u[__i] || chr(31) || u[__i+1])) AS pair, cnt "
            f"FROM (SELECT cnt, string_split(seg, chr(31)) AS u FROM seg{r}) "
            "WHERE len(u) >= 2"
            ") GROUP BY pair ORDER BY SUM(cnt) DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"seg{r + 1} AS MATERIALIZED (SELECT w, cnt, "
            f"replace(seg, (SELECT pair FROM p{r}), "
            f"(SELECT replace(pair, chr(31), '') FROM p{r})) AS seg FROM seg{r})"
        )
    parts_tail = (
        f"per_word AS (SELECT w, len(string_split(seg, chr(31))) AS n_units "
        f"FROM seg{BPE_MERGES})"
    )
    return parts + [parts_tail]


def _bpe_sql() -> str:
    """DuckDB replay: the same K greedy rounds as nested MATERIALIZED CTEs
    (materialization keeps the replace-chain from inlining exponentially).
    regexp_replace needs the explicit 'g' flag where Spark's is global by
    default; everything else is shared semantics — left-to-right
    non-overlapping replace(), binary string tie-break."""
    parts = _bpe_ctes()
    per_word = parts.pop()
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
{per_word}
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(n_units) AS BIGINT) AS n_subtokens,
       CAST(SUM(n_units) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS fertility
FROM words JOIN per_word USING (w)
GROUP BY doc_id ORDER BY doc_id
"""
    )


# ----------------------------------------- readability score (staged r14)
# Flesch reading ease (Flesch 1948, public) over a DETERMINISTIC integer
# proxy: words = non-empty whitespace tokens, sentences = terminal
# punctuation runs floored at 1, syllables = vowel GROUPS (the standard
# dictionary-free approximation). The counts are exact BIGINTs; the two
# rates are raw double quotients of exact ints and the score is the
# literal-constant left-assoc double tree — identical in both engines
# (constants forced ::DOUBLE in the oracle: DuckDB parses 206.835 as
# DECIMAL, whose arithmetic would diverge from Spark's doubles).
# Readability joins stopword-ratio/length/repetition as a quality gate a
# pretraining curation pass thresholds on (very low FRE = boilerplate
# or code-ish text; very high = fragment spam).


def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r14 (gates r15): (doc_id, n_words, n_sentences,
    n_syllable_groups, words_per_sentence, syllables_per_word, flesch)
    — scan-local regexp counts, zero shuffles before the final order."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(T.tokens(F.col("text")), lambda x: x != "")
    ).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]")), F.lit(1)
    ).cast("bigint")
    n_syl = F.regexp_count(F.col("text"), F.lit(r"[aeiouAEIOU]+")).cast(
        "bigint"
    )
    wps = n_words.cast("double") / n_sent
    spw = F.try_divide(n_syl.cast("double"), n_words)
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllable_groups"),
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
        flesch.alias("flesch"),
    )
    return shielded_sort(out, "doc_id")


TEXT_READABILITY_SQL = """
WITH c AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), __w -> __w != ''))
              AS BIGINT) AS n_words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]')), 1)
              AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
              AS BIGINT) AS n_syllable_groups
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllable_groups,
       CAST(n_words AS DOUBLE) / n_sentences AS words_per_sentence,
       CASE WHEN n_words = 0 THEN NULL
            ELSE CAST(n_syllable_groups AS DOUBLE) / n_words
       END AS syllables_per_word,
       206.835::DOUBLE - 1.015::DOUBLE
         * (CAST(n_words AS DOUBLE) / n_sentences) - 84.6::DOUBLE
         * (CASE WHEN n_words = 0 THEN NULL
                 ELSE CAST(n_syllable_groups AS DOUBLE) / n_words END)
         AS flesch
FROM c
ORDER BY doc_id
"""


# ------------------------------ tokenizer fertility by language (staged r14)
# Per-LANGUAGE fertility audit of the trained BPE — the tokenizer-equity
# number multilingual LLM pipelines report (a language whose fertility is
# 2x another's pays 2x the context budget per word and trains on half
# the effective text; see e.g. the XLM-R / NLLB tokenizer analyses —
# public): one tokenizer (the SAME trained merge table as
# text_bpe_tokens), rolled up per document language instead of per
# document. Ratios are raw double quotients of exact BIGINT sums (the
# bitwise-oracle discipline — never round()).


def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r14 (gates r15): (lang, n_docs, n_words, n_subtokens,
    n_chars, fertility, chars_per_subtoken) — trained-BPE tokenizer
    equity per language. Scale shape: training state is the vocab
    (train_bpe_merges), application is scan-side literal replaces; the
    per-word unit counts join back on the word key hint-free (AQE
    decides broadcast vs shuffle from runtime vocab size — the RAKE/PMI
    discipline), then ONE map-side-combinable rollup on lang."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    merges = train_bpe_merges(vocab)
    per_word = vocab.select(
        "w",
        F.size(F.split(apply_bpe_merges(_bpe_seg_init("w"), merges), BPE_SEP)).alias(
            "n_units"
        ),
    )
    n_docs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        words.join(per_word, "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_units").alias("n_subtokens"),
            F.sum(F.length("w")).alias("n_chars"),
        )
        .join(n_docs, "lang")
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_subtokens",
            "n_chars",
            (F.col("n_subtokens") / F.col("n_words")).alias("fertility"),
            (F.col("n_chars") / F.col("n_subtokens")).alias("chars_per_subtoken"),
        )
        .orderBy("lang")
    )


def _fertility_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_fertility_oracle_agrees_cross_engine; registers r15): the SAME
    trained-BPE CTE chain as the gated _bpe_sql (shared via _bpe_ctes —
    one tokenizer, two reports), plus a lang-carrying word stream and the
    per-lang rollup."""
    parts = _bpe_ctes()
    per_word = parts.pop()
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
{per_word},
wl AS (SELECT lang, w FROM
  (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w != ''),
nd AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
roll AS (
  SELECT lang, COUNT(*) AS n_words,
         CAST(SUM(n_units) AS BIGINT) AS n_subtokens,
         CAST(SUM(length(w)) AS BIGINT) AS n_chars
  FROM wl JOIN per_word USING (w)
  GROUP BY lang
)
SELECT r.lang AS lang, nd.n_docs AS n_docs, r.n_words AS n_words,
       r.n_subtokens AS n_subtokens, r.n_chars AS n_chars,
       r.n_subtokens / CAST(r.n_words AS DOUBLE) AS fertility,
       r.n_chars / CAST(r.n_subtokens AS DOUBLE) AS chars_per_subtoken
FROM roll r JOIN nd USING (lang)
ORDER BY lang
"""
    )


# Exact duplicated-span removal (the "exact substring dedup" of Lee et al.
# 2021, "Deduplicating Training Data Makes Language Models Better"), at
# token-window granularity: any DUPSPAN_N-token span occurring >= 2 times
# corpus-wide is removed from every document it covers.
DUPSPAN_N = 10


def dupspan_remove(docs: DataFrame) -> DataFrame:
    """DataFrame→DataFrame combinator behind text_dupspan_remove. Expects
    (doc_id, text); emits (doc_id, n_tokens, n_removed, cleaned_text).

    Scale shape (all linear, never all-pairs):
    1. span hashes: scan-pipelined explode (codegen'd _gram_rows_pos), one
       60-bit key per window — fixed-width keys keep the count shuffle ~4x
       smaller than shuffling the gram strings;
    2. duplicated-hash set: groupBy(gh) count with map-side partial agg —
       the only corpus-wide exchange, keyed on a uniform hash so no skew;
    3. covered positions: duplicated starts fan out into DUPSPAN_N
       positions each, distinct'd per (doc, pos) — bounded by total token
       count, reuses the doc_id-keyed exchange that the reassembly needs
       anyway;
    4. reassembly: kept tokens regrouped per doc, ordered by position via
       array_sort over (pos, tok) structs — collect_list order is
       partition-dependent, the sort is what makes the rebuild
       deterministic at any parallelism.

    Docs shorter than DUPSPAN_N contribute no spans (gated explode) and
    are never edited; a doc whose every token is covered comes back as ''
    (kept, length 0) — dropping it is the caller's policy decision."""
    # r15: round-robin spread of the narrow projection, shared by every
    # consumer below via AQE exchange reuse — the gram explode+md5, the
    # token posexplode, and the n_tokens base otherwise all run inside the
    # single-split scan stage. A/B at sf0.1: 3.42 -> 3.03 s. A further
    # gh-keyed materialization of the gram stream was A/B'd and dropped
    # (3.2 -> 3.5 s): the starts join broadcasts the tiny dup set, so the
    # extra full shuffle of the gram rows costs more than the one cheap
    # codegen'd gram rebuild it saves.
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    spread = docs.select("doc_id", "text").repartition(par)
    toked = spread.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    g = _gram_rows_pos(spread, DUPSPAN_N).select(
        "doc_id", "i", T.token_hash(F.col("gram")).alias("gh")
    )
    dup = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    starts = g.join(dup, "gh").select("doc_id", "i")
    covered = starts.select(
        "doc_id",
        F.explode(F.sequence(F.col("i"), F.col("i") + (DUPSPAN_N - 1))).alias("pos"),
    ).distinct()
    tokpos = toked.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tokpos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda x: x.tok
            ),
            " ",
        ).alias("cleaned_text"),
    )
    base = spread.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
        # shielded (r15): the bare sort's range sampler re-ran the
        # span-reassembly joins above this point
        .transform(lambda d: shielded_sort(d, "doc_id"))
    )


def text_dupspan_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated exact-span removal (Lee et al. 2021 exact-substring
    dedup, token-window granularity): every 10-token span occurring twice or
    more anywhere in the corpus is cut from every document, and the
    remaining tokens are reassembled in order. This is the within-document
    complement to document-level near-dedup — boilerplate, licenses and
    templated passages repeat across otherwise-distinct documents, and
    removing the spans (not the documents) is what the paper shows improves
    LMs. See the combinator's docstring for the 100 TB plan shape."""
    return dupspan_remove(load_table(spark, sf_dir, "documents"))


_DUPGRAM = " || ' ' || ".join(f"toks[i + {j}]" for j in range(DUPSPAN_N))
TEXT_DUPSPAN_SQL = f"""
WITH toked AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
spans AS (
  SELECT doc_id, unnest(generate_series(1, len(toks) - {DUPSPAN_N - 1})) AS i, toks
  FROM toked WHERE len(toks) >= {DUPSPAN_N}
), g AS (
  SELECT doc_id, i, {T.token_hash_sql(f"({_DUPGRAM})")} AS gh FROM spans
), dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
starts AS (SELECT doc_id, i FROM g JOIN dup USING (gh)),
covered AS (
  SELECT DISTINCT doc_id, unnest(generate_series(i, i + {DUPSPAN_N - 1})) AS pos
  FROM starts
), tokpos AS (
  SELECT doc_id, unnest(toks) AS tok, unnest(generate_series(1, len(toks))) AS pos
  FROM toked
), kept AS (
  SELECT t.doc_id, t.tok, t.pos FROM tokpos t
  ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
), rebuilt AS (
  SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       len(string_split(d.text, ' ')) AS n_tokens,
       len(string_split(d.text, ' ')) - COALESCE(r.n_kept, 0) AS n_removed,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring — the CCNet/KenLM-style perplexity filter. A
# bigram language model is trained on the in-domain slice (documents passing
# the corpus quality gate — the same composition CCNet uses: score the crawl
# against a model of the wanted distribution), then EVERY document is scored
# by its mean smoothed bigram likelihood. All arithmetic is integer
# fixed-point (parts-per-million with add-one smoothing), so scores are
# bit-exact across engines and the keep gate is oracle-checkable — the same
# engine-neutrality trick as ml_kmeans_refine / corpus_dsir_sample.
LM_PPM_SCALE = 1_000_000
# Mean smoothed-bigram-likelihood floor (ppm). Calibrated on the dev-scale
# corpus: the in-domain score mass sits at ~34000 ppm with a low-likelihood
# tail; 33000 cuts the bottom ~decile at both sf0.001 and sf0.01 (the CCNet
# recipe keeps the head/middle of the perplexity distribution). Like every
# gate constant here it is data-dependent policy, not engine semantics.
LM_KEEP_MIN_PPM = 33_000


def lm_score_flags(docs: DataFrame, target: DataFrame | None = None) -> DataFrame:
    """Per-document bigram-LM likelihood score + keep gate.

    ``docs`` is (doc_id, text) or pre-tokenized (doc_id, toks); ``target``
    (same shape) is the in-domain corpus the LM is trained on — defaults to
    the quality-gate-passing slice of ``docs`` itself.

    Model: add-one-smoothed bigram LM over the target slice's exact token
    bigrams. For each scored bigram (w1, w2):
        ppm = (10^6 * (c(w1,w2) + 1)) div (c(w1,·) + V)
    where c(w1,·) sums the target counts with left context w1 and V is the
    target's distinct-continuation vocabulary; a doc's score is the integer
    mean of its bigram ppms. Everything is bigint arithmetic (div =
    truncating integral division in both engines), so an LM probability is
    a deterministic function of exact counts — no floats anywhere.

    100 TB shape: the scored side is one bigram explode over the corpus
    (scan-pipelined, codegen'd — see _gram_rows_pos). The model side is
    count tables bounded by the REALIZED bigram vocabulary (Zipf-truncated,
    ≪ corpus; KenLM's own models are exactly such count tables), so the two
    lookup joins broadcast at any realistic scale — AQE picks that up
    hint-free, the same policy every dedup join here uses; the w1 join key
    is skewed (stopwords dominate left contexts), which is precisely why
    broadcast-not-shuffle matters for it. One final groupBy(doc_id) rollup
    with map-side partial aggregation. Docs with <2 tokens have no bigrams:
    NULL score, keep=true (same contract as repetition_flags).

    Reference parity: the reference has no LM filter (its cleaning is
    notebook regex work); this extends the quality-gate family
    (text_quality_score, repetition_flags) with the standard
    perplexity-style filter a pretraining pipeline runs (CCNet, Wenzek et
    al. 2020 — public method)."""
    from .corpus import QUALITY_THRESHOLD  # deferred: avoids an import cycle

    toked = _tokenized(docs)
    if target is None:
        target = toked.filter(T.quality_score(F.col("toks")) >= QUALITY_THRESHOLD)
    pairs = _gram_rows(toked, 2)
    c12 = _gram_rows(_tokenized(target), 2).groupBy("gram").agg(
        F.count(F.lit(1)).alias("c12")
    )
    c1 = (
        c12.select(F.substring_index("gram", " ", 1).alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    vocab = c12.select(
        F.substring_index("gram", " ", -1).alias("w2")
    ).agg(F.count_distinct("w2").alias("v"))
    scored = (
        pairs.join(c12, "gram", "left")
        .withColumn("w1", F.substring_index("gram", " ", 1))
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))  # 1-row scalar-subquery idiom
        .select(
            "doc_id",
            F.col("c12").isNull().cast("long").alias("oov"),
            F.expr(
                f"({LM_PPM_SCALE}L * (coalesce(c12, 0L) + 1L))"
                " div (coalesce(c1, 0L) + greatest(v, 1L))"
            ).alias("ppm"),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("oov").alias("n_oov_bigrams"),
        F.sum("ppm").alias("ppm_sum"),
    )
    avg = F.expr("ppm_sum div n_bigrams")
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_oov_bigrams", F.lit(0)).alias("n_oov_bigrams"),
            avg.alias("lm_avg_ppm"),
            F.when(F.col("ppm_sum").isNull(), F.lit(True))
            .otherwise(avg >= LM_KEEP_MIN_PPM)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering of lm_score_flags over the documents table (LM
    trained on the table's own quality-passing slice)."""
    return lm_score_flags(load_table(spark, sf_dir, "documents"))


def _lm_sql() -> str:
    from .corpus import QUALITY_THRESHOLD  # deferred: avoids an import cycle

    sw = T.stopword_ratio_sql("string_split(text, ' ')")
    atl = T.avg_token_len_sql("string_split(text, ' ')")
    quality = (
        f"(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {sw})"
        f" + 0.2 * least({atl} / 8.0, 1.0))"
    )
    return f"""
WITH g AS (
  SELECT doc_id, unnest({_GRAMS2}) AS gram FROM documents
), q AS (
  SELECT doc_id FROM documents WHERE {quality} >= {QUALITY_THRESHOLD}
), tg AS (
  SELECT g.doc_id, g.gram FROM g JOIN q USING (doc_id)
), c12 AS (
  SELECT gram, COUNT(*) AS c12 FROM tg GROUP BY gram
), c1 AS (
  SELECT split_part(gram, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
  FROM c12 GROUP BY 1
), v AS (
  SELECT COUNT(DISTINCT split_part(gram, ' ', 2)) AS v FROM c12
), s AS (
  SELECT g.doc_id,
         CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS oov,
         ({LM_PPM_SCALE} * (COALESCE(c12.c12, 0) + 1))
           // (COALESCE(c1.c1, 0) + GREATEST(v.v, 1)) AS ppm
  FROM g LEFT JOIN c12 USING (gram)
         LEFT JOIN c1 ON split_part(g.gram, ' ', 1) = c1.w1
         CROSS JOIN v
), per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(oov) AS BIGINT) AS n_oov_bigrams,
         CAST(SUM(ppm) AS BIGINT) AS ppm_sum
  FROM s GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.n_oov_bigrams, 0) AS n_oov_bigrams,
       p.ppm_sum // p.n_bigrams AS lm_avg_ppm,
       CASE WHEN p.ppm_sum IS NULL THEN true
            ELSE (p.ppm_sum // p.n_bigrams) >= {LM_KEEP_MIN_PPM} END AS keep
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Backoff LM scoring — the standard upgrade over add-one smoothing. Add-one
# has a known pathology for a quality filter: an UNSEEN bigram's probability
# 1/(c(w1)+V) depends only on the left context, so garbled text stitched
# from rare-context words outscores fluent novel combinations after common
# words. The fix is backoff with a Kneser-Ney CONTINUATION unigram (Kneser &
# Ney 1995; stupid-backoff weighting, Brants et al. 2007): an unseen bigram
# falls back to how many DISTINCT contexts its w2 follows — "francisco" may
# be frequent, but it follows one context, so garbled "...x francisco"
# scores near-zero while fluent novel pairs of versatile words score well.
# All fixed-point ppm integers; same vocab-bounded join shape as
# lm_score_flags (one extra w2-keyed continuation-count join).
LM_BACKOFF_ALPHA_PPM = 400_000  # stupid-backoff weight 0.4, in ppm
# Keep floor for the backoff score (calibrated like LM_KEEP_MIN_PPM: the
# backoff score mass at dev scale sits slightly above the add-one mass —
# no +1/V dilution on seen bigrams — with the same low tail).
LM_BACKOFF_KEEP_MIN_PPM = 33_000


def lm_backoff_score_flags(
    docs: DataFrame, target: DataFrame | None = None
) -> DataFrame:
    """Per-document backoff-LM score + keep gate (same contract and output
    shape as lm_score_flags; n_oov_bigrams counts backed-off bigrams).

    Seen bigram:   ppm = (10^6 * c12) div c1
    Unseen bigram: ppm = max((alpha * n_cont(w2)) div n_types, 1)
    where n_cont(w2) = |{w1 : c(w1,w2) > 0}| and n_types = distinct target
    bigram types — the KN continuation distribution, integer-exact."""
    from .corpus import QUALITY_THRESHOLD  # deferred: avoids an import cycle

    toked = _tokenized(docs)
    if target is None:
        target = toked.filter(T.quality_score(F.col("toks")) >= QUALITY_THRESHOLD)
    pairs = _gram_rows(toked, 2)
    c12 = _gram_rows(_tokenized(target), 2).groupBy("gram").agg(
        F.count(F.lit(1)).alias("c12")
    )
    c1 = (
        c12.select(F.substring_index("gram", " ", 1).alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    cont = (
        c12.select(
            F.substring_index("gram", " ", 1).alias("cw1"),
            F.substring_index("gram", " ", -1).alias("w2"),
        )
        .distinct()
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("n_cont"))
    )
    n_types = c12.agg(F.count(F.lit(1)).alias("t"))
    scored = (
        pairs.join(c12, "gram", "left")
        .withColumn("w1", F.substring_index("gram", " ", 1))
        .withColumn("w2", F.substring_index("gram", " ", -1))
        .join(c1, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(n_types))  # 1-row scalar-subquery idiom
        .select(
            "doc_id",
            F.col("c12").isNull().cast("long").alias("oov"),
            F.expr(
                f"CASE WHEN c12 IS NOT NULL THEN ({LM_PPM_SCALE}L * c12) div c1 "
                f"ELSE greatest(({LM_BACKOFF_ALPHA_PPM}L * coalesce(n_cont, 0L))"
                " div greatest(t, 1L), 1L) END"
            ).alias("ppm"),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("oov").alias("n_oov_bigrams"),
        F.sum("ppm").alias("ppm_sum"),
    )
    avg = F.expr("ppm_sum div n_bigrams")
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_oov_bigrams", F.lit(0)).alias("n_oov_bigrams"),
            avg.alias("lm_avg_ppm"),
            F.when(F.col("ppm_sum").isNull(), F.lit(True))
            .otherwise(avg >= LM_BACKOFF_KEEP_MIN_PPM)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


def text_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering of lm_backoff_score_flags over the documents table."""
    return lm_backoff_score_flags(load_table(spark, sf_dir, "documents"))


def _lm_backoff_sql() -> str:
    from .corpus import QUALITY_THRESHOLD  # deferred: avoids an import cycle

    sw = T.stopword_ratio_sql("string_split(text, ' ')")
    atl = T.avg_token_len_sql("string_split(text, ' ')")
    quality = (
        f"(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {sw})"
        f" + 0.2 * least({atl} / 8.0, 1.0))"
    )
    return f"""
WITH g AS (
  SELECT doc_id, unnest({_GRAMS2}) AS gram FROM documents
), q AS (
  SELECT doc_id FROM documents WHERE {quality} >= {QUALITY_THRESHOLD}
), tg AS (
  SELECT g.doc_id, g.gram FROM g JOIN q USING (doc_id)
), c12 AS (
  SELECT gram, COUNT(*) AS c12 FROM tg GROUP BY gram
), c1 AS (
  SELECT split_part(gram, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
  FROM c12 GROUP BY 1
), cont AS (
  SELECT w2, COUNT(*) AS n_cont FROM (
    SELECT DISTINCT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2
    FROM c12
  ) GROUP BY w2
), t AS (
  SELECT COUNT(*) AS t FROM c12
), s AS (
  SELECT g.doc_id,
         CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS oov,
         CASE WHEN c12.c12 IS NOT NULL
              THEN ({LM_PPM_SCALE} * c12.c12) // c1.c1
              ELSE GREATEST(({LM_BACKOFF_ALPHA_PPM} * COALESCE(cont.n_cont, 0))
                            // GREATEST(t.t, 1), 1) END AS ppm
  FROM g LEFT JOIN c12 USING (gram)
         LEFT JOIN c1 ON split_part(g.gram, ' ', 1) = c1.w1
         LEFT JOIN cont ON split_part(g.gram, ' ', 2) = cont.w2
         CROSS JOIN t
), per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(oov) AS BIGINT) AS n_oov_bigrams,
         CAST(SUM(ppm) AS BIGINT) AS ppm_sum
  FROM s GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.n_oov_bigrams, 0) AS n_oov_bigrams,
       p.ppm_sum // p.n_bigrams AS lm_avg_ppm,
       CASE WHEN p.ppm_sum IS NULL THEN true
            ELSE (p.ppm_sum // p.n_bigrams) >= {LM_BACKOFF_KEEP_MIN_PPM} END AS keep
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY doc_id
"""


# ------------------------------------------------- trained quality classifier
# The curated-vs-crawl discriminator every large-scale LLM data pipeline runs
# (GPT-3 / PaLM style: positives = curated sources, negatives = raw crawl;
# keep crawl documents that SCORE like curated ones). Reference scope: the
# reference has no trained models at all — this extends the engine's
# trained-in-engine family (BPE merges, char-trigram langid, bigram LM).

CURATED_SOURCES = ("src0", "src1", "src2", "src3")
CONTRAST_BUCKETS = 4096
CONTRAST_FP = 1_000_000


def _contrast_grams(docs: DataFrame, pos_col) -> DataFrame:
    """(doc_id, is_pos, b): one hashed-bucket row per token OCCURRENCE —
    the single shared projection both the trainer and the scorer read."""
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            pos_col.alias("is_pos"),
            F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .select(
            "doc_id",
            "is_pos",
            F.pmod(T.token_hash(F.col("tok")), F.lit(CONTRAST_BUCKETS)).alias(
                "b"
            ),
        )
    )


def train_token_contrast(grams: DataFrame) -> DataFrame:
    """(b, w): hashed-bucket token-contrast weights. The model is the
    fixed-point, log-free analog of naive-Bayes log-odds: per bucket,
    add-one-smoothed occurrence frequency in the positive class minus the
    negative class, in parts-per-million (floating logs are not
    bit-portable across engines; the frequency CONTRAST preserves the
    discriminative sign structure and stays integer-exact, the same
    trade the langid profiles make). Hashing tokens into a fixed 4096
    buckets bounds the model at kilobytes REGARDLESS of corpus vocabulary
    — the fastText trick, and what makes the weights broadcastable after
    training over 100 TB. Training is ONE grouped conditional aggregate
    over the gram stream (map-side combined, 4096 result rows) plus a
    1-row total — no iteration, no driver-side math beyond none."""
    counts = grams.groupBy("b").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("cp"),
        F.sum(F.when(~F.col("is_pos"), 1).otherwise(0)).alias("cn"),
    )
    tot = grams.agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_pos"), 1).otherwise(0)).alias("tn"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.expr(
                f"({CONTRAST_FP}L * (cp + 1)) div (tp + {CONTRAST_BUCKETS})"
            )
            - F.expr(
                f"({CONTRAST_FP}L * (cn + 1)) div (tn + {CONTRAST_BUCKETS})"
            )
        ).alias("w"),
    )


def score_token_contrast(
    docs: DataFrame, grams: DataFrame, weights: DataFrame
) -> DataFrame:
    """(doc_id, source, contrast_score, looks_curated): per-document sum
    of broadcast bucket weights over token occurrences; a document scoring
    above zero 'looks curated' — on crawl documents that is exactly the
    keep signal the GPT-3-style pipeline selects on. Documents with NULL
    text score 0 (left join + coalesce, the langid contract).

    Calibration caveat, stated plainly: under UNEQUAL class sizes the
    log-free contrast is biased negative (add-one smoothing shrinks the
    smaller class's frequencies harder), so at weak-label scale every
    score can sit below zero and the fixed >0 threshold keeps nothing —
    deploy with a threshold picked from text_classifier_eval's decile
    sweep instead. On balanced classes (the held-out pytest) zero
    separates correctly."""
    s = (
        grams.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("contrast_score"))
    )
    return (
        docs.select("doc_id", "source")
        .join(s, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("contrast_score", F.lit(0).cast("long")).alias(
                "contrast_score"
            ),
            (F.coalesce("contrast_score", F.lit(0).cast("long")) > 0).alias(
                "looks_curated"
            ),
        )
    )


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated rendering: weak labels from the source column (curated =
    CURATED_SOURCES), train the contrast weights in-engine, score every
    document — training and scoring share ONE persisted tokenized gram
    projection (the corpus_build_full single-pass discipline: without it
    the corpus is tokenized twice). The oracle replays training AND
    scoring from the same weak labels, so the driver's hash gate verifies
    the trained model end-to-end — the text_langid_trained pattern."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    grams = _contrast_grams(
        docs, F.col("source").isin(*CURATED_SOURCES)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    weights = train_token_contrast(grams)
    return score_token_contrast(docs, grams, weights).orderBy("doc_id")


_CURATED_IN = ", ".join(f"'{s}'" for s in CURATED_SOURCES)

TEXT_QUALITY_CLASSIFIER_SQL = f"""
WITH g AS (
  SELECT doc_id, is_pos,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT % {CONTRAST_BUCKETS} AS b
  FROM (
    SELECT doc_id, source IN ({_CURATED_IN}) AS is_pos,
           unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE text IS NOT NULL
  )
),
counts AS (
  SELECT b, SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS cp,
         SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS cn
  FROM g GROUP BY b
),
tot AS (
  SELECT SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS tn
  FROM g
),
w AS (
  SELECT b,
         ({CONTRAST_FP} * (cp + 1)) // (tp + {CONTRAST_BUCKETS})
         - ({CONTRAST_FP} * (cn + 1)) // (tn + {CONTRAST_BUCKETS}) AS w
  FROM counts CROSS JOIN tot
),
s AS (
  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS contrast_score
  FROM g JOIN w USING (b) GROUP BY doc_id
)
SELECT d.doc_id, d.source,
       COALESCE(s.contrast_score, 0) AS contrast_score,
       COALESCE(s.contrast_score, 0) > 0 AS looks_curated
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


EVAL_DECILES = (10, 30, 50, 70, 90)
EVAL_HIST_BINS = 256


def text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration sweep for the trained classifier — the
    evaluation harness a training-data pipeline runs before deploying a
    filter, and here it is LOAD-BEARING: at weak-label scale the linear
    frequency contrast is biased negative (add-one smoothing shrinks the
    smaller positive class harder — a documented property of the log-free
    form), so the naive looks_curated>0 threshold keeps nothing from
    crawl; the sweep shows precision/recall at the OBSERVED score
    deciles, which is how the deployment threshold gets picked.

    Thresholds come from the FIXED-BIN HISTOGRAM idiom (the
    ev_hist_value_quantiles machinery, specialized to an ungrouped
    distribution): min/max in one 1-row aggregate fixes 256 equal-width
    integer bins, the per-bin count is one map-side-combinable grouped
    count bounded at 256 rows, and the decile threshold is the LOWER
    BOUND of the first bin whose cumulative count reaches
    ceil(q*n/100): a one-bin-granularity inverted CDF, all integer
    arithmetic (`//` on non-negative operands only), reproducible in
    the DuckDB oracle. The 1-row min/max aggregate and the <=512-row
    (bin, is_pos) histogram are COLLECTED to the driver as bounded
    planning state (the bloom.py / similarity.py quantizer precedent —
    kilobytes, independent of corpus size). Because each threshold is a
    bin lower bound, `score >= thr` is EXACTLY `bin >= b` under floor
    binning, so thresholds AND the full confusion matrix are lossless
    suffix-sums over that bounded histogram — the result is a 5-row
    local relation and no third pass over the corpus exists at all.
    The expensive scoring lineage is evaluated EXACTLY ONCE: the eager
    min/max aggregate fills the persisted `scored` cache before the
    histogram scan, so there is no WindowExec and no broadcast-subquery
    recompute race (the r7 3x-recompute regression). Scale: one score
    pass (the classifier's own plan), one bounded histogram scan -
    nothing super-linear, no global sort, caches unpersisted before
    return."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    grams = _contrast_grams(
        docs, F.col("source").isin(*CURATED_SOURCES)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    weights = train_token_contrast(grams)
    scored = (
        score_token_contrast(docs, grams, weights)
        .select(
            "doc_id",
            F.col("source").isin(*CURATED_SOURCES).alias("is_pos"),
            "contrast_score",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager 1-row aggregate: computes the scoring chain once and fills the
    # cache; every later reference is a cache scan.
    lo, hi, n = scored.agg(
        F.min("contrast_score"), F.max("contrast_score"), F.count(F.lit(1))
    ).first()
    grams.unpersist()
    out_schema = (
        "q INT, thr BIGINT, tp BIGINT, fp BIGINT, fn BIGINT, tn BIGINT, "
        "precision_bp BIGINT, recall_bp BIGINT"
    )
    if n == 0 or lo is None:
        return spark.createDataFrame([], out_schema)
    bw = max(1, (hi - lo) // EVAL_HIST_BINS + 1)
    hist = (
        scored.groupBy(
            F.expr(f"(contrast_score - {lo}L) div {bw}L").alias("bin")
        , "is_pos")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )  # <= 2*EVAL_HIST_BINS rows of driver-side planning state
    scored.unpersist()
    # Because each decile threshold is a bin LOWER BOUND, score >= thr is
    # EXACTLY bin >= b under floor binning - so the confusion matrix is a
    # lossless suffix-sum over the bounded histogram, not an approximation,
    # and the third distributed pass over `scored` is unnecessary.
    pos = {int(r["bin"]): 0 for r in hist}
    neg = dict(pos)
    for r in hist:
        (pos if r["is_pos"] else neg)[int(r["bin"])] += int(r["c"])
    total_pos = sum(pos.values())
    total_neg = sum(neg.values())
    cum, rows = 0, []
    pending = sorted(EVAL_DECILES)
    bins = sorted(pos)
    for i, b in enumerate(bins):
        cum += pos[b] + neg[b]
        while pending and cum >= (pending[0] * n + 99) // 100:
            q = pending.pop(0)
            # suffix sums: everything in bins >= b scores >= thr
            tp = sum(pos[b2] for b2 in bins[i:])
            fp = sum(neg[b2] for b2 in bins[i:])
            fn = total_pos - tp
            tn = total_neg - fp
            rows.append(
                (
                    q,
                    lo + b * bw,
                    tp,
                    fp,
                    fn,
                    tn,
                    (10000 * tp) // (tp + fp) if tp + fp else None,
                    (10000 * tp) // (tp + fn) if tp + fn else None,
                )
            )
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(rows, out_schema)


TEXT_CLASSIFIER_EVAL_SQL = f"""
WITH g AS (
  SELECT doc_id, is_pos,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT % {CONTRAST_BUCKETS} AS b
  FROM (
    SELECT doc_id, source IN ({_CURATED_IN}) AS is_pos,
           unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE text IS NOT NULL
  )
),
counts AS (
  SELECT b, SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS cp,
         SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS cn
  FROM g GROUP BY b
),
tot AS (
  SELECT SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS tn
  FROM g
),
w AS (
  SELECT b,
         ({CONTRAST_FP} * (cp + 1)) // (tp + {CONTRAST_BUCKETS})
         - ({CONTRAST_FP} * (cn + 1)) // (tn + {CONTRAST_BUCKETS}) AS w
  FROM counts CROSS JOIN tot
),
s AS (
  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS contrast_score
  FROM g JOIN w USING (b) GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.source IN ({_CURATED_IN}) AS is_pos,
         COALESCE(s.contrast_score, 0) AS contrast_score
  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
),
mm AS (
  SELECT MIN(contrast_score) AS lo, MAX(contrast_score) AS hi,
         COUNT(*) AS n
  FROM scored
),
binned AS (
  SELECT lo, n,
         GREATEST(CAST(1 AS BIGINT), (hi - lo) // {EVAL_HIST_BINS} + 1) AS bw,
         contrast_score
  FROM scored CROSS JOIN mm
),
hist AS (
  SELECT (contrast_score - lo) // bw AS bin, lo, bw, n, COUNT(*) AS c
  FROM binned GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT a.bin, a.lo, a.bw, a.n, SUM(b.c) AS cum
  FROM hist a JOIN hist b ON b.bin <= a.bin
  GROUP BY 1, 2, 3, 4
),
thr AS (
  SELECT q, MIN(lo + bin * bw) AS thr
  FROM cum CROSS JOIN
       (SELECT unnest([{", ".join(str(q) for q in EVAL_DECILES)}]) AS q)
  WHERE cum >= (q * n + 99) // 100
  GROUP BY q
)
SELECT q, thr,
       CAST(SUM(CASE WHEN contrast_score >= thr AND is_pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN contrast_score >= thr AND NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN contrast_score < thr AND is_pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN contrast_score < thr AND NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST((10000 * SUM(CASE WHEN contrast_score >= thr AND is_pos THEN 1 ELSE 0 END))
         // nullif(SUM(CASE WHEN contrast_score >= thr THEN 1 ELSE 0 END), 0) AS BIGINT) AS precision_bp,
       CAST((10000 * SUM(CASE WHEN contrast_score >= thr AND is_pos THEN 1 ELSE 0 END))
         // nullif(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END), 0) AS BIGINT) AS recall_bp
FROM scored CROSS JOIN thr
GROUP BY q, thr
ORDER BY q
"""


NOVELTY_NGRAM = 3


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty under ingest order: of a document's
    distinct {NOVELTY_NGRAM}-gram shingles, how many appear in NO document
    with a smaller doc_id — the contribution-of-new-text measure a
    dedup-aware curation pipeline tracks (a re-crawl of yesterday's web
    scores ~0; memorization studies use exactly this first-occurrence
    framing). novelty_bp = 10⁴·n_novel div n_grams, integer-exact.

    Scale shape: one explode to (gram_hash, doc_id) grain, one grouped MIN
    per gram (map-side combinable — the global first-seer table), one join
    back on the 60-bit gram hash + a grouped count per doc. Exactly the
    contamination_report/tfidf plan family: gram-grain shuffles keyed on
    the hash, no windows, no pair joins. Docs shorter than the shingle
    width emit no row (they have no n-grams — stated contract).

    The shingle+hash build evaluates in the scan stage and this plan
    derives `grams` TWICE (first-seer aggregate + the join back), so the
    narrow projection is round-robin spread first (r11, the
    _with_signature move: a few-split scan otherwise runs the CPU-heavy
    gram pass serially, twice — measured 7.4 s → 1.6 s at sf0.1)."""
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .repartition(par)
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    T.word_shingles(T.tokens(F.col("text")), NOVELTY_NGRAM),
                    lambda g: T.token_hash(g),
                )
            )
        ).alias("gh"),
    )
    first_seen = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_seen, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("10000 * n_novel div n_grams").alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


def _ngram_novelty_sql() -> str:
    shingles = T.word_shingles_sql("string_split(text, ' ')", NOVELTY_NGRAM)
    gh = T.token_hash_sql("g")
    return f"""
WITH g2 AS (
  SELECT DISTINCT doc_id, {gh} AS gh
  FROM (SELECT doc_id, unnest({shingles}) AS g
        FROM documents WHERE text IS NOT NULL)
), first_seen AS (
  SELECT gh, MIN(doc_id) AS first_doc FROM g2 GROUP BY gh
)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(10000 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS novelty_bp
FROM g2 JOIN first_seen USING (gh)
GROUP BY doc_id
ORDER BY doc_id
"""




# blocklist safety gate: category -> (regex over the token stream, max hits
# before the doc is blocked). Word-boundary alternations only — the regex
# subset Java regex (Spark) and RE2 (DuckDB) treat identically.
BLOCKLIST = (
    ("perf", r"\b(slow|fast)\b", 5),
    ("infra", r"\b(spark|stream)\b", 5),
    ("sqlw", r"\b(join|merge|sort)\b", 8),
)


def text_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-category blocklist screen — the safety/content-policy filter
    stage of a corpus pipeline (PII regexes, banned phrases, boilerplate
    markers): per document, the hit count of every category's pattern and
    the gate verdict, with block_reason naming the FIRST category (in
    declaration order) whose count exceeds its threshold ('clean'
    otherwise). The category counts stay in the output so downstream
    triage can audit near-threshold docs — a bare boolean hides why.

    Scale: pure scan-local regexp_count expressions (one pass, no
    shuffle, whole-stage codegen — multi-pattern matching at 100 TB is
    embarrassingly parallel; an Aho-Corasick kernel would only matter at
    thousands of patterns, and would live behind the same column
    contract)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    out = docs.select(
        "doc_id",
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(f"n_{cat}")
            for cat, pat, _ in BLOCKLIST
        ],
    )
    blocked = None
    reason = None
    for cat, _, thr in BLOCKLIST:
        over = F.col(f"n_{cat}") > thr
        blocked = over if blocked is None else (blocked | over)
    for cat, _, thr in reversed(BLOCKLIST):
        hit = F.when(F.col(f"n_{cat}") > thr, F.lit(cat))
        reason = hit.otherwise(F.lit("clean")) if reason is None else hit.otherwise(reason)
    return out.select(
        "doc_id",
        *[f"n_{cat}" for cat, _, _ in BLOCKLIST],
        blocked.alias("blocked"),
        reason.alias("block_reason"),
    ).orderBy("doc_id")


def _blocklist_sql() -> str:
    counts = ",\n         ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{cat}"
        for cat, pat, _ in BLOCKLIST
    )
    blocked = " OR ".join(f"n_{cat} > {thr}" for cat, _, thr in BLOCKLIST)
    reason = "CASE " + " ".join(
        f"WHEN n_{cat} > {thr} THEN '{cat}'" for cat, _, thr in BLOCKLIST
    ) + " ELSE 'clean' END"
    cols = ", ".join(f"n_{cat}" for cat, _, _ in BLOCKLIST)
    return f"""
WITH c AS (
  SELECT doc_id,
         {counts}
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, {cols},
       ({blocked}) AS blocked,
       {reason} AS block_reason
FROM c ORDER BY doc_id
"""


# ------------------------------------------------- RAKE keyphrases (r13)
# RAKE (Rose et al. 2010, "Automatic Keyword Extraction from Individual
# Documents", public): candidate phrases are maximal stopword-delimited
# word runs; word score = deg(w)/freq(w) with deg(w) = Σ over the word's
# phrase occurrences of that phrase's length; phrase score = Σ member
# word scores. Integer rendering: word_score_milli = (1000·deg) div freq
# (truncating division, identical in both engines), phrase score = exact
# BIGINT sum — the bitwise-oracle discipline.
RAKE_TOP_K = 50


def rake_phrases(docs: DataFrame) -> DataFrame:
    """(phrase, n_words, n_occurrences, score_milli): corpus-level top-K
    keyphrases. Phrase extraction is the gaps-and-islands identity on
    word positions (grp = pos − rank among non-stopwords, per doc); word
    statistics are corpus-level grouped aggregates keyed on the word;
    the final cut is orderBy().limit() → TakeOrdered.

    100 TB shape: one posexplode scan, then joins/aggregates keyed on
    (doc_id, grp) and word — all map-side combinable; nothing global
    except the bounded top-K. The word-stats join back onto occ is a
    plain equi-join on the word key with NO broadcast hint (ADVICE r13:
    wstats is vocabulary-sized and vocabulary is unbounded at 100 TB, so
    a forced broadcast could exceed the driver/executor limits the
    repo's other broadcasts provably respect) — at small SF AQE still
    elects a runtime broadcast from actual sizes, at scale it falls back
    to shuffle, both correct by construction."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    words = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "w")
    ).filter(~F.col("w").isin(*T.STOPWORDS) & (F.col("w") != ""))
    wgrp = Window.partitionBy("doc_id").orderBy("pos")
    occ = words.withColumn(
        "grp", F.col("pos") - F.row_number().over(wgrp)
    )
    phrases = occ.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x.w,
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstats = (
        occ.join(phrases.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
        .groupBy("w")
        .agg(F.sum("plen").alias("deg"), F.count(F.lit(1)).alias("freq"))
        .withColumn("wscore", F.expr("(1000 * deg) div freq"))
    )
    # plain shuffle equi-join on the word key, NOT a broadcast: wstats is
    # vocabulary-sized, and vocabulary is unbounded at 100 TB — the repo's
    # broadcast discipline admits only Catalyst-provable row bounds
    # (ADVICE r13). The occ side is already hashed on compatible keys, so
    # the exchange is the ordinary aggregate shuffle.
    pscore = (
        occ.join(wstats.select("w", "wscore"), "w")
        .groupBy("doc_id", "grp")
        .agg(F.sum("wscore").alias("score_milli"))
    )
    return (
        phrases.join(pscore, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.min("plen").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("score_milli").alias("score_milli"),
        )
        .orderBy(F.col("score_milli").desc(), "phrase")
        .limit(RAKE_TOP_K)
    )


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r13 (gates r14): RAKE keyphrase extraction over the
    documents table — the keyword miner beside tf-idf's term weighting
    (RAKE scores multi-word PHRASES, which tf-idf's unigram view
    cannot)."""
    return rake_phrases(load_table(spark, sf_dir, "documents"))


def _rake_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_rake_oracle_agrees_cross_engine; registers r14): same islands,
    same corpus-level word stats, same integer scores."""
    stop = ", ".join(f"'{s}'" for s in T.STOPWORDS)
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id, u.pos AS pos, u.w AS w FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t)+1),
           __i -> {{'pos': __i, 'w': t[__i]}})) AS u
    FROM toks
  )
),
occ AS (
  SELECT doc_id, pos, w,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM pos WHERE w NOT IN ({stop}) AND w != ''
),
phrases AS (
  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM occ GROUP BY doc_id, grp
),
wstats AS (
  SELECT o.w, (1000 * SUM(p.plen)) // COUNT(*) AS wscore
  FROM occ o JOIN phrases p USING (doc_id, grp)
  GROUP BY o.w
),
pscore AS (
  SELECT o.doc_id, o.grp, SUM(s.wscore) AS score_milli
  FROM occ o JOIN wstats s USING (w)
  GROUP BY o.doc_id, o.grp
)
SELECT p.phrase AS phrase,
       CAST(MIN(p.plen) AS BIGINT) AS n_words,
       COUNT(*) AS n_occurrences,
       CAST(MIN(sc.score_milli) AS BIGINT) AS score_milli
FROM phrases p JOIN pscore sc USING (doc_id, grp)
GROUP BY p.phrase
ORDER BY score_milli DESC, phrase
LIMIT {RAKE_TOP_K}
"""


# ---------------------------------------------- PMI collocations (r13)
# Pointwise mutual information for collocation mining (Church & Hanks
# 1990, public): PMI(x,y) = log(N·c_xy / (c_x·c_y)). log is monotone, so
# RANKING by PMI needs no log at all — the integer
# pmi_ratio_ppm = (N·c_xy·10^6) div (c_x·c_y) orders identically (up to
# the fixed-point floor) and stays in exact BIGINT arithmetic, the
# bitwise-oracle discipline. A minimum pair count screens the
# low-frequency PMI pathology (hapax pairs score arbitrarily high).
PMI_MIN_PAIR = 5
PMI_TOP_K = 50


def pmi_pair_counts(docs: DataFrame) -> DataFrame:
    """(w1, w2, n_pair): adjacent-bigram counts from one scan-local zip of
    the token array with its tail (no self-join), one map-side-combinable
    groupBy. ADDITIVE across micro-batches — the streaming twin's state
    cells; everything else PMI needs (unigram counts, the total) is a
    MARGINAL of this table."""
    toks = docs.select(F.split("text", " ").alias("t"))
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    return big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))


def pmi_from_pairs(pair: DataFrame) -> DataFrame:
    """(w1, w2, n_pair, n_w1, n_w2, pmi_ratio_ppm): the PMI finisher over
    a pair-count table. Unigram counts and the bigram total are marginals
    of the pair table (n_w1 = Σ n_pair over w1, etc.), so the finisher
    never needs the raw corpus — shared verbatim by the batch query and
    the streaming twin's read side. The unigram marginals join back on
    their word keys as plain shuffle equi-joins, NOT broadcasts:
    vocabulary is unbounded at 100 TB and the repo's broadcast discipline
    admits only Catalyst-provable row bounds (ADVICE r13) — the only
    broadcast left is the provable 1-row total. The final cut is
    TakeOrdered."""
    total = pair.agg(F.sum("n_pair").alias("n_total"))
    u1 = pair.groupBy("w1").agg(F.sum("n_pair").alias("n_w1"))
    u2 = pair.groupBy("w2").agg(F.sum("n_pair").alias("n_w2"))
    return (
        pair.filter(F.col("n_pair") >= PMI_MIN_PAIR)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total.limit(1)))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            # intermediates widened to DECIMAL(38,0): n_total·n_pair·10^6
            # overflows BIGINT long before any interesting corpus does
            # (review r13); the QUOTIENT is a ppm ratio that fits BIGINT
            # for any meaningful PMI (it would need to exceed 9.2e18 ppm)
            F.expr(
                "CAST((CAST(n_total AS DECIMAL(38,0)) * n_pair * 1000000)"
                " div (CAST(n_w1 AS DECIMAL(38,0)) * n_w2) AS LONG)"
            ).alias("pmi_ratio_ppm"),
        )
        .orderBy(F.col("pmi_ratio_ppm").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Batch composition: pair counts → marginals → ranked collocations."""
    return pmi_from_pairs(pmi_pair_counts(docs))


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r13 (gates r14): adjacent-word collocations over the
    documents table — the phrase-discovery primitive beside RAKE's
    stopword-delimited extraction (PMI finds statistically bound pairs,
    RAKE finds delimiter-bounded runs)."""
    return pmi_collocations(load_table(spark, sf_dir, "documents"))


def _pmi_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_pmi_oracle_agrees_cross_engine; registers r14)."""
    return f"""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT t[__i] AS w1, t[__i + 1] AS w2
  FROM (SELECT t, unnest(range(1, len(t))) AS __i FROM toks)
  WHERE t[__i] != '' AND t[__i + 1] != ''
),
pair AS (SELECT w1, w2, COUNT(*) AS n_pair FROM big GROUP BY w1, w2),
total AS (SELECT COUNT(*) AS n_total FROM big),
u1 AS (SELECT w1, COUNT(*) AS n_w1 FROM big GROUP BY w1),
u2 AS (SELECT w2, COUNT(*) AS n_w2 FROM big GROUP BY w2)
SELECT p.w1 AS w1, p.w2 AS w2, p.n_pair AS n_pair,
       u1.n_w1 AS n_w1, u2.n_w2 AS n_w2,
       CAST((CAST(t.n_total AS HUGEINT) * p.n_pair * 1000000)
            // (CAST(u1.n_w1 AS HUGEINT) * u2.n_w2) AS BIGINT)
         AS pmi_ratio_ppm
FROM pair p JOIN u1 USING (w1) JOIN u2 USING (w2) CROSS JOIN total t
WHERE p.n_pair >= {PMI_MIN_PAIR}
ORDER BY pmi_ratio_ppm DESC, w1, w2
LIMIT {PMI_TOP_K}
"""


QUERIES = {
    "text_token_stats": text_token_stats,
    "text_ngram_novelty": text_ngram_novelty,
    "text_quality_score": text_quality_score,
    "text_langid": text_langid,
    "text_langid_trained": text_langid_trained,
    "text_normalize": text_normalize,
    "text_fingerprint": text_fingerprint,
    "text_word_frequencies": text_word_frequencies,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_pii_redact": text_pii_redact,
    "text_repetition_score": text_repetition_score,
    "text_decontaminate": text_decontaminate,
    "text_dupspan_remove": text_dupspan_remove,
    "text_subword_tokens": text_subword_tokens,
    "text_bpe_tokens": text_bpe_tokens,
    "text_lm_score": text_lm_score,
    "text_lm_backoff": text_lm_backoff,
    "text_quality_classifier": text_quality_classifier,
    "text_classifier_eval": text_classifier_eval,
    "text_blocklist_gate": text_blocklist_gate,
    "text_rake_keywords": text_rake_keywords,
    "text_pmi_collocations": text_pmi_collocations,
    "text_readability_score": text_readability_score,
    "corpus_tokenizer_fertility": corpus_tokenizer_fertility,
}

ORACLE = {
    "text_token_stats": TEXT_TOKEN_STATS_SQL,
    "text_ngram_novelty": _ngram_novelty_sql(),
    "text_quality_score": TEXT_QUALITY_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_langid_trained": _langid_trained_sql(),
    "text_normalize": TEXT_NORMALIZE_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_word_frequencies": TEXT_WORD_FREQ_SQL,
    "text_tfidf_top_terms": TEXT_TFIDF_SQL,
    "text_pii_redact": TEXT_PII_SQL,
    "text_repetition_score": TEXT_REPETITION_SQL,
    "text_decontaminate": TEXT_DECONTAMINATE_SQL,
    "text_dupspan_remove": TEXT_DUPSPAN_SQL,
    "text_subword_tokens": TEXT_SUBWORD_SQL,
    "text_bpe_tokens": _bpe_sql(),
    "text_lm_score": _lm_sql(),
    "text_lm_backoff": _lm_backoff_sql(),
    "text_quality_classifier": TEXT_QUALITY_CLASSIFIER_SQL,
    "text_classifier_eval": TEXT_CLASSIFIER_EVAL_SQL,
    "text_blocklist_gate": _blocklist_sql(),
    "text_rake_keywords": _rake_sql(),
    "text_pmi_collocations": _pmi_sql(),
    "text_readability_score": TEXT_READABILITY_SQL,
    "corpus_tokenizer_fertility": _fertility_sql(),
}
