"""Structured Streaming: the reference's streaming ETL, Spark-first.

Reference path (Kinesis_Processing.ipynb): Kinesis stream → cast(data as
string) → from_json(explicit StructType) → flatten → the same cleaning
functions as batch → Delta append sink with checkpointing.

Local stand-in: the Kinesis connector is Databricks-proprietary, so the
unbounded source is a file stream with the identical downstream contract —
a `data: string` column holding one JSON record (Kinesis_Processing
.ipynb:712); everything after the source is the same code that would run
against Kafka/Kinesis (`spark.readStream.format("kafka")` swaps in with two
lines).

Deliberate fixes over the reference (SURVEY.md §7):
- one checkpoint directory **per query** (the reference reuses
  /tmp/kinesis/_checkpoints/ for all three streams — :1613-1617);
- cleaning is literally the batch combinator library
  (functions/cleaning.py), so batch/stream equivalence holds by
  construction *and* is asserted by test;
- watermarked event-time windowed aggregation is exposed (ST4) — the
  reference never aggregates on the stream.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.cleaning import clean_geo, clean_pin, clean_user
from ..schemas import GEO_RAW, PIN_RAW, USER_RAW

BLOB_SCHEMA = StructType([StructField("data", StringType())])

RAW_BY_TABLE = {"pin": PIN_RAW, "geo": GEO_RAW, "user": USER_RAW}
CLEANERS = {"pin": clean_pin, "geo": clean_geo, "user": clean_user}


def blob_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded source stand-in (S3): JSON-lines files, each line
    `{"data": "<json record>"}` — the Kinesis record-blob contract."""
    reader = spark.readStream.format("json").schema(BLOB_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


# The Kafka source's fixed wire schema (Spark docs, Structured Streaming +
# Kafka integration): every record arrives with these seven columns
# regardless of topic. Downstream code consumes only `value`.
KAFKA_WIRE_COLUMNS = (
    ("key", "binary"),
    ("value", "binary"),
    ("topic", "string"),
    ("partition", "int"),
    ("offset", "bigint"),
    ("timestamp", "timestamp"),
    ("timestampType", "int"),
)


def kafka_records_to_blob(records: DataFrame) -> DataFrame:
    """Kafka wire records → the `data: string` blob contract shared with the
    file stand-in (S7): cast the value bytes to string. Works identically on
    batch and streaming DataFrames, so the contract is testable without a
    broker."""
    return records.select(F.col("value").cast("string").alias("data"))


def kafka_blob_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """The two-line Kafka swap for `blob_file_stream` (S7): same downstream
    contract (`data: string`), earliest-offset unbounded read (ST1).
    Requires the spark-sql-kafka connector package on the classpath."""
    records = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return kafka_records_to_blob(records)


def decode_blob(stream: DataFrame, schema: StructType) -> DataFrame:
    """cast → from_json(explicit schema) → flatten (S4,
    Kinesis_Processing.ipynb:702-713)."""
    return stream.select(
        F.from_json(F.col("data").cast("string"), schema).alias("our_data")
    ).select("our_data.*")


def decode_blob_with_quarantine(
    stream: DataFrame, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """decode_blob plus a corrupt-record quarantine — the production shape:
    under PERMISSIVE parsing `from_json` turns an unparseable blob into a
    struct of all-null fields, which a plain decode silently flattens into
    a row indistinguishable from valid-but-null data. Here the parse runs
    with `columnNameOfCorruptRecord` (the documented corrupt-record
    channel: the raw text lands in that field iff parsing failed) and the
    split is explicit:

    - good: rows whose blob parsed, flattened to the schema;
    - quarantine: rows whose blob failed to parse (reason
      ``malformed_json``, raw payload preserved) AND rows whose blob is
      NULL (reason ``null_payload``) — nothing is silently lost; route to
      a dead-letter sink and replay after a producer fix instead of
      polluting the table.

    Works identically on batch and streaming DataFrames (stateless
    filters), so the quarantine contract is testable batch-side and holds
    per micro-batch."""
    from pyspark.sql.types import StringType, StructField

    corrupt_col = "__corrupt_record"
    parse_schema = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType())]
    )
    raw = F.col("data").cast("string")
    parsed = stream.select(
        raw.alias("__raw"),
        F.from_json(
            raw, parse_schema, {"columnNameOfCorruptRecord": corrupt_col}
        ).alias("our_data"),
    )
    bad_marker = F.col(f"our_data.{corrupt_col}")
    good = (
        parsed.filter(F.col("__raw").isNotNull() & bad_marker.isNull())
        .select("our_data.*")
        .drop(corrupt_col)
    )
    quarantine = parsed.filter(
        F.col("__raw").isNull() | bad_marker.isNotNull()
    ).select(
        F.col("__raw").alias("raw_payload"),
        F.when(F.col("__raw").isNull(), F.lit("null_payload"))
        .otherwise(F.lit("malformed_json"))
        .alias("reason"),
    )
    return good, quarantine


def cleaned_stream(spark: SparkSession, src_dir: str, table: str) -> DataFrame:
    """source → decode → the shared batch cleaning pipeline (ST2)."""
    raw = decode_blob(blob_file_stream(spark, src_dir), RAW_BY_TABLE[table])
    return CLEANERS[table](raw)


def write_append_stream(
    df: DataFrame,
    out_path: str,
    checkpoint_root: str,
    query_name: str,
    fmt: str = "parquet",
    available_now: bool = False,
) -> StreamingQuery:
    """Append-mode sink with a per-query checkpoint dir (S5/ST3, fixing the
    reference's shared-checkpoint bug).

    ``available_now=True`` uses Trigger.AvailableNow — process everything
    available then STOP, resuming from the checkpoint next invocation.
    This is how the reference's daily-Airflow cadence (dag/pipeline_dag.py)
    should drive a streaming pipeline: each scheduled run drains the
    backlog incrementally with streaming exactly-once semantics instead of
    re-reading the source or running a 24/7 cluster."""
    checkpoint = os.path.join(checkpoint_root, query_name)
    writer = (
        df.writeStream.format(fmt)
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_table_etl(
    spark: SparkSession,
    src_dir: str,
    table: str,
    out_root: str,
) -> StreamingQuery:
    """End-to-end streaming ETL for one table: blob files → clean → parquet
    append. Mirrors Kinesis_Processing.ipynb cells 8→32."""
    df = cleaned_stream(spark, src_dir, table)
    return write_append_stream(
        df,
        out_path=os.path.join(out_root, f"{table}_table"),
        checkpoint_root=os.path.join(out_root, "_checkpoints"),
        query_name=f"{table}_etl",
    )


def dedup_stream(
    df: DataFrame,
    subset: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop records whose `subset` key was already
    seen within the watermark horizon — the unbounded form of
    dedup_exact/dedup_compact_corpus. `dropDuplicatesWithinWatermark` keeps
    per-key state only until the watermark passes, so state size is bounded
    by the horizon's key cardinality, not the stream's lifetime (a plain
    dropDuplicates on a stream grows state forever)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(subset)


def stream_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lts: str,
    rts: str,
    tolerance: str = "1 hour",
    right_ts_as: str = "asof_ts",
    watermark: str = "2 hours",
    emit_window: str = "10 minutes",
    direction: str = "backward",
) -> DataFrame:
    """Watermarked stream-stream AS-OF join (VERDICT r9 #8): for each left
    row, the greatest right `rts` <= `lts` (direction='backward', the
    default) or the smallest right `rts` >= `lts` ('forward') within
    `tolerance` on the same `key`; left rows with no in-tolerance right
    keep NULL — exactly operators/asof.asof_join(direction=...,
    tolerance_us=...), the one temporal-join family member that had no
    streaming rendering.

    Streaming plan (two chained stateful operators, Spark >= 3.5's
    multiple-stateful-operator support): a LEFT-OUTER time-interval
    stream-stream join surfaces every in-tolerance candidate (state
    bounded by watermark + the join's time-range condition), then an
    event-time-windowed MAX per left row elects the nearest candidate and
    emits once the watermark closes the left row's `emit_window` — which
    is also what makes LATE rights (inside the watermark) land correctly:
    the election only finalizes after no earlier candidate can arrive.
    The batch union+carry-forward plan (one unbounded window) is not
    streaming-expressible; candidates-then-elect is its bounded-state
    equivalent, value-equal because max(rts in [lts - tol, lts]) IS the
    backward-nearest match.

    Contract: left rows must be unique on `left.columns` (they are the
    GROUP key of the election — duplicates would collapse into one output
    row; not runtime-guardable on an unbounded stream without extra
    state, so it stays a documented precondition); both ts columns must
    share a dtype (operators/asof's DTYPE CONTRACT).

    Identifier hygiene (ADVICE r10): `key`/`lts` are interpolated into
    SQL expressions backtick-quoted, so column names needing quoting
    (spaces, dots) bind correctly; the reserved working columns
    (__rkey/__rts/__w and the output column) are rejected early if the
    inputs already carry them, instead of silently misbinding."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    reserved = {"__rkey", "__rts", "__w", right_ts_as}
    clash = sorted(reserved & set(left.columns) | reserved & set(right.columns))
    if clash:
        raise ValueError(
            f"input columns collide with stream_asof_join working columns: {clash}"
        )

    def _bq(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"
    # The election groups on the left row INCLUDING its exact event time,
    # but only ONE event-time column may survive into a stateful operator
    # — the window() derived from lts carries the watermark, so the
    # grouped lts value is re-derived through an integer-exact
    # micros roundtrip that strips the event-time tag.
    lcols = [
        F.timestamp_micros(F.unix_micros(F.col(_bq(c)))).alias(c) if c == lts
        else F.col(_bq(c))
        for c in left.columns
    ]
    lw = left.withWatermark(lts, watermark)
    rw = right.select(
        F.col(_bq(key)).alias("__rkey"), F.col(_bq(rts)).alias("__rts")
    ).withWatermark("__rts", watermark)
    if direction == "backward":
        cond = f"__rts BETWEEN {_bq(lts)} - INTERVAL {tolerance} AND {_bq(lts)}"
        elect = F.max("__rts")  # nearest prior = greatest in-window rts
    else:
        cond = f"__rts BETWEEN {_bq(lts)} AND {_bq(lts)} + INTERVAL {tolerance}"
        elect = F.min("__rts")  # nearest later = smallest in-window rts
    joined = lw.join(
        rw,
        F.expr(f"{_bq(key)} = __rkey AND {cond}"),
        "leftOuter",
    )
    return (
        joined.groupBy(F.window(F.col(_bq(lts)), emit_window).alias("__w"), *lcols)
        .agg(elect.alias(right_ts_as))
        .drop("__w")
    )


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming-aggregation
    extension (ST4). Works identically on batch DataFrames (the batch
    formulation is plans/events.ev_counts_hourly)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), key_col, "n_events")
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Overlapping (sliding) windowed counts: each event lands in
    window/slide windows (4 here), the moving-average shape tumbling
    windows can't express. State per key is bounded by watermark/slide
    open windows; at scale the slide ratio is the state-size knob."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


# ------------------------------------------------------- incremental state
class IncrementalState:
    """The one on-disk format every incremental twin below shares. A state
    is a set of named partials, each a mergeable summary (additive cells,
    set unions, min-k / re-rank candidates, carry chains; the KMV,
    count-min, HLL and histogram states are the mergeable summaries of
    *Approximation Algorithms for Large Scale Data Analysis*, PODS 2021),
    declared with its DDL schema; the twin supplies the per-batch partial
    computation and the read-time merge + batch finisher.

    REPLAY IDEMPOTENCE: foreachBatch is at-least-once, so each batch's
    partials land in their own ``{state_dir}/{sub}/batch_id=<bid>``
    partition written with ``mode("overwrite")``. A batch replayed after a
    crash rewrites its partition instead of appending a duplicate, and no
    state lives in executor memory, so the state survives restarts with
    the stream's checkpoint.

    Assembly reads every partial across all batches (partition
    discovery's ``batch_id`` column dropped) or, for a ``carry`` partial
    (a chain whose generation b is a function of generation b-1 and batch
    b), its latest generation only. A partial with nothing landed reads as
    a zero-row frame of its declared schema, so before the first batch an
    assembly is the merge over zero-row partials: ``.limit(0)`` of it, or,
    for a ``report`` state (a fixed-shape zero report, or a report whose
    other side is a static baseline), that result itself."""

    def __init__(self, *, report: bool = False, carry: tuple = (), **partials: str):
        """``partials``: name -> DDL schema; ``carry``: the partial names
        read at their latest generation only."""
        self.report, self.carry, self.partials = report, carry, partials

    @staticmethod
    def _path(state_dir: str, sub: str, batch_id: int | None = None) -> str:
        return f"{state_dir}/{sub}" + ("" if batch_id is None else f"/batch_id={batch_id}")

    def write(self, state_dir: str, batch_id: int, **frames: DataFrame) -> None:
        """Land one micro-batch's partials, one overwritten partition each."""
        for sub, df in frames.items():
            df.write.mode("overwrite").parquet(self._path(state_dir, sub, batch_id))

    def read(
        self, spark: SparkSession, state_dir: str, sub: str, batch_id: int | None = None
    ) -> DataFrame:
        """One partial: every batch's rows, or one batch's; the zero-row
        frame of its declared schema where nothing has landed."""
        path = self._path(state_dir, sub, batch_id)
        if not os.path.isdir(path):
            return spark.createDataFrame([], self.partials[sub])
        return spark.read.parquet(path).drop("batch_id")

    def _latest(self, state_dir: str, sub: str) -> int | None:
        root = self._path(state_dir, sub)
        names = os.listdir(root) if os.path.isdir(root) else []
        bids = [int(d.split("=", 1)[1]) for d in names if d.startswith("batch_id=")]
        return max(bids, default=None)

    def assemble(self, spark: SparkSession, state_dir: str, merge) -> DataFrame:
        """``merge({sub: partial})`` over the accumulated state."""
        landed = any(os.path.isdir(self._path(state_dir, s)) for s in self.partials)
        out = merge({
            sub: self.read(spark, state_dir, sub,
                           self._latest(state_dir, sub) if sub in self.carry else None)
            for sub in self.partials
        })
        return out if landed or self.report else out.limit(0)

    @staticmethod
    def attach(
        stream: DataFrame, checkpoint: str, write, *args, **kwargs
    ) -> StreamingQuery:
        """Run ``write(batch_df, *args, batch_id=<bid>, **kwargs)`` on every
        micro-batch of ``stream`` (foreachBatch, checkpointed at
        ``checkpoint``). Batch ids are sequential per query, which is the
        carry chains' prev = bid - 1 contract."""
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: write(df, *args, batch_id=bid, **kwargs)
            )
            .option("checkpointLocation", checkpoint)
            .start()
        )


def _sum_counters(counters: DataFrame) -> DataFrame:
    """One row: every counter column summed across batches, 0 where no
    batch counted anything (``F.sum`` over a quiet trigger's zero rows is
    NULL)."""
    return counters.agg(
        *(F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c) for c in counters.columns)
    )


# --------------------------------------------------------- incremental report
QUALITY_STATE = IncrementalState(
    report=True,
    counters="n_docs bigint, n_tokens bigint, n_quality_pass bigint, "
    "n_repetition_pass bigint, n_contaminated bigint",
    keys="kind string, value string",
)


def quality_state_batch(
    batch_df: DataFrame, bench: DataFrame, state_dir: str, batch_id: int = -1
) -> None:
    """One micro-batch's contribution to the incremental curation
    dashboard. Everything the report needs decomposes into either
    (a) summable integer counters — docs, tokens, quality passes,
    repetition passes (the bigram gate is within-doc), contamination hits
    vs the STATIC eval set — one ``counters`` row; or (b)
    distinct-at-report-time key sets — content digests (cross-batch exact
    dups!), langs, sources — as (kind, value) ``keys`` rows. The
    per-batch work is the SAME gate expressions the batch report runs."""
    from ..functions import text as T
    from ..operators.corpus import QUALITY_THRESHOLD
    from ..operators.text_analysis import contamination_report_vs, repetition_flags

    docs = batch_df.filter(F.col("text").isNotNull())
    toks = T.tokens(F.col("text"))
    qual = T.quality_score(toks) >= QUALITY_THRESHOLD
    n_rep = repetition_flags(docs).agg(
        F.count_if(F.col("keep")).alias("n_repetition_pass")
    )
    n_cont = contamination_report_vs(docs, bench).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    counters = (
        docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(toks).cast("bigint")).alias("n_tokens"),
            F.count_if(qual).alias("n_quality_pass"),
        )
        .crossJoin(F.broadcast(n_rep))
        .crossJoin(F.broadcast(n_cont))
    )
    keys = (
        docs.select(F.lit("digest").alias("kind"), F.md5("text").alias("value"))
        .unionAll(docs.select(F.lit("lang").alias("kind"), F.col("lang").alias("value")))
        .unionAll(
            docs.select(F.lit("source").alias("kind"), F.col("source").alias("value"))
        )
        .distinct()
    )
    QUALITY_STATE.write(state_dir, batch_id, counters=counters, keys=keys)


def attach_quality_report_stream(
    stream_docs: DataFrame, bench: DataFrame, state_dir: str, checkpoint: str
) -> StreamingQuery:
    """Run the incremental dashboard over a document stream (the
    multi-aggregate report cannot be one streaming query, which is
    exactly why it decomposes into mergeable state)."""
    return IncrementalState.attach(
        stream_docs, checkpoint, quality_state_batch, bench, state_dir
    )


def incremental_quality_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the dashboard from the accumulated state: sum the counter
    rows, count distinct keys per kind. Emits EXACTLY the
    corpus.quality_report_vs schema, and (pytest-proved) exactly its
    values over the union of all processed batches — including
    cross-batch exact duplicates, which per-batch reports cannot see.
    With no documents yet (before the first batch, or after only quiet
    triggers) it is the all-zero report; zero-doc division yields NULL
    bps."""

    def merge(p: dict) -> DataFrame:
        def n_distinct(kind: str, alias: str) -> DataFrame:
            return (
                p["keys"].filter(F.col("kind") == kind)
                .select("value")
                .distinct()
                .agg(F.count(F.lit(1)).alias(alias))
            )

        return (
            _sum_counters(p["counters"])
            .crossJoin(F.broadcast(n_distinct("digest", "n_unique_texts")))
            .crossJoin(F.broadcast(n_distinct("lang", "n_langs")))
            .crossJoin(F.broadcast(n_distinct("source", "n_sources")))
            .select(
                "n_docs",
                "n_tokens",
                F.expr("n_quality_pass * 10000 div nullif(n_docs, 0)").alias(
                    "quality_pass_bp"
                ),
                F.expr("n_repetition_pass * 10000 div nullif(n_docs, 0)").alias(
                    "repetition_pass_bp"
                ),
                F.expr("n_contaminated * 10000 div nullif(n_docs, 0)").alias(
                    "contaminated_bp"
                ),
                (F.col("n_docs") - F.col("n_unique_texts")).alias("n_exact_dup_docs"),
                "n_langs",
                "n_sources",
            )
        )

    return QUALITY_STATE.assemble(spark, state_dir, merge)


# ------------------------------------------------- incremental retention
RETENTION_STATE = IncrementalState(activity="user_id bigint, w timestamp")


def retention_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's contribution to the incremental retention
    triangle. The triangle decomposes into ONE piece of mergeable state:
    the distinct (user_id, activity-week) set — both the cohort (a user's
    MIN week) and every offset count are functions of it, and set-union
    merges across batches (a user first seen in batch 0 and active again
    in batch 5 lands in the right offset cell at assembly, which no
    per-batch triangle can do). Expects (user_id, ts, ...)."""
    acts = batch_df.select("user_id", F.date_trunc("week", F.col("ts")).alias("w"))
    RETENTION_STATE.write(state_dir, batch_id, activity=acts.distinct())


def incremental_retention_triangle(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the triangle from accumulated activity state: re-distinct
    the unioned (user_id, w) pairs, then EXACTLY the batch combinator — so
    equality with the batch triangle over the union of processed batches
    holds by construction and is pytest-proved
    (`test_incremental_retention_equals_batch`)."""
    from ..plans.events import retention_triangle_from_activity

    return RETENTION_STATE.assemble(
        spark, state_dir,
        lambda p: retention_triangle_from_activity(p["activity"].distinct()),
    )


FUNNEL_STATE = IncrementalState(
    funnel_events="user_id bigint, event_type string, ts timestamp"
)


def funnel_state_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int = -1,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
) -> None:
    """One micro-batch's contribution to the incremental ordered funnel
    (the streaming sibling of `plans.events.funnel_steps`, completing the
    retention/funnel pair). The mergeable state is the DISTINCT
    ``(user_id, event_type, ts)`` set restricted to the funnel's step
    types — and it genuinely cannot be less than that: first-touch entry
    times are NOT per-(user, step) minima (step k's entry is the min
    step-k ts strictly after the step-(k-1) entry), and the step-1 entry
    time only DECREASES as batches merge, so a step-k event that looks
    too early today may become the first touch once an earlier step-(k-1)
    event arrives; symmetrically, pruning step-k events below the current
    step-1 minimum is unsound because the final minimum is <= the current
    one. A per-(user, step) min — or any bounded truncation — therefore
    breaks cross-batch ordering; the distinct event-triple set (a small,
    step-filtered fraction of the stream) is the exact lower bound of
    information the funnel needs. Set-union merges. Expects (user_id,
    event_type, ts, ...)."""
    steps_only = F.col("event_type").isin(*steps)
    evs = batch_df.filter(steps_only).select("user_id", "event_type", "ts")
    FUNNEL_STATE.write(state_dir, batch_id, funnel_events=evs.distinct())


def incremental_funnel(
    spark: SparkSession,
    state_dir: str,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Assemble the funnel from accumulated step-event state: re-distinct
    the unioned triples, then EXACTLY the batch combinator — equality with
    the batch funnel over the union of processed batches holds by
    construction and is pytest-proved
    (`test_incremental_funnel_equals_batch`), including the cross-batch
    reordering case where a user's click precedes their view until an
    earlier view arrives in a later batch.

    CONTRACT (the incremental_kmv pattern): ``steps`` must equal the
    step list the state batches were filtered with — state filtered for
    other step types simply lacks this assembly's events and every
    count reads low."""
    from ..plans.events import funnel_steps

    return FUNNEL_STATE.assemble(
        spark, state_dir, lambda p: funnel_steps(p["funnel_events"].distinct(), steps)
    )


KMV_STATE = IncrementalState(kmv="g string, h bigint")


def kmv_state_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int = -1,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int | None = None,
) -> None:
    """One micro-batch's contribution to incremental KMV distinct counts:
    the batch's PARTIAL SKETCH — its distinct (group, hash) pairs
    truncated to the k smallest per group, so unlike the funnel's
    event-triple state this state is BOUNDED (k rows per group per
    batch) no matter how large the batch. Sound because min-k of a union
    equals min-k of the union of per-batch min-k sets, and below k total
    distinct hashes every batch's set survives truncation intact, so
    exact mode still sees the true count."""
    from ..plans.events import KMV_K, kmv_hashes

    k = k or KMV_K
    d = kmv_hashes(batch_df, group_col, key_col)
    w = Window.partitionBy("g").orderBy("h")
    partial = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("g", "h")
    )
    KMV_STATE.write(state_dir, batch_id, kmv=partial)


def attach_kmv_stream(
    stream_ev: DataFrame, state_dir: str, checkpoint: str,
    group_col: str = "event_type", key_col: str = "user_id",
) -> StreamingQuery:
    """Run the incremental KMV state over an event stream (the min-k
    truncation is a per-batch rank, not a streaming aggregate)."""
    return IncrementalState.attach(
        stream_ev, checkpoint, kmv_state_batch, state_dir,
        group_col=group_col, key_col=key_col,
    )


def incremental_kmv(spark: SparkSession, state_dir: str, k: int | None = None) -> DataFrame:
    """Assemble distinct-count estimates from accumulated partial
    sketches: union, re-distinct, then EXACTLY the batch estimator —
    stream == batch equality holds by construction in BOTH regimes
    (estimate and exact mode) and is pytest-proved
    (`test_incremental_kmv_equals_batch`).

    CONTRACT: ``k`` must equal the ``k`` the state batches were truncated
    at (both default to KMV_K). A mismatched assembly is silently wrong
    in a specific way: state truncated at a smaller k caps the candidate
    union below a larger assembly K, so 'exact mode' returns the
    candidate count instead of either valid estimate."""
    from ..plans.events import KMV_K, kmv_estimate_from_hashes

    return KMV_STATE.assemble(
        spark, state_dir,
        lambda p: kmv_estimate_from_hashes(p["kmv"].distinct(), k or KMV_K),
    )


HIST_STATE = IncrementalState(hist="event_type string, bin bigint, c bigint")


def hist_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's histogram — the purely ADDITIVE sketch state
    (bin counts sum across batches), bounded by |types| x |bins| rows per
    batch."""
    from ..plans.events import hist_bin_counts

    HIST_STATE.write(state_dir, batch_id, hist=hist_bin_counts(batch_df))


def incremental_hist_quantiles(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble p50/p95 from accumulated per-batch histograms: sum the
    bin counts (histogram merge IS addition), then EXACTLY the batch
    rank-lookup finisher — stream == batch equality holds exactly, not
    approximately, and is pytest-proved
    (`test_incremental_hist_quantiles_equals_batch`)."""
    from ..plans.events import hist_quantiles_from_counts

    return HIST_STATE.assemble(spark, state_dir, lambda p: hist_quantiles_from_counts(
        p["hist"].groupBy("event_type", "bin").agg(F.sum("c").alias("c"))
    ))


CM_STATE = IncrementalState(
    cm_counters="j int, c bigint, n bigint", cm_keys="key bigint, exact_count bigint"
)


def cm_state_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int = -1, key_col: str = "user_id"
) -> None:
    """One micro-batch's count-min contribution: the sketch's two
    ADDITIVE partials — the (j, c, n) counter cells (bounded at d*w rows
    per batch) and the per-key counts the top-n answer needs anyway.
    Counter positions are deterministic functions of the key, so they
    are never stored for the probe side."""
    from ..plans.events import cm_partials

    counters, key_counts = cm_partials(batch_df, key_col)
    CM_STATE.write(state_dir, batch_id, cm_counters=counters, cm_keys=key_counts)


def incremental_cm_top_users(
    spark: SparkSession, state_dir: str, key_col: str = "user_id", top_n: int = 10
) -> DataFrame:
    """Assemble heavy hitters from accumulated count-min partials: sum
    the counter cells and the per-key counts (both merges are plain
    addition), then EXACTLY the batch probe/rank finisher — stream ==
    batch equality is exact and pytest-proved
    (`test_incremental_cm_equals_batch`)."""
    from ..plans.events import cm_finish

    return CM_STATE.assemble(spark, state_dir, lambda p: cm_finish(
        p["cm_counters"].groupBy("j", "c").agg(F.sum("n").alias("n")),
        p["cm_keys"].groupBy("key").agg(F.sum("exact_count").alias("exact_count")),
        key_col,
        top_n=top_n,
    ))


DRIFT_STATE = IncrementalState(report=True, drift="event_type string, bin bigint, n bigint")


def drift_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's drift-cell contribution — the purely ADDITIVE
    state (per-(type, bin) counts sum across batches), bounded at
    |types| × DRIFT_N_BINS rows per batch."""
    from ..operators.dataquality import drift_cells

    DRIFT_STATE.write(state_dir, batch_id, drift=drift_cells(batch_df, "n"))


def incremental_events_drift(
    spark: SparkSession, baseline: DataFrame, state_dir: str
) -> DataFrame:
    """Streaming drift monitor: compare a FIXED baseline snapshot against
    the accumulating stream. Merge the per-batch cells by addition (cell
    counts are additive), full-outer join against the baseline's cells
    (zero-filling either side — a bin seen in only one snapshot still
    drifts), then EXACTLY the batch finisher `drift_report` — so stream
    == batch equality is exact and pytest-proved
    (`test_incremental_drift_equals_batch`). Baseline = n_first,
    accumulated stream = n_second, matching dq_events_drift's
    first/second-half column contract. Before the first batch: the
    baseline against an empty stream."""
    from ..operators.dataquality import drift_cells, drift_report

    def merge(p: dict) -> DataFrame:
        cur = p["drift"].groupBy("event_type", "bin").agg(F.sum("n").alias("n_second"))
        base = drift_cells(baseline, "n_first")
        cells = base.join(cur, ["event_type", "bin"], "full_outer")
        return drift_report(cells.select(
            "event_type",
            "bin",
            F.coalesce("n_first", F.lit(0)).alias("n_first"),
            F.coalesce("n_second", F.lit(0)).alias("n_second"),
        ))

    return DRIFT_STATE.assemble(spark, state_dir, merge)


def attach_drift_stream(stream_ev: DataFrame, state_dir: str, checkpoint: str):
    """Wire the drift-cell accumulator onto an events stream; read the
    monitor at any time with incremental_events_drift."""
    return IncrementalState.attach(stream_ev, checkpoint, drift_state_batch, state_dir)


HLL_STATE = IncrementalState(hll="event_type string, week bigint, day bigint, sk binary")


def hll_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's daily HLL sketch contribution (VERDICT r11 #5 —
    the unbounded half of the materialized-sketch pattern): per
    (event_type, week, day) one bounded sketch blob for THIS batch's
    rows. State is MERGEABLE rather than additive: read-side
    hll_union_agg is a lossless register-wise max at equal lgConfigK, so
    partial sketches union to exactly the single-pass sketch — stream ==
    batch holds bit-identical, not approximately."""
    from ..plans.events import hll_daily_sketches

    HLL_STATE.write(state_dir, batch_id, hll=hll_daily_sketches(batch_df))


def incremental_hll_weekly(spark: SparkSession, state_dir: str) -> DataFrame:
    """Weekly distinct-user estimates from the accumulated per-batch
    daily sketches: union the batch partials into the daily sketch table
    (lossless), then EXACTLY the batch read-side `hll_weekly_rollup` —
    never a raw-data re-scan. Returns (event_type, week, est, n_days);
    equality with the batch rollup over the union of batches is
    pytest-proved (`test_incremental_hll_equals_batch`)."""
    from ..plans.events import hll_weekly_rollup

    return HLL_STATE.assemble(spark, state_dir, lambda p: hll_weekly_rollup(
        p["hll"]
        .groupBy("event_type", "week", "day")
        .agg(F.expr("hll_union_agg(sk)").alias("sk"))
    ).orderBy("event_type", "week"))


def attach_hll_stream(stream_ev: DataFrame, state_dir: str, checkpoint: str):
    """Wire the daily-sketch accumulator onto an events stream; read the
    weekly rollup at any time with incremental_hll_weekly."""
    return IncrementalState.attach(stream_ev, checkpoint, hll_state_batch, state_dir)


GAPFILL_STATE = IncrementalState(
    gapfill="event_type string, h timestamp, n bigint, v_cents bigint"
)


def gapfill_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's hourly aggregate for the incremental gap-fill
    dashboard — additive state (counts and cent sums add per (type,
    hour) cell), and COMPLETE state: the grid bounds are min/max of the
    observed hours, so no separate bounds bookkeeping can drift."""
    from ..plans.events import gapfill_hourly_agg

    GAPFILL_STATE.write(state_dir, batch_id, gapfill=gapfill_hourly_agg(batch_df))


def incremental_gapfill(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the dense hourly series from accumulated per-batch hourly
    aggregates: sum the cells, then EXACTLY the batch grid/zero-fill/LOCF
    finisher. The interesting merge case: a LATE batch extends a type's
    bounds backward or forward, and hours between the old and new bounds
    materialize as zero-filled gap rows no per-batch series contained —
    pytest-proved equal to the batch query over the union
    (`test_incremental_gapfill_equals_batch`)."""
    from ..plans.events import gapfill_from_hourly

    return GAPFILL_STATE.assemble(spark, state_dir, lambda p: gapfill_from_hourly(
        p["gapfill"].groupBy("event_type", "h").agg(F.sum("n").alias("n"),
                                                     F.sum("v_cents").alias("v_cents"))
    ))


MARKOV_STATE = IncrementalState(
    carry=("markov_carry",),
    markov_counts="from_type string, to_type string, n bigint",
    markov_carry="user_id bigint, ts timestamp, event_id bigint, event_type string",
)


def markov_state_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int = -1,
    prev_batch_id: int | None = None,
) -> None:
    """One micro-batch's Markov contribution — the fourth state SHAPE in
    the incremental family (beside additive matrices, min-k sets, and
    derived bounds): a per-user CARRY. Adjacent pairs inside the batch
    are a lead window; the pair that SPANS the batch boundary needs the
    user's last event from everything processed so far, so each batch
    writes (a) its pair counts (within-batch + boundary, additive) and
    (b) the updated carry — one row per user ever seen, their latest
    (ts, event_id, event_type). The carry is a deterministic CHAIN:
    carry_b = f(carry_{b-1}, batch_b), so an at-least-once replay of
    batch b recomputes from carry_{b-1} and rewrites identical outputs
    (idempotence without read-modify-write races). Same ordering contract
    as sessionization: per-user event-time order across batches. An
    EMPTY batch copies the carry forward so the chain never breaks."""
    from ..plans.events import markov_pair_counts

    prev = batch_id - 1 if prev_batch_id is None else prev_batch_id
    within = markov_pair_counts(batch_df)
    firsts = (
        batch_df.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("m"))
        .select("user_id", F.col("m.event_type").alias("first_type"))
    )
    # before the first batch the carry reads as zero rows: no boundary pairs
    carry_prev = MARKOV_STATE.read(batch_df.sparkSession, state_dir, "markov_carry", prev)
    boundary = (
        carry_prev.join(firsts, "user_id")
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("first_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = within.unionAll(boundary).groupBy("from_type", "to_type").agg(
        F.sum("n").alias("n")
    )
    carry = (
        carry_prev.unionAll(batch_df.select(*carry_prev.columns))
        .groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
        .select("user_id", "m.ts", "m.event_id", "m.event_type")
    )
    MARKOV_STATE.write(state_dir, batch_id, markov_counts=counts, markov_carry=carry)


def attach_markov_stream(stream_ev: DataFrame, state_dir: str, checkpoint: str):
    """Run the incremental Markov state over an event stream."""
    return IncrementalState.attach(stream_ev, checkpoint, markov_state_batch, state_dir)


def incremental_markov(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the transition matrix from accumulated per-batch pair
    counts (boundary pairs already stitched by the carry chain at write
    time): sum the cells, then EXACTLY the batch conditional-probability
    finisher — stream == batch equality incl. boundary transitions and a
    user skipping whole batches is pytest-proved
    (`test_incremental_markov_equals_batch`)."""
    from ..plans.events import markov_from_counts

    return MARKOV_STATE.assemble(spark, state_dir, lambda p: markov_from_counts(
        p["markov_counts"].groupBy("from_type", "to_type").agg(F.sum("n").alias("n"))
    ))


ROLLING7D_STATE = IncrementalState(rolling_activity="day date, user_id bigint")


def rolling7d_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's contribution to the incremental trailing-7-day
    distinct-actives metric: the DISTINCT (day, user_id) activity pairs —
    the same day-granularity reduction the batch query starts from, and
    the minimal sound state (a distinct count cannot be maintained from
    anything less than the distinct set; the reduction bounds state at
    |days| × |users seen that day|, not raw events). Set-union merges."""
    du = batch_df.select(F.to_date("ts").alias("day"), "user_id").distinct()
    ROLLING7D_STATE.write(state_dir, batch_id, rolling_activity=du)


def incremental_rolling_7d(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the trailing-7-day distinct actives from accumulated
    activity state: re-distinct the unioned (day, user_id) pairs, then
    EXACTLY the batch combinator (`rolling_7d_from_activity`) — equality
    with the batch query over the union of processed batches holds by
    construction (`test_incremental_rolling7d_equals_batch`)."""
    from ..plans.events import rolling_7d_from_activity

    return ROLLING7D_STATE.assemble(
        spark, state_dir,
        lambda p: rolling_7d_from_activity(p["rolling_activity"].distinct()),
    )


JOURNEY_STATE = IncrementalState(
    carry=("journey_carry",),
    journey_carry="user_id bigint, journey string, n_events bigint",
)


def journey_state_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int = -1, prev_batch_id=None
) -> None:
    """Append-only ordered-string carry — a new member of the incremental
    state taxonomy (beside additive counts, min-k, derived bounds, and the
    Markov carry pair): per user, the event-initial journey string so far.

    Per batch: assemble the batch's OWN ordered fragment per user with the
    same `journey_strings` combinator the batch query uses, then append it
    to the carried string via a full-outer merge (carry-only users keep
    their string; new users start fresh). Shares the carry chains'
    contract: micro-batches arrive in event-time order per user (ingestion
    replay order) and batch ids are sequential (foreachBatch guarantee).
    Replay-idempotent: carry(b) is a pure function of carry(b-1) and
    batch b.

    State size: one row per user, string bounded by that user's own
    history — identical to the batch collect_list bound; the merge is one
    full-outer equi-join keyed on user_id."""
    from ..plans.sequences import journey_strings

    prev = batch_id - 1 if prev_batch_id is None else prev_batch_id
    ch = F.substring("event_type", 1, 1).alias("ch")
    within = journey_strings(batch_df.select("user_id", "ts", "event_id", ch))
    p = JOURNEY_STATE.read(batch_df.sparkSession, state_dir, "journey_carry", prev).select(
        "user_id", F.col("journey").alias("p_journey"), F.col("n_events").alias("p_n")
    )
    carry = p.join(within, "user_id", "full_outer").select(
        "user_id",
        F.concat(F.coalesce("p_journey", F.lit("")), F.coalesce("journey", F.lit("")))
        .alias("journey"),
        (F.coalesce("p_n", F.lit(0)) + F.coalesce("n_events", F.lit(0))).alias("n_events"),
    )
    JOURNEY_STATE.write(state_dir, batch_id, journey_carry=carry)


def attach_journey_stream(stream_ev: DataFrame, state_dir: str, checkpoint: str):
    """Run the journey carry over an event stream."""
    return IncrementalState.attach(stream_ev, checkpoint, journey_state_batch, state_dir)


def incremental_journey(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble journey classifiers from the LATEST carry generation —
    then EXACTLY the batch finisher (`journey_finisher`), so stream ==
    batch holds once the carried strings are equal
    (`test_incremental_journey_equals_batch`)."""
    from ..plans.sequences import journey_finisher

    return JOURNEY_STATE.assemble(
        spark, state_dir, lambda p: journey_finisher(p["journey_carry"])
    )


# -------------------------------------------------- observed ETL metrics
def with_etl_metrics(df: DataFrame, name: str = "etl_metrics") -> DataFrame:
    """Attach Spark's native `observe()` metrics to a decoded event
    DataFrame — the engine-side observability a production pipeline pages
    on, computed FOR FREE inside the existing job (no second pass, no
    collect): row count, null-user rows, error-type rows, and the exact
    DECIMAL value sum. On batch, read them through `pyspark.sql.
    Observation`; on a stream, the same metrics surface per micro-batch in
    `StreamingQueryProgress.observedMetrics[name]` — both pytest-proved
    equal to independently-computed aggregates. `name` must be unique per
    query; pass an Observation object instead of a string on batch."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "n_null_user"
        ),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_error_rows"
        ),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    )


# In-flight SRM band: flag a micro-batch when a design's ROW-grain
# treatment share deviates from the intended ratio by more than this
# RELATIVE percentage. Row grain is the only grain observe() can see
# (per-batch distinct users is not an observable aggregate), and rows
# cluster by user — on the dev corpus the healthy row-share deviation
# reaches 38% relative on the 10% ramp (15 users, heavy-tailed activity)
# — so a chi-square p-value at row grain is statistically invalid (the
# independence assumption fails by ~rows-per-user). The band is instead
# a coarse STRUCTURAL-BREAKAGE siren: an arm whose logging vanishes
# (100% deviation) or a hash swap that re-splits traffic trips it; user
# clustering noise does not. The exact user-grain chi-square verdict is
# the batch query's (plans/experiments.py srm_check).
SRM_ROW_DRIFT_PCT = 60


def with_srm_metrics(
    df: DataFrame, name: str = "srm_metrics", user_col: str = "user_id"
) -> DataFrame:
    """SRM guardrail as a per-micro-batch `observe()` metric (VERDICT
    r13 #7): for every standing design in `plans.experiments.SRM_DESIGNS`
    the batch's observed row-grain arm counts (additive across batches —
    the raw material a downstream exact audit can re-aggregate) AND a
    structural-drift flag: |den·nt − num·n| · 100 > SRM_ROW_DRIFT_PCT ·
    num · n, exact integer arithmetic, computed for free inside the
    existing job. Assignment drift (a deploy that breaks the hash split
    or drops one arm's logging) is caught IN-FLIGHT, the micro-batch it
    happens, not at the next batch audit; the statistically exact
    user-grain chi-square stays with the gated `ev_srm_check` (see
    SRM_ROW_DRIFT_PCT for why a p-value is wrong at row grain). Same
    batch/stream duality as with_etl_metrics: Observation object on
    batch, observedMetrics[name] per micro-batch on a stream
    (pytest-proved equal to independent aggregates, with a planted
    one-arm outage flagging exactly its own batch and design)."""
    from ..functions import text as T
    from ..plans.experiments import SRM_DESIGNS

    assigned = F.col(user_col).isNotNull()
    exprs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(assigned, 1).otherwise(0)).cast("long").alias("n_assigned"),
    ]
    n = F.sum(F.when(assigned, 1).otherwise(0))
    for nm, num, den in SRM_DESIGNS:
        arm = F.pmod(
            T.token_hash(F.col(user_col).cast("string"), seed=den), F.lit(den)
        )
        nt = F.sum(F.when(assigned & (arm < num), 1).otherwise(0))
        dev = F.abs(F.lit(den) * nt - F.lit(num) * n) * 100
        band = F.lit(SRM_ROW_DRIFT_PCT) * F.lit(num) * n
        exprs.append(nt.cast("long").alias(f"nt_{nm}"))
        exprs.append((dev > band).alias(f"srm_flag_{nm}"))
    return df.observe(name, *exprs)


# ----------------------------------------------- incremental data quality
DQ_STATE = IncrementalState(
    report=True,
    counters="not_null_custkey bigint, positive_totalprice bigint, "
    "status_in_domain bigint, orderdate_in_range bigint, fk_custkey_customer bigint",
    keys="o_orderkey bigint, n bigint",
)


def dq_state_batch(
    batch_orders: DataFrame, customer: DataFrame, state_dir: str, batch_id: int = -1
) -> None:
    """One micro-batch's contribution to the continuous data-quality
    monitor (the streaming twin of operators/dataquality.py's suite).
    Decomposition: the scan checks (null FK, range, domain, date) and the
    referential-integrity anti join vs the STATIC parent are SUMMABLE
    counters — one ``counters`` row per batch; key UNIQUENESS is not
    additive (a duplicate can straddle batches), so each batch lands its
    per-key counts as ``keys`` and the assembly takes total-minus-distinct
    across ALL state — exactly the digest-set move the quality dashboard
    uses for cross-batch exact dups."""
    from ..operators.dataquality import ORDER_STATUSES

    o = batch_orders
    in_domain = F.coalesce(F.col("o_orderstatus").isin(*ORDER_STATUSES), F.lit(False))
    orphans = (
        o.filter(F.col("o_custkey").isNotNull())
        .join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("fk_custkey_customer"))
    )
    # count_if, not sum(when(...)): a quiet trigger's counters are 0, not NULL
    counters = o.agg(
        F.count_if(F.col("o_custkey").isNull()).alias("not_null_custkey"),
        F.count_if(F.col("o_totalprice") <= 0).alias("positive_totalprice"),
        F.count_if(~in_domain).alias("status_in_domain"),
        F.count_if(
            (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2100-01-01").cast("timestamp"))
        ).alias("orderdate_in_range"),
    ).crossJoin(F.broadcast(orphans))
    keys = o.groupBy("o_orderkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    DQ_STATE.write(state_dir, batch_id, counters=counters, keys=keys)


def attach_dq_stream(
    stream_orders: DataFrame, customer: DataFrame, state_dir: str, checkpoint: str
):
    """Run the data-quality monitor over an orders stream (the
    multi-aggregate suite decomposes into mergeable state)."""
    return IncrementalState.attach(
        stream_orders, checkpoint, dq_state_batch, customer, state_dir
    )


def incremental_dq(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the constraint suite from accumulated state — EXACTLY
    dq_orders_constraints' schema and (pytest-proved) its values over the
    union of all processed batches, including cross-batch duplicate keys
    no per-batch check can see. With no orders yet (before the first
    batch, or after only quiet triggers): the all-pass zero report."""

    def merge(p: dict) -> DataFrame:
        k = p["keys"].agg(
            F.coalesce(F.sum("n") - F.countDistinct("o_orderkey"), F.lit(0))
            .cast("long")
            .alias("unique_orderkey")
        )
        wide = _sum_counters(p["counters"]).crossJoin(F.broadcast(k))
        long = wide.selectExpr(
            "stack(6, "
            "'fk_custkey_customer', fk_custkey_customer, "
            "'not_null_custkey', not_null_custkey, "
            "'orderdate_in_range', orderdate_in_range, "
            "'positive_totalprice', positive_totalprice, "
            "'status_in_domain', status_in_domain, "
            "'unique_orderkey', unique_orderkey"
            ") AS (check_name, n_violations)"
        )
        return long.select(
            "check_name",
            "n_violations",
            (F.col("n_violations") == 0).alias("pass"),
        ).orderBy("check_name")

    return DQ_STATE.assemble(spark, state_dir, merge)


# --------------------------------------------------------------- maintenance
def compact_sink_output(
    spark: SparkSession, path: str, target_files: int = 8
) -> int:
    """Small-file compaction — the maintenance job every micro-batch
    parquet destination needs (each trigger writes >=1 file; a day of
    10 s triggers is ~8.6k files, and at 100 TB the file-listing and
    per-file open costs dominate scans long before the data does).
    Rewrites the directory to ``target_files`` coalesced files and swaps
    it in via directory rename; returns the number of files before
    compaction. Targets foreachBatch outputs and batch-written dirs (the
    incremental-dashboard state dirs, merge-triage outputs).

    It REFUSES a FileStreamSink output (one carrying a _spark_metadata
    manifest): those directories are read through the sink's own file
    manifest, so rewriting files underneath it silently hides data from
    manifest-driven readers — compacting a manifest-managed table with
    snapshot isolation is precisely the ACID-table-format feature
    (Delta/Iceberg OPTIMIZE) this environment's missing jar would provide
    (COVERAGE.md S5), not something two directory renames can fake.

    Swap caveat, stated honestly: the renames are not atomic for a
    concurrent reader — run between read windows, as the reference's
    daily cadence naturally does. Streaming CHECKPOINTS are untouched:
    compaction rewrites outputs, not source progress.

    Crash-safe on re-entry: a crash between the two swap renames leaves
    the dataset stranded at ``.__compact_old__`` with nothing at ``path``;
    on entry that half-finished swap is detected and rolled back (the old
    dir renamed into place), and any stale ``.__compact_tmp__`` from an
    aborted write is removed before writing."""
    import glob as _glob

    tmp, old = _prepare_swap(path)
    before = len(_glob.glob(os.path.join(path, "*.parquet")))
    df = spark.read.parquet(path)
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    _finish_swap(path, tmp, old)
    return before


def _prepare_swap(path: str) -> tuple[str, str]:
    """Shared rewrite-and-swap preamble (compaction, key purge): recover a
    half-finished prior swap, clear stale tmp dirs, refuse
    manifest-managed directories."""
    import shutil

    tmp = path.rstrip("/") + ".__compact_tmp__"
    old = path.rstrip("/") + ".__compact_old__"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)  # recover the crash window between the two renames
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} is a FileStreamSink output (_spark_metadata manifest): "
            "rewriting its files would desynchronize manifest-driven reads; "
            "manifest-aware rewrites are the ACID-table-format feature "
            "(Delta OPTIMIZE / DELETE) — see COVERAGE.md S5"
        )
    return tmp, old


def _finish_swap(path: str, tmp: str, old: str) -> None:
    import shutil

    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def purge_keys(spark: SparkSession, path: str, key_col: str, keys) -> int:
    """Right-to-erasure delete over an immutable parquet directory — the
    GDPR maintenance job every retention pipeline runs: rewrite the
    directory WITHOUT the rows whose ``key_col`` is in ``keys`` (a
    DataFrame or an iterable of values), swap it in with the same
    crash-recoverable two-rename protocol as compact_sink_output, and
    return how many rows were purged. The key set is a deletion-request
    batch — small by nature — so it broadcasts into the anti-join and
    the rewrite is one scan, no shuffle.

    Scale note, stated honestly: this rewrites the WHOLE directory — the
    right local form, and correct at any size, but at 100 TB you bound
    the rewrite by layout: a dir partitioned (or Z-ordered) on a column
    correlated with the key confines the rewrite to the files whose
    min/max spans intersect the key set; manifest-managed snapshot
    deletes (Delta DELETE) are the ACID-format feature this environment's
    missing jar would provide (COVERAGE.md S5), and this helper refuses
    manifest-managed dirs for the same reason compaction does. Streaming
    checkpoints are untouched: the purge rewrites outputs, not source
    progress."""
    if not isinstance(keys, DataFrame):
        keys = list(keys)
        if not keys:
            return 0  # empty deletion batch: no rewrite, nothing purged
        keys = spark.createDataFrame([(k,) for k in keys], [key_col])
    tmp, old = _prepare_swap(path)
    df = spark.read.parquet(path)
    before = df.count()
    kept = df.join(
        F.broadcast(keys.select(key_col).distinct()), key_col, "left_anti"
    )
    kept.write.mode("overwrite").parquet(tmp)
    _finish_swap(path, tmp, old)
    return before - spark.read.parquet(path).count()


CASCADE_STATE = IncrementalState(
    cascade="source string, decision string, n_docs bigint, tot_tokens bigint"
)


def cascade_state_batch(batch_docs: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's filter-cascade funnel contribution (r12): the
    per-(source, decision) cells for THIS batch's documents. State is
    purely ADDITIVE and bounded at |sources| x 6 rows per batch: the
    cascade decision is per-document scan-local, so disjoint batches
    contribute independent cells."""
    from ..operators.corpus import cascade_cells

    CASCADE_STATE.write(state_dir, batch_id, cascade=cascade_cells(batch_docs))


def incremental_filter_cascade(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the curation funnel report from accumulated per-batch
    cells: merge by plain summation, then the batch query's ordering —
    EXACTLY corpus_filter_cascade over the union of batches
    (`test_incremental_cascade_equals_batch`). The live twin of the
    gated funnel dashboard: as crawl shards land, the keep/reject
    breakdown stays current without re-scanning the corpus."""
    return CASCADE_STATE.assemble(spark, state_dir, lambda p: p["cascade"].groupBy(
        "source", "decision"
    ).agg(
        F.sum("n_docs").alias("n_docs"), F.sum("tot_tokens").alias("tot_tokens")
    ).orderBy("source", "decision"))


def attach_cascade_stream(stream_docs: DataFrame, state_dir: str, checkpoint: str):
    """Wire the cascade-cell accumulator onto a document stream; read the
    funnel at any time with incremental_filter_cascade."""
    return IncrementalState.attach(stream_docs, checkpoint, cascade_state_batch, state_dir)


SOURCE_CAP_STATE = IncrementalState(source_cap="doc_id bigint, source string, q_ppm bigint")


def source_cap_state_batch(
    batch_docs: DataFrame, state_dir: str, batch_id: int = -1
) -> None:
    """One micro-batch's per-source cap candidates (r12): THIS batch's
    quality-top-K per source. State is MERGEABLE by re-ranking rather
    than additive: because batches partition the corpus, the global top-K
    per source is a subset of the union of per-batch top-Ks (any row in
    the global top-K is in the top-K of its own batch a fortiori), so
    keeping K rows per (source, batch) is lossless for the cap — bounded
    at K x |sources| per batch regardless of batch size."""
    from ..operators.corpus import source_cap_candidates

    SOURCE_CAP_STATE.write(
        state_dir, batch_id, source_cap=source_cap_candidates(batch_docs)
    )


def incremental_source_cap(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the capped per-source keeper set from accumulated
    per-batch candidates: re-rank the union of survivors with EXACTLY
    the batch query's window (q_ppm DESC, doc_id ASC) and keep K — equal
    to corpus_source_cap over the union of batches by the subset
    argument above (`test_incremental_source_cap_equals_batch`)."""
    from ..operators.corpus import source_cap_rank

    return SOURCE_CAP_STATE.assemble(
        spark, state_dir,
        lambda p: source_cap_rank(p["source_cap"]).orderBy("source", "q_rank"),
    )


# ------------------------------------------- IVF index maintenance (r13)
IVF_ASSIGN_STATE = IncrementalState(
    report=True, ivf_assign="vec_id bigint, cell int, cos_ppm bigint"
)


def ivf_assign_state_batch(
    batch_df: DataFrame, index_path: str, state_dir: str, batch_id: int = -1
) -> None:
    """One micro-batch of ARRIVING vectors assigned to the FROZEN coarse
    quantizer persisted at ``{index_path}/centroids`` (the materialized
    IVF index of operators/similarity.write_ivf_index): per-vector
    nearest-cell argmax plus the exact ppm cosine fit. Expects (vec_id,
    embedding array<float>). VERDICT r12 #5."""
    from ..functions.vectors import as_double_array
    from ..operators.similarity import ivf_assign_cells

    cents = batch_df.sparkSession.read.parquet(f"{index_path}/centroids")
    new_emb = batch_df.select("vec_id", as_double_array("embedding").alias("v"))
    IVF_ASSIGN_STATE.write(state_dir, batch_id, ivf_assign=ivf_assign_cells(new_emb, cents))


def attach_ivf_assign_stream(
    stream_vec: DataFrame, index_path: str, state_dir: str, checkpoint: str
) -> StreamingQuery:
    """Wire frozen-quantizer cell assignment onto an arriving-vector
    stream; read the live staleness report at any time with
    incremental_ivf_staleness."""
    return IncrementalState.attach(
        stream_vec, checkpoint, ivf_assign_state_batch, index_path, state_dir
    )


def incremental_ivf_staleness(
    spark: SparkSession, index_path: str, state_dir: str
) -> DataFrame:
    """Per-cell staleness of the frozen quantizer vs accumulated
    arrivals: training-side fits recomputed from the materialized index
    itself (``{index_path}/data`` joined back to its own centroids — the
    quantizer's distortion on the data it was built from), arrival-side
    fits from the accumulated per-batch assignments. Exactly the batch
    `ivf_staleness_report` over the union of batches — per-vector ppm
    fits are batch-independent (the quantizer is frozen) and the BIGINT
    sums are associative, so batch boundaries cannot matter
    (`test_incremental_ivf_staleness_equals_batch`). A rising
    staleness_ppm is the rebuild-cadence alert. Before the first batch:
    the training side against no arrivals."""
    from ..operators.similarity import _cos_ppm, ivf_staleness_report

    cents = spark.read.parquet(f"{index_path}/centroids")
    base_sc = (
        spark.read.parquet(f"{index_path}/data")
        .join(F.broadcast(cents), "label")
        .select(
            F.col("label").alias("cell"),
            _cos_ppm(F.col("v"), F.col("c")).alias("cos_ppm"),
        )
    )
    return IVF_ASSIGN_STATE.assemble(spark, state_dir, lambda p: ivf_staleness_report(
        base_sc, p["ivf_assign"].select("cell", "cos_ppm")
    ))


KCENTER_STATE = IncrementalState(kcenter="label int, vec_id bigint, cos_ppm bigint")


def kcenter_state_batch(
    batch_emb: DataFrame, cents: DataFrame, state_dir: str, batch_id: int = -1
) -> None:
    """Staged r15: one micro-batch's coverage-sample CANDIDATES against a
    FROZEN coarse quantizer — the streaming twin of
    corpus_kcenter_sample's selection (per-cell medoid-side cores +
    boundary-side frontier). Per-cell top-k at BOTH ends is
    DISTRIBUTIVE: a row in the merged corpus's per-cell top
    KCENTER_CORE_TAKE (resp. bottom KCENTER_FRONTIER_TAKE) is in its own
    batch's per-cell top (resp. bottom) take, so keeping each batch's
    two-sided take — ≤ |cells|·(core+frontier) rows of state per batch,
    corpus-size-independent — loses no candidate the global selection
    can ever pick. Expects (vec_id, label, embedding array<float>)."""
    from ..functions.vectors import as_double_array
    from ..operators.similarity import _cos_ppm, kcenter_sample

    scored = (
        batch_emb.select("vec_id", "label", as_double_array("embedding").alias("v"))
        .join(F.broadcast(cents), "label")
        .select("vec_id", "label", _cos_ppm(F.col("v"), F.col("c")).alias("cos_ppm"))
    )
    # the batch's own two-sided take IS the bounded candidate set; roles
    # and ranks recompute at assembly over the merged candidates
    take = kcenter_sample(scored).select(F.col("cell").alias("label"), "vec_id", "cos_ppm")
    KCENTER_STATE.write(state_dir, batch_id, kcenter=take)


def incremental_kcenter_sample(spark: SparkSession, state_dir: str) -> DataFrame:
    """Staged r15: the coverage-diverse sample over ALL accumulated
    batch candidates — exactly the batch `kcenter_sample` finisher over
    the merged (vec_id, label, cos_ppm) candidate set. Distributivity of
    two-sided per-cell top-k (see kcenter_state_batch) makes this equal
    the batch selection over the full corpus against the same frozen
    quantizer (`test_incremental_kcenter_equals_batch`); cross-batch
    duplicate vec_ids are deduped before ranking (at-least-once delivery
    must not let one vector hold two ranks)."""
    from ..operators.similarity import kcenter_sample

    return KCENTER_STATE.assemble(spark, state_dir, lambda p: kcenter_sample(
        p["kcenter"].select("vec_id", "label", "cos_ppm").distinct()
    ))


# --------------------------------------------- CUSUM change-points (r13)
CUSUM_STATE = IncrementalState(cusum="event_type string, day string, v_cents bigint")


def cusum_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's per-(event_type, day) value-cent sums — ADDITIVE
    state (cents add per cell)."""
    from ..plans.events import cusum_daily_agg

    CUSUM_STATE.write(state_dir, batch_id, cusum=cusum_daily_agg(batch_df))


def attach_cusum_stream(
    stream_ev: DataFrame, state_dir: str, checkpoint: str
) -> StreamingQuery:
    """Wire the daily-cell accumulator onto an events stream; read the
    live change-point report at any time with incremental_cusum."""
    return IncrementalState.attach(stream_ev, checkpoint, cusum_state_batch, state_dir)


def _daily_cents(p: dict) -> DataFrame:
    return p["cusum"].groupBy("event_type", "day").agg(F.sum("v_cents").alias("v_cents"))


def incremental_cusum(spark: SparkSession, state_dir: str) -> DataFrame:
    """Assemble the flagged change-point days from accumulated per-batch
    daily cells: sum the cells, then EXACTLY the batch `cusum_flag`
    finisher. Late/out-of-order batches only ADD into (type, day) cells —
    the cumulative windows re-run over the assembled table, so batch
    boundaries cannot matter (`test_incremental_cusum_equals_batch`)."""
    from ..plans.events import cusum_flag

    return CUSUM_STATE.assemble(spark, state_dir, lambda p: cusum_flag(_daily_cents(p)))


def incremental_seasonal_backtest(spark: SparkSession, state_dir: str) -> DataFrame:
    """Staged r14 (registers r15 with ev_seasonal_backtest): the
    seasonal-naive MASE backtest over the SAME accumulated daily cells
    the CUSUM monitor owns — one state family, two analyses, so nothing
    can drift between them (the incremental_pmi marginals argument).
    Late batches only ADD into (type, day) cells; the shifted-date joins
    re-run over the assembled table, so batch boundaries cannot matter
    (`test_incremental_seasonal_backtest_equals_batch`)."""
    from ..plans.events import seasonal_backtest

    return CUSUM_STATE.assemble(
        spark, state_dir, lambda p: seasonal_backtest(_daily_cents(p))
    )


DID_STATE = IncrementalState(did="treat boolean, day timestamp, n bigint, s bigint")


def did_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's per-(arm, day) DiD cells — ADDITIVE state (n/s
    add per cell)."""
    from ..plans.experiments import did_daily_agg

    DID_STATE.write(state_dir, batch_id, did=did_daily_agg(batch_df))


def incremental_did_lift(spark: SparkSession, state_dir: str) -> DataFrame:
    """Staged r15 (registers r16 with ev_did_lift): the
    difference-in-differences readout over accumulated per-batch
    (arm, day) cells: sum the cells, then EXACTLY the batch
    `did_lift_report` finisher — the pre/post boundary re-derives from
    the assembled cells' own min/max day, so a late batch that extends
    the observation window MOVES the boundary exactly as the batch op
    would (`test_incremental_did_lift_equals_batch`)."""
    from ..plans.experiments import did_lift_report

    return DID_STATE.assemble(spark, state_dir, lambda p: did_lift_report(
        p["did"].groupBy("treat", "day").agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    ))


CUPED_STATE = IncrementalState(cuped="user_id bigint, day timestamp, s bigint")


def cuped_state_batch(batch_df: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's per-(user, day) CUPED cells — ADDITIVE state
    (sums add per cell). One key finer than the DiD cells because CUPED's
    finisher needs per-USER pre/post sums; arms need no state at all
    (re-derived from user_id by the deterministic hash)."""
    from ..plans.experiments import cuped_user_day_agg

    CUPED_STATE.write(state_dir, batch_id, cuped=cuped_user_day_agg(batch_df))


def incremental_cuped(spark: SparkSession, state_dir: str) -> DataFrame:
    """Staged r15 (registers r16 with ev_cuped_adjust): the CUPED
    variance-reduced readout over accumulated per-batch (user, day)
    cells: sum the cells, then EXACTLY the batch `cuped_report` finisher
    — the pre/post boundary re-derives from the assembled cells' own
    min/max day, so a late batch that extends the observation window
    moves every user's x/y split exactly as the batch op would
    (`test_incremental_cuped_equals_batch`)."""
    from ..plans.experiments import cuped_report

    return CUPED_STATE.assemble(spark, state_dir, lambda p: cuped_report(
        p["cuped"].groupBy("user_id", "day").agg(F.sum("s").alias("s"))
    ))


EPOCH_STATE = IncrementalState(epoch="source string, n_docs bigint, n_tokens bigint")


def epoch_state_batch(batch_docs: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's per-source epoch-planning cells — ADDITIVE
    state (doc/token counts add per source)."""
    from ..operators.corpus import epoch_source_agg

    EPOCH_STATE.write(state_dir, batch_id, epoch=epoch_source_agg(batch_docs))


def incremental_epoch_schedule(spark: SparkSession, state_dir: str) -> DataFrame:
    """Staged r15 (registers r16 with corpus_epoch_schedule): the
    capped-and-redistributed epoch schedule over accumulated per-batch
    (source, n_docs, n_tokens) cells — the whole one-round water-fill
    (uniform quota, cap verdicts, surplus, redistribution, final clamp)
    re-derives from the merged cells, so arriving documents that push a
    source over the cap rebalance every OTHER source's quota exactly as
    the batch op would (`test_incremental_epoch_schedule_equals_batch`)."""
    from ..operators.corpus import epoch_schedule_report

    return EPOCH_STATE.assemble(spark, state_dir, lambda p: epoch_schedule_report(
        p["epoch"].groupBy("source").agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    ))


LDIV_STATE = IncrementalState(
    ldiv="source string, chars_bucket bigint, lang string, n bigint"
)


def ldiv_state_batch(batch_docs: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's l-diversity sensitive-value cells — ADDITIVE
    state (counts add per (QI, lang) cell)."""
    from ..operators.dataquality import l_diversity_cells

    LDIV_STATE.write(state_dir, batch_id, ldiv=l_diversity_cells(batch_docs))


def incremental_l_diversity(spark: SparkSession, state_dir: str) -> DataFrame:
    """Staged r15 (registers r16 with dq_l_diversity): the
    homogeneity-attack screen over accumulated (source, chars_bucket,
    lang, n) cells — the distinct-language verdict re-derives from the
    merged cells, so a late batch that introduces a flagged group's
    SECOND language clears the flag exactly as batch would
    (`test_incremental_l_diversity_equals_batch`)."""
    from ..operators.dataquality import l_diversity_report

    return LDIV_STATE.assemble(spark, state_dir, lambda p: l_diversity_report(
        p["ldiv"]
        .groupBy("source", "chars_bucket", "lang")
        .agg(F.sum("n").cast("long").alias("n"))
    ))


# ------------------------------------------------ streaming k-core (r13)
KCORE_STATE = IncrementalState(kcore_edges="src string, dst string")


def kcore_state_batch(batch_edges: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch of arriving (src, dst) edges, deduped within the
    batch. Cross-batch duplicates are fine: the read side dedupes the
    union (k_core() starts with a distinct), so edge re-delivery cannot
    change the core."""
    edges = batch_edges.select("src", "dst").distinct()
    KCORE_STATE.write(state_dir, batch_id, kcore_edges=edges)


def attach_kcore_stream(
    stream_edges: DataFrame, state_dir: str, checkpoint: str
) -> StreamingQuery:
    """Wire the edge accumulator onto an edge stream; read the live
    k-core with incremental_k_core."""
    return IncrementalState.attach(stream_edges, checkpoint, kcore_state_batch, state_dir)


def incremental_k_core(
    spark: SparkSession, state_dir: str, k: int | None = None
) -> DataFrame:
    """k-core of the accumulated edge set: EXACTLY the batch `k_core`
    peel over the union of batches — the core is a pure function of the
    edge SET (k_core dedupes first), so batch boundaries and re-delivery
    cannot matter (`test_incremental_kcore_equals_batch`). Arriving
    edges can only add degree, so a node's core membership is monotone
    non-decreasing across batches — the streaming-graph property the
    monotone pytest pins."""
    from ..operators.graph import KC_K, k_core

    return KCORE_STATE.assemble(
        spark, state_dir, lambda p: k_core(p["kcore_edges"], k=KC_K if k is None else k)
    )


# ------------------------------------------------- streaming PMI (r13)
PMI_STATE = IncrementalState(pmi_pairs="w1 string, w2 string, n_pair bigint")


def pmi_state_batch(batch_docs: DataFrame, state_dir: str, batch_id: int = -1) -> None:
    """One micro-batch's adjacent-bigram pair counts — ADDITIVE state
    (counts add per (w1, w2) cell; unigram counts and the total are
    marginals of the same cells, so NO separate unigram state can drift
    out of sync)."""
    from ..operators.text_analysis import pmi_pair_counts

    PMI_STATE.write(state_dir, batch_id, pmi_pairs=pmi_pair_counts(batch_docs))


def attach_pmi_stream(
    stream_docs: DataFrame, state_dir: str, checkpoint: str
) -> StreamingQuery:
    """Wire the pair-count accumulator onto a document stream; read the
    live collocation ranking at any time with incremental_pmi."""
    return IncrementalState.attach(stream_docs, checkpoint, pmi_state_batch, state_dir)


def incremental_pmi(spark: SparkSession, state_dir: str) -> DataFrame:
    """Ranked collocations from accumulated per-batch pair counts: sum
    the cells, then EXACTLY the batch `pmi_from_pairs` finisher. Bigrams
    never span documents, so batch boundaries cannot lose or invent a
    pair and the BIGINT cells are associative
    (`test_incremental_pmi_equals_batch`)."""
    from ..operators.text_analysis import pmi_from_pairs

    return PMI_STATE.assemble(spark, state_dir, lambda p: pmi_from_pairs(
        p["pmi_pairs"].groupBy("w1", "w2").agg(F.sum("n_pair").alias("n_pair"))
    ))
