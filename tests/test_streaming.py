"""Streaming equivalence (SURVEY.md §5 plan item 3): the same records
through the blob file-stream → cleaning → append sink must materialize the
batch-cleaned tables exactly. Also exercises watermarked windowed counts."""

import pyspark.sql.functions as F
import pytest

from pinterest_data_pipeline218_spark.functions.cleaning import clean_geo, clean_pin, clean_user
from pinterest_data_pipeline218_spark.schemas import CLEAN_SCHEMAS
from pinterest_data_pipeline218_spark.sources.generator import (
    to_dataframes,
    write_blob_stream_files,
)
from pinterest_data_pipeline218_spark.streaming import pipeline as SP

from conftest import rows_set

N = 120
SEED = 77


@pytest.fixture(scope="module")
def stream_out(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("blob_src")
    out = tmp_path_factory.mktemp("stream_out")
    paths = write_blob_stream_files(str(src), n=N, seed=SEED)
    queries = [SP.run_table_etl(spark, paths[t], t, str(out)) for t in ("pin", "geo", "user")]
    for q in queries:
        q.processAllAvailable()
        q.stop()
    return out


def test_stream_equals_batch(spark, stream_out):
    pin_raw, geo_raw, user_raw = to_dataframes(spark, n=N, seed=SEED)
    batch = {
        "pin": clean_pin(pin_raw),
        "geo": clean_geo(geo_raw),
        "user": clean_user(user_raw),
    }
    for table, batch_df in batch.items():
        streamed = spark.read.schema(CLEAN_SCHEMAS[table]).parquet(
            str(stream_out / f"{table}_table")
        )
        assert streamed.columns == batch_df.columns, table
        assert rows_set(streamed) == rows_set(batch_df), table


def test_checkpoints_are_per_query(stream_out):
    cps = sorted(p.name for p in (stream_out / "_checkpoints").iterdir())
    assert cps == ["geo_etl", "pin_etl", "user_etl"]


def test_dedup_stream_drops_repeats_within_watermark(spark, tmp_path):
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tmp_path / "dup_blobs"
    src.mkdir()
    # 3 micro-batches; content c1 repeats in every batch, c2 in two
    batches = [
        [(1, "c1", "2024-01-01 10:00:00"), (2, "c2", "2024-01-01 10:01:00")],
        [(3, "c1", "2024-01-01 10:05:00"), (4, "c3", "2024-01-01 10:06:00")],
        [(5, "c1", "2024-01-01 10:10:00"), (6, "c2", "2024-01-01 10:11:00")],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for rid, content, ts in rows:
                f.write(json.dumps({"rec_id": rid, "content": content, "ts": ts}) + "\n")
    schema = StructType(
        [
            StructField("rec_id", LongType()),
            StructField("content", StringType()),
            StructField("ts", StringType()),
        ]
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        SP.dedup_stream(stream, ["content"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT content FROM dedup_out").collect()
    assert sorted(r.content for r in got) == ["c1", "c2", "c3"]


def test_windowed_counts_on_stream(spark, tmp_path):
    src = tmp_path / "blob"
    paths = write_blob_stream_files(str(src), n=60, seed=5)
    stream = SP.decode_blob(
        SP.blob_file_stream(spark, paths["geo"]), SP.RAW_BY_TABLE["geo"]
    ).withColumn("ts", F.to_timestamp("timestamp"))
    counts = SP.windowed_counts(stream, "ts", "country", window="30 days")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM win_counts")
    assert got.columns == ["window_start", "country", "n_events"]
    assert got.count() > 0
    # batch formulation over the same records must agree on totals
    # 60 base records + 3 injected edge rows with timestamps (the all-null
    # pollution row contributes no window)
    batch_total = got.agg(F.sum("n_events")).collect()[0][0]
    assert batch_total == 63


def test_sliding_counts_overlap_on_stream(spark, tmp_path):
    """Sliding windows: every event must appear in exactly window/slide
    overlapping windows (4 at 1h/15m), so the sliding total is 4x the
    event count; tumbling windows can't produce this shape."""
    src = tmp_path / "blob"
    paths = write_blob_stream_files(str(src), n=40, seed=9)
    stream = SP.decode_blob(
        SP.blob_file_stream(spark, paths["geo"]), SP.RAW_BY_TABLE["geo"]
    ).withColumn("ts", F.to_timestamp("timestamp"))
    counts = SP.sliding_counts(
        stream, "ts", "country", window="3650 days", slide="365 days", watermark="1 hour"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM slide_counts")
    assert got.columns == ["window_start", "window_end", "country", "n_events"]
    n_with_ts = 43  # 40 base + 3 injected edge rows with timestamps
    assert got.agg(F.sum("n_events")).collect()[0][0] == n_with_ts * 10
    # every (country, event) pair is covered by 10 overlapping windows
    per_event_windows = got.groupBy("country").agg(F.sum("n_events").alias("s"))
    assert per_event_windows.filter(F.col("s") % 10 != 0).count() == 0


def test_kafka_wire_contract_decodes_like_file_standin(spark):
    """The Kafka swap's downstream contract: records with the connector's
    fixed wire schema (value: binary, plus metadata) must decode through
    kafka_records_to_blob → decode_blob into the same rows as the file
    stand-in. Batch DataFrames share the transformation code path, so this
    proves the wiring without a broker."""
    import json

    recs = [
        {"ind": 1, "country": "Albania", "timestamp": "2022-01-01 10:00:00",
         "latitude": 1.5, "longitude": 2.5},
        {"ind": 2, "country": "Benin", "timestamp": "2022-01-02 11:00:00",
         "latitude": -3.5, "longitude": 4.25},
    ]
    wire_schema = ", ".join(f"{n} {t}" for n, t in SP.KAFKA_WIRE_COLUMNS)
    import datetime

    rows = [
        (None, json.dumps(r).encode(), "pin.geo", 0, i,
         datetime.datetime(2024, 1, 1), 0)
        for i, r in enumerate(recs)
    ]
    records = spark.createDataFrame(rows, wire_schema)
    decoded = SP.decode_blob(SP.kafka_records_to_blob(records), SP.RAW_BY_TABLE["geo"])
    got = {r.ind: (r.country, r.latitude) for r in decoded.collect()}
    assert got == {1: ("Albania", 1.5), 2: ("Benin", -3.5)}


def test_kafka_source_wiring_reaches_classpath_boundary(spark):
    """kafka_blob_stream must compose a valid reader: without the
    spark-sql-kafka connector jar the ONLY acceptable failure is the
    missing-data-source error at load() — any other exception means our
    option wiring is wrong. With the jar present, the plan must build."""
    import pytest

    try:
        df = SP.kafka_blob_stream(spark, "localhost:9092", "pin-topic")
    except Exception as e:  # noqa: BLE001 — asserting on the failure class
        msg = str(e)
        assert "kafka" in msg.lower() and (
            "Failed to find" in msg or "DATA_SOURCE_NOT_FOUND" in msg
        ), f"unexpected failure before the classpath boundary: {msg}"
        pytest.skip("spark-sql-kafka connector not on classpath")
    assert df.schema.fieldNames() == ["data"]


def test_restart_resume_exactly_once(spark, tmp_path):
    """Kill a stream mid-run, restart from the same checkpoint: the append
    sink must contain every input row exactly once (S5's idempotent-restart
    semantics on the parquet sink)."""
    import time as _time

    from pinterest_data_pipeline218_spark.functions.cleaning import clean_pin as _clean

    src = tmp_path / "blob"
    out = str(tmp_path / "pin_table")
    cp = str(tmp_path / "cp")
    paths = write_blob_stream_files(str(src), n=64, seed=11, files_per_table=8)

    def start():
        stream = SP.decode_blob(
            SP.blob_file_stream(spark, paths["pin"], max_files_per_trigger=1),
            SP.RAW_BY_TABLE["pin"],
        )
        return (
            _clean(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", cp)
            .start()
        )

    q = start()
    # wait for ≥2 committed micro-batches (of 8), then kill mid-stream
    deadline = _time.time() + 60
    while _time.time() < deadline:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(30)

    partial = spark.read.schema(CLEAN_SCHEMAS["pin"]).parquet(out).count()

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    expected = _clean(to_dataframes(spark, n=64, seed=11)[0])
    got = spark.read.schema(CLEAN_SCHEMAS["pin"]).parquet(out)
    assert partial < expected.count(), "stream finished before the kill — raise file count"
    assert got.count() == expected.count()  # no duplicates, no loss
    assert rows_set(got) == rows_set(expected)


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (the streaming form of the
    range/as-of family): purchases joined to clicks within the preceding
    hour must produce exactly the batch join's pairs once both streams
    drain. Exercises the symmetric-hash-join state Spark keeps bounded via
    the watermarks + time-range condition."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    rows = [
        # (side, id, user, ts)
        ("click", 1, 7, "2024-01-01 10:00:00"),
        ("click", 2, 7, "2024-01-01 11:30:00"),
        ("click", 3, 8, "2024-01-01 09:00:00"),
        ("purchase", 10, 7, "2024-01-01 10:30:00"),  # joins click 1
        ("purchase", 11, 7, "2024-01-01 12:00:00"),  # joins click 2
        ("purchase", 12, 8, "2024-01-01 12:00:00"),  # click 3 too old -> none
    ]
    for side in ("click", "purchase"):
        d = tmp_path / side
        d.mkdir()
        with open(d / "part-0.jsonl", "w") as f:
            for s, i, u, ts in rows:
                if s == side:
                    f.write(json.dumps({"id": i, "user": u, "ts": ts}) + "\n")

    schema = StructType(
        [StructField("id", LongType()), StructField("user", LongType()),
         StructField("ts", StringType())]
    )

    def src(side, uc, tc):
        return (
            spark.readStream.format("json").schema(schema)
            .load(str(tmp_path / side))
            .select(
                F.col("id").alias(f"{side}_id"),
                F.col("user").alias(uc),
                F.to_timestamp("ts").alias(tc),
            )
        )

    clicks = src("click", "c_user", "c_ts").withWatermark("c_ts", "2 hours")
    purchases = src("purchase", "p_user", "p_ts").withWatermark("p_ts", "2 hours")
    joined = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "inner",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory").queryName("ssj_out")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.purchase_id, r.click_id) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    assert got == {(10, 1), (11, 2)}


def test_stream_repetition_gate_equals_batch(spark, tmp_path):
    """The r3 quality operators extend ST2's shared-library principle to
    streams: repetition_flags is a plain DataFrame combinator whose stats
    are DOC-LOCAL, so applying it per micro-batch (foreachBatch) must
    produce exactly the batch result over the union of batches — gating a
    document stream needs no global state."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.text_analysis import (
        repetition_flags,
    )

    docs = [
        (1, "the cat sat on the mat and then the cat sat again"),
        (2, "spam spam spam spam spam spam spam spam"),  # top-bigram heavy → drop
        (3, "one two three four five six seven eight nine ten"),
        (4, "x"),  # short doc: no bigrams, keep
        (5, "a b a b a b a b a b a b"),  # dup-bigram heavy → drop
        (6, "fresh unique tokens everywhere in this document body"),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    # 3 micro-batches of 2 docs
    for i in range(3):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for doc_id, text in docs[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    out = str(tmp_path / "flags")

    def gate(batch_df, batch_id):
        repetition_flags(batch_df).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    batch = repetition_flags(spark.createDataFrame(docs, schema))
    got = {
        r.doc_id: (r.n_grams, r.keep)
        for r in spark.read.parquet(out).collect()
    }
    want = {r.doc_id: (r.n_grams, r.keep) for r in batch.collect()}
    assert got == want
    assert got[2][1] is False and got[5][1] is False  # repetition-dropped
    assert got[4] == (0, True)  # short doc survives with zero grams


def test_foreachbatch_sink_idempotent_partition_overwrite(spark, tmp_path):
    """foreachBatch — the production sink pattern for logic the built-in
    sinks can't express (merge/upsert/dedup-per-batch). Here each
    micro-batch overwrites its own batch_id partition, so REPLAYING a batch
    (the at-least-once case foreachBatch must handle) cannot duplicate
    rows — idempotence by partition overwrite."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"{i}.jsonl", "w") as f:
            for j in range(4):
                f.write(json.dumps({"rec_id": i * 10 + j, "v": f"x{i}"}) + "\n")
    out = str(tmp_path / "sink")
    schema = StructType([StructField("rec_id", LongType()), StructField("v", StringType())])
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )

    def upsert(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )
        # replay the same batch: the partition overwrite absorbs it
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out)
    assert back.count() == 12  # every record exactly once despite the replay
    assert back.select("rec_id").distinct().count() == 12


def test_stream_static_merge_triage_equals_batch(spark, tmp_path):
    """Continuous ingest, literally: merge_triage per micro-batch against a
    STATIC corpus table must produce exactly the batch triage over the
    union of batches — each new doc's verdict depends only on (its text,
    the corpus), so no state crosses micro-batch boundaries. This is the
    production shape: the corpus is a table on disk, the new docs arrive
    as a stream, and the stream-side plan runs the same asymmetric LSH +
    digest probes the batch combinator runs."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.operators.corpus import merge_triage

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = base.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    corpus_rows = corpus.collect()
    new_rows = base.filter(F.col("doc_id") % 3 == 0).limit(6).select(
        "doc_id", "text"
    ).collect()
    # make one new doc a byte-exact copy of a corpus doc -> dup_exact path
    new_rows[0] = type(new_rows[0])(
        doc_id=new_rows[0].doc_id, text=corpus_rows[0].text
    )

    src = tmp_path / "new_docs"
    src.mkdir()
    for i in range(3):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for r in new_rows[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    out = str(tmp_path / "triage")

    def triage(batch_df, batch_id):
        merge_triage(batch_df, corpus).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(triage)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    new_df = spark.createDataFrame(new_rows, schema)
    want = {
        r.doc_id: (r.verdict, r.n_corpus_matches, r.best_jaccard)
        for r in merge_triage(new_df, corpus).collect()
    }
    got = {
        r.doc_id: (r.verdict, r.n_corpus_matches, r.best_jaccard)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want
    assert want[new_rows[0].doc_id][0] == "dup_exact"  # the planted copy
    assert len({v[0] for v in want.values()}) >= 2  # triage discriminates


def test_stream_capped_triage_equals_batch_and_bounds_giant_cluster(spark, tmp_path):
    """VERDICT r8 #8 — the streaming twin of the capped-CC rewire: per
    micro-batch near-dup admission consumes the CAPPED corpus band side.
    On a corpus with a PLANTED giant duplicate cluster (every member
    shares every band bucket):

    1. the capped candidate probe is bounded — each new doc pairs with at
       most cap corpus representatives per band, not the whole cluster;
    2. per-micro-batch capped triage over a stream equals the batch capped
       triage over the union (statelessness survives the cap);
    3. the admission verdicts equal the UNCAPPED triage's verdicts — the
       giant bucket is a near-dup cluster, so its representatives are as
       matchable as any member (the documented representative trade holds
       on exactly the data shape that engages it)."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.corpus import merge_triage
    from pinterest_data_pipeline218_spark.operators.dedup import (
        incremental_matches,
        incremental_matches_capped,
    )

    cap = 8
    n_giant = 40
    # texts long enough to clear the quality gate, so the verdict reflects
    # the dedup screens, not the cheap length component
    giant_text = " ".join(f"boilerplate{k}" for k in range(120))
    corpus_rows = [(i, giant_text) for i in range(n_giant)] + [
        (1000 + i, " ".join(f"uniq{i}w{j}" for j in range(120))) for i in range(10)
    ]
    # new batch: one member of the giant cluster, one novel doc, one exact
    # copy of a unique corpus doc
    new_rows = [
        (9001, giant_text + " trailing extra v2"),
        (9002, " ".join(f"novel{k}" for k in range(120))),
        (9003, corpus_rows[-1][1]),
    ]
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(corpus_rows, schema)
    new = spark.createDataFrame(new_rows, schema)

    # --- 1: candidate probe bounded by the cap
    capped = {
        r.doc_id: (r.n_corpus_matches, r.best_jaccard)
        for r in incremental_matches_capped(new, corpus, cap=cap).collect()
    }
    n_bands = 4
    assert all(n <= cap * n_bands for n, _ in capped.values())
    exact = {
        r.doc_id: (r.n_corpus_matches, r.best_jaccard)
        for r in incremental_matches(new, corpus).collect()
    }
    assert exact[9001][0] == n_giant  # uncapped pays the full cluster
    assert capped[9001][0] <= cap  # capped touches representatives only
    # existence + best score agree (the verdict inputs)
    for d in capped:
        assert (capped[d][0] > 0) == (exact[d][0] > 0)
        assert capped[d][1] == exact[d][1]

    # --- 2 + 3: stream-of-micro-batches capped triage == batch capped
    # triage == uncapped verdicts
    src = tmp_path / "new_docs_capped"
    src.mkdir()
    for i, r in enumerate(new_rows):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            f.write(json.dumps({"doc_id": r[0], "text": r[1]}) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema(
            StructType(
                [StructField("doc_id", LongType()), StructField("text", StringType())]
            )
        )
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    out = str(tmp_path / "triage_capped")

    def triage(batch_df, batch_id):
        merge_triage(batch_df, corpus, cap=cap).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(triage)
        .option("checkpointLocation", str(tmp_path / "cp_capped"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.doc_id: (r.verdict, r.n_corpus_matches, r.best_jaccard)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.verdict, r.n_corpus_matches, r.best_jaccard)
        for r in merge_triage(new, corpus, cap=cap).collect()
    }
    assert got == want
    uncapped_verdicts = {
        r.doc_id: r.verdict for r in merge_triage(new, corpus).collect()
    }
    assert {d: v[0] for d, v in want.items()} == uncapped_verdicts
    assert want[9001][0] == "near_dup"
    assert want[9002][0] == "accepted"
    assert want[9003][0] == "dup_exact"


def test_geo_nearby_increment_stream_equals_batch(spark, tmp_path):
    """geo_nearby_increment (the streaming twin of geo_nearby_pairs,
    VERDICT r9 #7): per-micro-batch radius join of arriving points
    against a static registry must equal the batch combinator over the
    union of batches; cross-cell pairs (points in adjacent grid cells)
    must be found, and the candidate set stays bounded by cell
    co-occupancy (plan has an equi-join on the cell keys, no cross
    product)."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.spatial import (
        GEO_RADIUS_DD,
        geo_nearby_increment,
    )

    r = GEO_RADIUS_DD
    # registry: two clusters + an isolated point; coordinates chosen so
    # some true pairs straddle a cell boundary (cell size == r)
    reg_rows = [(1, 0, 0), (2, r - 1, 0), (3, r, r - 1), (4, 100, 100)]
    registry = spark.createDataFrame(
        reg_rows, "pid long, lat_dd long, lon_dd long"
    )
    new_rows = [
        (900, 1, 1),        # near cluster 1 (pids 1, 2; 3 across the cell edge)
        (901, 101, 101),    # near the isolated point
        (902, 50, 50),      # matches nothing
    ]
    new = spark.createDataFrame(new_rows, "pid long, lat_dd long, lon_dd long")

    want = {
        (r_.pid_new, r_.pid_reg, r_.dist2)
        for r_ in geo_nearby_increment(new, registry).collect()
    }
    naive = {
        (n[0], g[0], (n[1] - g[1]) ** 2 + (n[2] - g[2]) ** 2)
        for n in new_rows
        for g in reg_rows
        if (n[1] - g[1]) ** 2 + (n[2] - g[2]) ** 2 <= r * r
    }
    assert want == naive and (900, 3, (r - 1) ** 2 + (r - 2) ** 2) in want

    # no cross product: the radius join must be an equi-join on the cells
    plan = (
        geo_nearby_increment(new, registry)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan

    src = tmp_path / "new_pts"
    src.mkdir()
    for i, row in enumerate(new_rows):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            f.write(
                json.dumps({"pid": row[0], "lat_dd": row[1], "lon_dd": row[2]})
                + "\n"
            )
    stream = (
        spark.readStream.format("json")
        .schema(
            StructType(
                [
                    StructField("pid", LongType()),
                    StructField("lat_dd", LongType()),
                    StructField("lon_dd", LongType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    out = str(tmp_path / "geo_pairs")

    def pair(batch_df, batch_id):
        geo_nearby_increment(batch_df, registry).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(pair)
        .option("checkpointLocation", str(tmp_path / "cp_geo"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r_.pid_new, r_.pid_reg, r_.dist2)
        for r_ in spark.read.parquet(out).collect()
    }
    assert got == want


def test_entity_increment_stream_equals_batch_and_bounds_registry(spark, tmp_path):
    """entity_increment (the streaming twin of text_entity_ids): per
    micro-batch assignment against a STATIC resolved registry must equal
    the batch combinator over the union; a matched doc inherits the MIN
    matched entity_id, a novel doc founds its own; and a planted hot
    registry block stays capped (candidates bounded by cap, assignment
    still correct because the kept representatives are the lowest-id —
    thus lowest-entity — members)."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.entity import (
        ENTITY_EDGE_CAP,
        entity_increment,
    )

    base = " ".join(f"reg{k}" for k in range(30))
    # registry: one resolved entity of 20 near-identical docs (> cap) +
    # two singletons
    reg_rows = [(i, "en", base + f" v{i % 3}", 0) for i in range(20)] + [
        (100, "en", " ".join(f"solo{j}" for j in range(30)), 100),
        (200, "fr", base, 200),
    ]
    registry = spark.createDataFrame(
        reg_rows, "doc_id long, lang string, text string, entity_id long"
    )
    new_rows = [
        (900, "en", base + " v9"),       # matches the big entity -> 0
        (901, "en", " ".join(f"novel{j}" for j in range(30))),  # founds 901
        (902, "fr", base + " v1"),       # matches only the fr twin -> 200
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, lang string, text string")

    want = {
        (r.doc_id, r.entity_id, r.matched)
        for r in entity_increment(new, registry).collect()
    }
    assert want == {(900, 0, True), (901, 901, False), (902, 200, True)}
    assert ENTITY_EDGE_CAP < 20  # the big block really is capped

    src = tmp_path / "new_ent"
    src.mkdir()
    for i, r in enumerate(new_rows):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            f.write(json.dumps({"doc_id": r[0], "lang": r[1], "text": r[2]}) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema(
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("lang", StringType()),
                    StructField("text", StringType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    out = str(tmp_path / "ent_assign")

    def assign(batch_df, batch_id):
        entity_increment(batch_df, registry).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(assign)
        .option("checkpointLocation", str(tmp_path / "cp_ent"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.doc_id, r.entity_id, r.matched)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_incremental_dq_equals_batch_and_sees_cross_batch_dups(spark, tmp_path):
    """The streaming data-quality monitor must equal the batch constraint
    suite over the union of its micro-batches — including a duplicate
    order key that STRADDLES two batches (invisible to any per-batch
    uniqueness check; caught by the accumulated key counts), plus one
    planted violation of each additive kind spread across batches. Also:
    the empty-state assembly is the all-pass zero report, and a replayed
    batch id does not double-count (the idempotence contract)."""
    import datetime as dt
    import json

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from pinterest_data_pipeline218_spark.operators.dataquality import (
        dq_orders_constraints,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_dq_stream,
        dq_state_batch,
        incremental_dq,
    )

    state = str(tmp_path / "dq_state")
    # empty state -> all-pass zero report
    empty = {r.check_name: (r.n_violations, r["pass"])
             for r in incremental_dq(spark, state).collect()}
    assert len(empty) == 6 and all(v == (0, True) for v in empty.values())

    ok = "2024-01-05T00:00:00"
    batches = [
        [  # batch 0: clean rows + the FIRST copy of orderkey 7
            (1, 10, "O", 100.0, ok, "1-URGENT"),
            (7, 10, "F", 50.0, ok, "2-HIGH"),
        ],
        [  # batch 1: the SECOND copy of 7 (cross-batch dup) + null FK + bad price
            (7, 10, "P", 60.0, ok, "3-MEDIUM"),
            (2, None, "O", 30.0, ok, "4-NOT SPECIFIED"),
            (3, 10, "O", -1.0, ok, "5-LOW"),
        ],
        [  # batch 2: orphan FK + bad status + bad date
            (4, 99, "O", 20.0, ok, "1-URGENT"),
            (5, 10, "X", 25.0, ok, "2-HIGH"),
            (6, 10, "O", 35.0, "1980-01-01T00:00:00", "3-MEDIUM"),
        ],
    ]
    customer = spark.createDataFrame(
        [(10, "Customer#10", 100.0, 0)],
        "c_custkey long, c_name string, c_acctbal double, c_nationkey long",
    )
    src = tmp_path / "orders_stream"
    src.mkdir()
    for i, rows in enumerate(batches):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps({
                    "o_orderkey": r[0], "o_custkey": r[1], "o_orderstatus": r[2],
                    "o_totalprice": r[3], "o_orderdate": r[4],
                    "o_orderpriority": r[5],
                }) + "\n")
    schema = StructType([
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
        StructField("o_orderpriority", StringType()),
    ])
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    q = attach_dq_stream(stream, customer, state, str(tmp_path / "cp_dq"))
    q.processAllAvailable()
    q.stop()

    got = {r.check_name: (r.n_violations, r["pass"])
           for r in incremental_dq(spark, state).collect()}
    # batch suite over the union, through the gated entrypoint
    union_rows = [
        (r[0], r[1], r[2], r[3], dt.datetime.fromisoformat(r[4]), r[5])
        for rows in batches for r in rows
    ]
    td = str(tmp_path / "union_sf")
    spark.createDataFrame(union_rows, schema).write.parquet(f"{td}/orders.parquet")
    customer.write.parquet(f"{td}/customer.parquet")
    want = {r.check_name: (r.n_violations, r["pass"])
            for r in dq_orders_constraints(spark, td).collect()}
    assert got == want
    assert got["unique_orderkey"] == (1, False)  # the cross-batch dup
    assert sum(v for v, _ in got.values()) == 6  # one violation per kind

    # idempotence: drive the state writer DIRECTLY with known batch ids
    # (the stream may group files into batches however it likes — sums are
    # grouping-invariant, which got==want above already proves), then
    # replay one batch id and assert the assembly is unchanged
    state2 = str(tmp_path / "dq_state_manual")
    dfs = [
        spark.createDataFrame(
            [(r[0], r[1], r[2], r[3], dt.datetime.fromisoformat(r[4]), r[5])
             for r in rows],
            schema,
        )
        for rows in batches
    ]
    for i, df in enumerate(dfs):
        dq_state_batch(df, customer, state2, batch_id=i)
    base = {r.check_name: (r.n_violations, r["pass"])
            for r in incremental_dq(spark, state2).collect()}
    assert base == want
    dq_state_batch(dfs[1], customer, state2, batch_id=1)  # at-least-once replay
    again = {r.check_name: (r.n_violations, r["pass"])
             for r in incremental_dq(spark, state2).collect()}
    assert again == base


def test_observed_etl_metrics_batch_and_stream(spark, tmp_path):
    """with_etl_metrics: Spark's observe() must report, with NO extra pass
    over the data, exactly the aggregates an independent groupBy computes
    — on batch via Observation, and per micro-batch via
    StreamingQueryProgress.observedMetrics (summed across batches ==
    batch totals, since every metric is additive)."""
    import json

    from pyspark.sql import Observation
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.streaming.pipeline import with_etl_metrics

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("n_null_user"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_error_rows"
        ),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    ).first()

    obs = Observation("batch_etl")
    with_etl_metrics(ev, obs).write.mode("overwrite").format("noop").save()
    got = obs.get
    assert got["n_rows"] == want["n_rows"]
    assert got["n_null_user"] == want["n_null_user"]
    assert got["n_error_rows"] == want["n_error_rows"]
    assert got["sum_value"] == want["sum_value"]

    # stream: three micro-batches; per-batch observed metrics sum to the
    # batch totals of the streamed subset
    rows = ev.limit(9).collect()
    src = tmp_path / "obs_events"
    src.mkdir()
    for i in range(3):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for r in rows[i * 3 : i * 3 + 3]:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                            "props": r.props,
                        }
                    )
                    + "\n"
                )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    observed = with_etl_metrics(stream, "stream_etl")
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cp_obs"))
        .start()
    )
    q.processAllAvailable()
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    seen = [
        p["observedMetrics"]["stream_etl"]
        for p in progress
        if p.get("observedMetrics", {}).get("stream_etl")
        and p["numInputRows"] > 0
    ]
    assert seen  # metrics actually surfaced in progress events
    streamed = spark.createDataFrame(rows, ev.schema)
    subset_want = streamed.agg(
        F.count(F.lit(1)), F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    ).first()
    assert sum(m["n_rows"] for m in seen) == subset_want[0]
    assert sum(m["n_error_rows"] for m in seen) == subset_want[1]


def test_observed_srm_metrics_batch_and_stream(spark, tmp_path):
    """with_srm_metrics (r14, VERDICT r13 #7): the SRM guardrail as an
    in-flight observe() metric. (a) Batch, real events: arm counts equal
    an independent aggregate and the exact chi-square flags stay False
    (the hash split is balanced by construction). (b) A planted one-arm
    logging outage (every ab_50_50 treatment row dropped) must flag that
    design and ONLY that design. (c) On a stream the same metrics
    surface per micro-batch, and the outage batch flags in-flight."""
    import json

    from pyspark.sql import Observation

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.functions import text as T
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        with_srm_metrics,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    arm2 = F.pmod(T.token_hash(F.col("user_id").cast("string"), seed=2), F.lit(2))

    obs = Observation("srm_batch")
    with_srm_metrics(ev, obs).write.mode("overwrite").format("noop").save()
    got = obs.get
    want = ev.filter(F.col("user_id").isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(arm2 < 1, 1).otherwise(0)).alias("nt2"),
    ).first()
    assert got["n_assigned"] == want["n"]
    assert got["nt_ab_50_50"] == want["nt2"]
    assert got["srm_flag_ab_50_50"] is False
    assert got["srm_flag_ramp_10_90"] is False

    # planted outage: the 50/50 treatment arm's rows vanish entirely
    broken = ev.filter(F.col("user_id").isNull() | (arm2 >= 1))
    obs2 = Observation("srm_broken")
    with_srm_metrics(broken, obs2).write.mode("overwrite").format("noop").save()
    got2 = obs2.get
    assert got2["nt_ab_50_50"] == 0
    assert got2["srm_flag_ab_50_50"] is True

    # stream: batch 0 healthy, batch 1 is the outage — the flag must fire
    # on exactly the outage micro-batch
    healthy = ev.filter(F.col("user_id").isNotNull()).limit(400).collect()
    src = tmp_path / "srm_events"
    src.mkdir()

    def dump(path, rows):
        with open(path, "w") as f:
            for r in rows:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                            "props": r.props,
                        }
                    )
                    + "\n"
                )

    def arm_of(uid):  # the 50/50 assignment (token_hash), replayed driver-side
        import hashlib

        return int(hashlib.md5(f"2:{uid}".encode()).hexdigest()[:15], 16) % 2

    dump(src / "000.jsonl", healthy)
    dump(src / "001.jsonl", [r for r in healthy if arm_of(r.user_id) >= 1])
    stream = (
        spark.readStream.format("json").schema(ev.schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    q = (
        with_srm_metrics(stream, "srm_stream")
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cp_srm"))
        .start()
    )
    q.processAllAvailable()
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    seen = [
        p["observedMetrics"]["srm_stream"]
        for p in progress
        if p.get("observedMetrics", {}).get("srm_stream")
        and p["numInputRows"] > 0
    ]
    assert len(seen) == 2
    flags = sorted(m["srm_flag_ab_50_50"] for m in seen)
    assert flags == [False, True]  # healthy batch clean, outage flagged


def test_decode_quarantine_splits_corrupt_records(spark, tmp_path):
    """Corrupt blobs must land in the quarantine with their raw payload,
    not flatten into all-null rows, and null blobs must dead-letter with
    their own reason: good ∪ quarantine covers EVERY input row, the two
    sides are disjoint, and the same contract holds per micro-batch on a
    stream."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        decode_blob,
        decode_blob_with_quarantine,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    payloads = [
        json.dumps({"id": 1, "name": "ok"}),
        "{not json at all",
        json.dumps({"id": 2, "name": None}),  # valid with a null field
        "]]]",
        None,  # null blob: dead-lettered with reason null_payload
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "data string")
    good, bad = decode_blob_with_quarantine(df, schema)
    good_rows = good.collect()
    bad_rows = bad.collect()
    assert {r.id for r in good_rows} == {1, 2}
    assert len(good_rows) == 2  # the valid-null-field row is GOOD, not lost
    assert {(r.raw_payload, r.reason) for r in bad_rows} == {
        ("{not json at all", "malformed_json"),
        ("]]]", "malformed_json"),
        (None, "null_payload"),
    }
    assert len(good_rows) + len(bad_rows) == len(payloads)  # nothing lost
    # plain decode_blob silently yields null rows for the corrupt payloads —
    # the quarantine exists because of exactly this
    assert decode_blob(df, schema).filter("id IS NULL AND name IS NULL").count() == 3

    # stream side: same split per micro-batch via foreachBatch
    src = tmp_path / "blobs"
    src.mkdir()
    for i, p in enumerate(payloads[:4]):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            f.write(json.dumps({"data": p}) + "\n")
    stream = (
        spark.readStream.format("json")
        .schema("data string")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    outg, outb = str(tmp_path / "good"), str(tmp_path / "bad")

    def split(batch_df, _):
        g, b = decode_blob_with_quarantine(batch_df, schema)
        g.write.mode("append").parquet(outg)
        b.write.mode("append").parquet(outb)

    q = (
        stream.writeStream.foreachBatch(split)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert {r.id for r in spark.read.parquet(outg).collect()} == {1, 2}
    assert spark.read.parquet(outb).count() == 2


def test_available_now_drains_and_resumes_incrementally(spark, tmp_path):
    """Trigger.AvailableNow — the scheduled-batch drive mode for a
    streaming pipeline: run 1 drains the current backlog and STOPS; new
    files arrive; run 2 processes ONLY the new files (checkpoint resume,
    no re-read, no duplicates). This is the cadence the reference's daily
    Airflow DAG should use."""
    import json

    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        blob_file_stream,
        decode_blob,
        write_append_stream,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("id", LongType())])
    src = tmp_path / "src"
    src.mkdir()
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def add_file(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                f.write(json.dumps({"data": json.dumps({"id": i})}) + "\n")

    def run_once():
        q = write_append_stream(
            decode_blob(blob_file_stream(spark, str(src)), schema),
            out, cp, "avnow", available_now=True,
        )
        q.awaitTermination(120)
        assert not q.isActive  # AvailableNow must stop on its own

    add_file("a.jsonl", [1, 2, 3])
    run_once()
    got1 = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got1 == [1, 2, 3]

    add_file("b.jsonl", [4, 5])
    run_once()
    got2 = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got2 == [1, 2, 3, 4, 5]  # incremental: old rows not re-emitted


def test_stream_decontaminate_equals_batch(spark, tmp_path):
    """Streaming decontamination: contamination_report_vs per micro-batch
    against a STATIC benchmark table must produce exactly the batch report
    over the union of batches — each doc's verdict depends only on (its
    text, the fixed eval set), so no state crosses micro-batch boundaries.
    This completes the streaming ingest-triage story: quality gates,
    repetition gates, merge triage, and now benchmark decontamination all
    compose per micro-batch."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.text_analysis import (
        contamination_report_vs,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    bench_rows = [(100, f"benchmark question {leak} and its answer")]
    train = [
        (1, f"clean document with plenty of fresh tokens all around here"),
        (2, f"this one copied {leak} straight from the benchmark"),
        (3, "another clean document nothing shared with any eval set"),
        (4, f"{leak} leading contamination plus extra trailing words here"),
        (5, "short"),
        (6, "totally unrelated text body with many distinct words inside"),
    ]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    bench = spark.createDataFrame(bench_rows, schema)

    src = tmp_path / "docs"
    src.mkdir()
    for i in range(3):  # 3 micro-batches of 2 docs
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for doc_id, text in train[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    out = str(tmp_path / "contam")

    def screen(batch_df, _):
        contamination_report_vs(batch_df, bench).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_id: (r.n_hit_ngrams, r.n_doc_ngrams)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.n_hit_ngrams, r.n_doc_ngrams)
        for r in contamination_report_vs(
            spark.createDataFrame(train, schema), bench
        ).collect()
    }
    assert got == want
    assert set(got) == {2, 4}  # exactly the leaked docs are flagged


def test_stream_lm_score_equals_batch(spark, tmp_path):
    """Streaming LM-perplexity filtering: lm_score_flags per micro-batch
    against a STATIC in-domain model corpus must equal the batch run over
    the union of batches — with an explicit `target`, each doc's score
    depends only on (its bigrams, the fixed count tables), so the filter
    composes per micro-batch exactly like decontamination. (The
    target=None self-trained form is deliberately NOT streamable: its
    model depends on the whole corpus.)"""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.text_analysis import (
        lm_score_flags,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    target = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(3)], schema
    )
    docs = [
        (1, "the cat sat"),
        (2, "zebra quark blorp"),
        (3, "solo"),
        (4, "on the mat sat the cat"),
        (5, "the mat on the cat"),
        (6, "completely novel words everywhere"),
    ]

    src = tmp_path / "docs"
    src.mkdir()
    for i in range(3):  # 3 micro-batches of 2 docs
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for doc_id, text in docs[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    out = str(tmp_path / "lm")

    def score(batch_df, _):
        lm_score_flags(batch_df, target=target).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_id: (r.n_bigrams, r.n_oov_bigrams, r.lm_avg_ppm, r.keep)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.n_bigrams, r.n_oov_bigrams, r.lm_avg_ppm, r.keep)
        for r in lm_score_flags(
            spark.createDataFrame(docs, schema), target=target
        ).collect()
    }
    assert got == want and len(got) == 6
    # doc 4's rearrangement: on-the/the-mat/the-cat in-domain, mat-sat and
    # sat-the out — OOV counting sees bigrams, not vocabulary
    assert got[4][:2] == (5, 2)


def test_incremental_quality_report_equals_batch(spark, tmp_path):
    """The streaming curation dashboard: per-micro-batch mergeable state
    (summable gate counters + distinct-at-report key sets) must assemble
    to EXACTLY the batch quality_report_vs over the union of batches —
    including a cross-batch exact duplicate, which no per-batch report
    can see, and a contaminated doc screened against the STATIC eval
    set."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.corpus import quality_report_vs
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_quality_report_stream,
        incremental_quality_report,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ]
    )
    leak = "alpha beta gamma delta epsilon zeta"
    bench = spark.createDataFrame(
        [(100, f"benchmark passage {leak} continues here")],
        StructType([StructField("doc_id", LongType()), StructField("text", StringType())]),
    )
    dup_text = "this exact document body appears in two different batches"
    docs = [
        (1, "a perfectly ordinary document with the usual number of words", "en", "web"),
        (2, dup_text, "en", "web"),
        (3, f"copied {leak} straight into the training text", "en", "forum"),
        (4, dup_text, "en", "web"),  # cross-batch exact dup of doc 2
        (5, "short one", "de", "web"),
        (6, "the the the the the the the the the the the the", "en", "forum"),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(3):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for doc_id, text, lang, source in docs[i * 2 : i * 2 + 2]:
                f.write(
                    json.dumps(
                        {"doc_id": doc_id, "text": text, "lang": lang, "source": source}
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state = str(tmp_path / "state")
    q = attach_quality_report_stream(
        stream, bench, state, str(tmp_path / "cp")
    )
    q.processAllAvailable()
    q.stop()

    got = incremental_quality_report(spark, state).collect()
    want = quality_report_vs(spark.createDataFrame(docs, schema), bench).collect()
    assert len(got) == 1 and got == want
    r = got[0]
    assert r.n_exact_dup_docs == 1  # the cross-batch duplicate was seen
    assert r.contaminated_bp > 0  # the static-eval screen fired
    assert (r.n_langs, r.n_sources) == (2, 2)


def test_compact_sink_output_preserves_rows_and_refuses_manifest(spark, tmp_path):
    """Sink compaction: after many tiny foreachBatch files, compaction must
    (a) reduce the file count to the target, (b) preserve every row
    exactly, and (c) leave the stream's checkpoint valid — a later
    incremental run appends new data without re-emitting old rows. A
    FileStreamSink output (with a _spark_metadata manifest) must be
    REFUSED: rewriting files under the manifest hides data from
    manifest-driven readers (the Delta-OPTIMIZE gap, COVERAGE.md S5)."""
    import glob
    import json

    import pytest as _pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        compact_sink_output,
        write_append_stream,
    )

    schema = StructType([StructField("id", LongType())])
    src = tmp_path / "src"
    src.mkdir()
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def add(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                f.write(json.dumps({"id": i}) + "\n")

    def drain():
        stream = (
            spark.readStream.format("json").schema(schema)
            .option("maxFilesPerTrigger", "1").load(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for b in range(6):  # 6 tiny files -> >= 6 sink files
        add(f"{b:03d}.jsonl", [b * 10, b * 10 + 1])
    drain()
    n_before = compact_sink_output(spark, out, target_files=2)
    n_after = len(glob.glob(out + "/*.parquet"))
    assert n_before >= 6 and n_after <= 2
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == sorted(b * 10 + k for b in range(6) for k in (0, 1))

    add("zzz.jsonl", [999])  # the checkpoint must resume incrementally
    drain()
    got2 = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got2 == got + [999]  # old rows once, new row appended

    # manifest-managed sink output: refuse, do not corrupt
    sink_out = str(tmp_path / "manifest_out")
    q = write_append_stream(
        spark.readStream.format("json").schema(schema).load(str(src)),
        sink_out,
        str(tmp_path / "cp2"),
        "manifest_etl",
        available_now=True,
    )
    q.awaitTermination()
    with _pytest.raises(ValueError, match="_spark_metadata"):
        compact_sink_output(spark, sink_out, target_files=2)


def test_quality_state_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch REPLAYED after a crash
    (same batch_id, same data) must not double-count. State rows land in
    batch_id=<bid> partitions written with overwrite, so the replayed
    batch rewrites its partition and the assembled report is unchanged."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.corpus import quality_report_vs
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_quality_report,
        quality_state_batch,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ]
    )
    bench = spark.createDataFrame(
        [(100, "held out benchmark passage")],
        StructType([StructField("doc_id", LongType()), StructField("text", StringType())]),
    )
    b0 = [(1, "an ordinary first document body", "en", "web"),
          (2, "another routine text with words", "en", "web")]
    b1 = [(3, "a third document in the corpus", "de", "forum")]
    state = str(tmp_path / "state")
    quality_state_batch(spark.createDataFrame(b0, schema), bench, state, batch_id=0)
    quality_state_batch(spark.createDataFrame(b1, schema), bench, state, batch_id=1)
    # crash-replay of batch 1: identical data, identical batch_id
    quality_state_batch(spark.createDataFrame(b1, schema), bench, state, batch_id=1)
    got = incremental_quality_report(spark, state).collect()
    want = quality_report_vs(spark.createDataFrame(b0 + b1, schema), bench).collect()
    assert got == want
    assert got[0].n_docs == 3  # not 4 — the replay did not double-count


def test_incremental_report_before_first_batch_is_zero(spark, tmp_path):
    """Querying the dashboard before any batch has landed (state dirs
    absent) returns the all-zero report instead of AnalysisException, and
    the zero-doc bp divisions are NULL instead of an ANSI div-by-zero."""
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_quality_report,
    )

    r = incremental_quality_report(spark, str(tmp_path / "never_written")).collect()
    assert len(r) == 1
    assert (r[0].n_docs, r[0].n_tokens) == (0, 0)
    assert r[0].quality_pass_bp is None


def test_compact_sink_output_recovers_half_finished_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the dataset stranded in
    .__compact_old__ and nothing at `path`; re-running compaction must
    roll the old directory back into place (and clear stale tmp dirs)
    instead of failing on the missing path."""
    import os as _os
    import shutil as _shutil

    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        compact_sink_output,
    )

    out = str(tmp_path / "out")
    spark.range(20).write.parquet(out)
    # simulate the crash window: first rename done, second never happened
    _os.rename(out, out + ".__compact_old__")
    _os.makedirs(out + ".__compact_tmp__")  # stale aborted write too
    compact_sink_output(spark, out, target_files=1)
    assert not _os.path.exists(out + ".__compact_old__")
    assert not _os.path.exists(out + ".__compact_tmp__")
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(20))


def test_incremental_retention_equals_batch(spark, tmp_path):
    """Streaming retention (round-6 directive): the incremental triangle
    assembled from per-micro-batch activity state must equal the batch
    triangle over the union of batches — including a user whose cohort
    week arrives in batch 0 but whose return activity arrives two batches
    later (the cross-batch offset no per-batch triangle can see), a user
    active in the same week across two batches (set-union dedup), and an
    at-least-once REPLAY of a batch (idempotence)."""
    import datetime

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from pinterest_data_pipeline218_spark.plans.events import (
        retention_triangle_from_activity,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_retention_triangle,
        retention_state_batch,
    )
    import pyspark.sql.functions as F_

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )

    def t(day, hour=12):
        return datetime.datetime(2026, 3, day, hour)

    # weeks (ISO Mondays): Mar 2 / Mar 9 / Mar 16 / Mar 23
    batches = [
        [(1, t(3)), (2, t(4)), (3, t(5))],          # cohort week Mar 2 x3
        [(1, t(10)), (2, t(11)), (4, t(12))],       # offset 1; user 4 cohort Mar 9
        [(1, t(18)), (3, t(19)), (4, t(20)), (2, t(11, 13))],  # offsets 2/1; dup-week user 2
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        retention_state_batch(spark.createDataFrame(rows, schema), state, bid)
    retention_state_batch(spark.createDataFrame(batches[1], schema), state, 1)  # replay

    got = incremental_retention_triangle(spark, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    )
    want = retention_triangle_from_activity(
        union.select("user_id", F_.date_trunc("week", "ts").alias("w")).distinct()
    ).collect()
    assert got == want and len(got) >= 4
    by_cell = {(str(r.cohort_week), r.week_offset): r.n_users for r in got}
    # hand-pinned: cohort Mar 2 has 3 users at offset 0, 2 at offset 1
    # (users 1,2), 2 at offset 2 (users 1,3); cohort Mar 9 (user 4) has
    # offset 0 and 1
    assert by_cell[("2026-03-02", 0)] == 3
    assert by_cell[("2026-03-02", 1)] == 2
    assert by_cell[("2026-03-02", 2)] == 2
    assert by_cell[("2026-03-09", 0)] == 1
    assert by_cell[("2026-03-09", 1)] == 1


def test_stream_containment_increment_equals_batch(spark, tmp_path):
    """Incremental containment triage per micro-batch against a STATIC
    corpus must equal the batch combinator over the union of batches (a
    new doc's verdict depends only on its own text + the corpus — no
    cross-batch state), and must catch BOTH directions of engulfment:
    a new doc that is a chunk of a corpus doc, and a new doc that
    engulfs a corpus doc."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.dedup import (
        containment_increment,
    )

    host = [f"h{i}" for i in range(300)]
    small = [f"s{i}" for i in range(25)]
    corpus = spark.createDataFrame(
        [(1, " ".join(host)), (2, " ".join(small)),
         (3, " ".join(f"x{i}" for i in range(80)))],
        "doc_id long, text string",
    )
    new_rows = [
        (100, " ".join(host[50:80])),                      # new ⊆ corpus doc 1
        (101, " ".join(small + [f"extra{i}" for i in range(200)])),  # engulfs corpus doc 2
        (102, " ".join(f"z{i}" for i in range(60))),       # unrelated
        (103, " ".join(host[10:35])),                      # new ⊆ corpus doc 1
    ]
    src = tmp_path / "new_docs"
    src.mkdir()
    for i in range(2):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for d, t in new_rows[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"doc_id": d, "text": t}) + "\n")

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    out = str(tmp_path / "inc")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _i: containment_increment(b, corpus)
            .write.mode("append")
            .parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.doc_new, r.doc_corpus): (r.n_common, r.cont_new_bp, r.cont_corpus_bp, r.subdup)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_new, r.doc_corpus): (r.n_common, r.cont_new_bp, r.cont_corpus_bp, r.subdup)
        for r in containment_increment(
            spark.createDataFrame(new_rows, "doc_id long, text string"), corpus
        ).collect()
    }
    assert got == want
    # both engulfment directions flagged
    assert got[(100, 1)][3] and got[(100, 1)][1] == 10000  # new fully inside
    assert got[(103, 1)][3]
    assert got[(101, 2)][3] and got[(101, 2)][2] == 10000  # corpus doc engulfed
    assert not any(a == 102 for a, _ in got)  # unrelated stays clean


def test_incremental_retention_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_retention_triangle,
    )

    df = incremental_retention_triangle(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["cohort_week", "week_offset", "n_users"]


def test_incremental_funnel_equals_batch(spark, tmp_path):
    """Streaming funnel (the retention pair's other half): the incremental
    funnel assembled from per-micro-batch step-event state must equal the
    batch funnel over the union of batches — including the cross-batch
    REORDERING case that proves why the state must be the full distinct
    (user, type, ts) set: user 2's click arrives in batch 0 BEFORE any of
    their views, so they are a non-converter until batch 1 delivers an
    earlier view, which retroactively makes that click a valid step-2
    first touch (any per-(user, step) min or truncated state misses
    this). Also exercises set-union dedup of an identical event across
    batches and an at-least-once replay of a whole batch (idempotence)."""
    import datetime

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from pinterest_data_pipeline218_spark.plans.events import funnel_steps
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        funnel_state_batch,
        incremental_funnel,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    def t(hour, minute=0):
        return datetime.datetime(2026, 3, 3, hour, minute)

    batches = [
        # user 1: clean view->click->purchase within one batch
        # user 2: click at 10:00 with NO earlier view yet (non-converter)
        # user 3: view only; 'scroll' must be filtered out of the state
        [
            (1, "view", t(9)),
            (1, "click", t(10)),
            (1, "purchase", t(11)),
            (2, "click", t(10)),
            (3, "view", t(9)),
            (3, "scroll", t(10)),
        ],
        # user 2's EARLIER view arrives late -> their 10:00 click becomes
        # a valid step-2 first touch; duplicate of user 1's view (dedup)
        [
            (2, "view", t(8)),
            (1, "view", t(9)),
        ],
        # user 2 purchases after their click -> full conversion
        [
            (2, "purchase", t(12)),
        ],
    ]
    state = str(tmp_path / "state")

    # after batch 0 alone: user 2 must NOT count at step 2 (click precedes
    # every known view)
    funnel_state_batch(spark.createDataFrame(batches[0], schema), state, 0)
    mid = {r.step: r.n_users for r in incremental_funnel(spark, state).collect()}
    assert mid == {1: 2, 2: 1, 3: 1}

    funnel_state_batch(spark.createDataFrame(batches[1], schema), state, 1)
    funnel_state_batch(spark.createDataFrame(batches[2], schema), state, 2)
    funnel_state_batch(spark.createDataFrame(batches[1], schema), state, 1)  # replay

    got = incremental_funnel(spark, state).collect()
    union = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = funnel_steps(union).collect()
    assert got == want
    by_step = {r.step: r.n_users for r in got}
    # hand-pinned: users 1,2,3 viewed; 1,2 clicked after their view;
    # 1,2 purchased after their click
    assert by_step == {1: 3, 2: 2, 3: 2}
    assert [r.conv_bp for r in got] == [10000, 6666, 6666]
    # state holds only funnel-step events (scroll filtered scan-side)
    st = spark.read.parquet(f"{state}/funnel_events")
    assert st.filter(st.event_type == "scroll").count() == 0


def test_incremental_funnel_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_funnel,
    )

    df = incremental_funnel(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["step", "event_type", "n_users", "conv_bp"]


def test_stream_quality_classifier_equals_batch(spark, tmp_path):
    """Streaming curated-vs-crawl scoring: score_token_contrast per
    micro-batch against FROZEN trained weights must equal the batch run
    over the union of batches — with a fixed model, each doc's score
    depends only on its own tokens, so the classifier composes per
    micro-batch exactly like decontamination / explicit-target LM
    scoring. (Training inside the stream is deliberately NOT offered:
    the weights depend on the whole labeled corpus.)"""
    import json

    import pyspark.sql.functions as F_
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.text_analysis import (
        _contrast_grams,
        score_token_contrast,
        train_token_contrast,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    train = spark.createDataFrame(
        [(100 + i, "measured careful prose structure", "curated") for i in range(3)]
        + [(200 + i, "buy cheap spam winner click", "crawl") for i in range(3)],
        schema,
    )
    weights = train_token_contrast(
        _contrast_grams(train, F_.col("source") == "curated")
    )

    docs = [
        (1, "measured careful prose", "unseen"),
        (2, "cheap spam spam", "unseen"),
        (3, "prose winner", "unseen"),
        (4, "entirely novel tokens", "unseen"),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(2):  # 2 micro-batches of 2 docs
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for doc_id, text, source in docs[i * 2 : i * 2 + 2]:
                f.write(
                    json.dumps({"doc_id": doc_id, "text": text, "source": source})
                    + "\n"
                )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    out = str(tmp_path / "scored")

    def score(batch_df, _):
        score_token_contrast(
            batch_df, _contrast_grams(batch_df, F_.lit(False)), weights
        ).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_id: (r.contrast_score, r.looks_curated)
        for r in spark.read.parquet(out).collect()
    }
    union = spark.createDataFrame(docs, schema)
    want = {
        r.doc_id: (r.contrast_score, r.looks_curated)
        for r in score_token_contrast(
            union, _contrast_grams(union, F_.lit(False)), weights
        ).collect()
    }
    assert got == want and len(got) == 4
    assert got[1][1] and not got[2][1]  # curated-voiced keeps, spam drops


def test_incremental_kmv_equals_batch(spark, tmp_path):
    """Incremental KMV distinct counts from bounded per-batch partial
    sketches must equal the batch sketch over the union of batches in
    BOTH regimes: group 'big' has far more than k distinct keys (estimate
    branch — min-k of the union must equal min-k of unioned min-k sets,
    exercised with overlapping keys across batches), group 'small' stays
    below k (exact mode — the true distinct count must survive
    truncation and cross-batch dedup). Also replays a batch
    (idempotence)."""
    from pinterest_data_pipeline218_spark.plans.events import kmv_distinct
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_kmv,
        kmv_state_batch,
    )

    k = 32
    batches = [
        [("big", i) for i in range(300)] + [("small", i) for i in range(5)],
        [("big", i) for i in range(200, 500)] + [("small", i) for i in range(3, 8)],
        [("big", i) for i in range(450, 700)] + [("small", 7), ("small", 8)],
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "event_type string, user_id long")
        kmv_state_batch(df, state, bid, k=k)
    kmv_state_batch(
        spark.createDataFrame(batches[1], "event_type string, user_id long"),
        state, 1, k=k,
    )  # replay

    # the real assembly end-to-end at the STATE'S k (the documented
    # contract: assembly k == truncation k)
    got = {r.g: r.kmv_users
           for r in incremental_kmv(spark, state, k=k).collect()}

    union = spark.createDataFrame(
        [r for rows in batches for r in rows], "event_type string, user_id long"
    )
    want = {r.event_type: r.kmv_users
            for r in kmv_distinct(union, "event_type", "user_id", k=k).collect()}
    assert got == want
    assert got["small"] == 9  # exact mode: true distinct count
    # estimate-regime sanity only: within a factor of 2 at k=32 (rsd ~18%,
    # this deterministic draw lands ~3 sigma high; the real accuracy bound
    # is pytest-pinned at k=256 in test_kmv_distinct_bound_and_exact_mode)
    assert 350 <= got["big"] <= 1400


def test_incremental_kmv_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_kmv,
    )

    df = incremental_kmv(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["g", "kmv_users"]


def test_purge_keys_erases_and_recovers(spark, tmp_path):
    """GDPR purge contracts: (1) every row for the requested keys is
    gone and every other row survives byte-identical; (2) the returned
    count is the number of purged rows; (3) a half-finished prior swap
    (dataset stranded at .__compact_old__) is recovered on entry — the
    compact_sink_output crash-window protocol, shared code; (4) a
    manifest-managed dir is refused."""
    import os as _os

    import pytest as _pytest

    from pinterest_data_pipeline218_spark.streaming.pipeline import purge_keys

    path = str(tmp_path / "tbl")
    rows = [(u, f"payload{u}-{i}") for u in range(10) for i in range(5)]
    spark.createDataFrame(rows, "user_id long, payload string").write.parquet(path)

    n = purge_keys(spark, path, "user_id", [3, 7, 99])  # 99 absent: no-op key
    assert n == 10
    left = spark.read.parquet(path)
    assert left.count() == 40
    assert left.filter(F.col("user_id").isin(3, 7)).count() == 0
    assert sorted(r.payload for r in left.filter(F.col("user_id") == 5).collect()) == [
        f"payload5-{i}" for i in range(5)
    ]

    # crash-window recovery: strand the dataset at .__compact_old__
    _os.rename(path, path + ".__compact_old__")
    n2 = purge_keys(spark, path, "user_id", [5])
    assert n2 == 5 and spark.read.parquet(path).count() == 35

    # empty deletion batch: no-op, no rewrite
    assert purge_keys(spark, path, "user_id", []) == 0
    assert spark.read.parquet(path).count() == 35

    # manifest refusal
    bad = str(tmp_path / "sink")
    spark.createDataFrame([(1,)], "x long").write.parquet(bad)
    _os.mkdir(_os.path.join(bad, "_spark_metadata"))
    with _pytest.raises(ValueError, match="manifest"):
        purge_keys(spark, bad, "x", [1])


def test_incremental_hist_quantiles_equals_batch(spark, tmp_path):
    """Incremental histogram quantiles from per-batch additive bin counts
    must EXACTLY equal the batch query over the union of batches — the
    strongest equality in the sketch-dashboard family, since histogram
    merge is plain addition. Exercises values straddling bin edges across
    batches and a replayed batch (idempotence)."""
    from pinterest_data_pipeline218_spark.plans.events import (
        hist_bin_counts,
        hist_quantiles_from_counts,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        hist_state_batch,
        incremental_hist_quantiles,
    )

    batches = [
        [("click", 0.5 + i) for i in range(40)],
        [("click", 20.5 + i) for i in range(40)],  # overlapping bin range
        [("view", 99.99), ("view", 100.01), ("click", 0.75)],
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "event_type string, value double")
        hist_state_batch(df, state, bid)
    hist_state_batch(
        spark.createDataFrame(batches[1], "event_type string, value double"),
        state, 1,
    )  # replay

    got = incremental_hist_quantiles(spark, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], "event_type string, value double"
    )
    want = hist_quantiles_from_counts(hist_bin_counts(union)).collect()
    assert got == want and len(got) == 2
    by = {r.event_type: (r.p50_lo_cents, r.p95_lo_cents) for r in got}
    # view: values 99.99 / 100.01 straddle the 100-unit bin edge;
    # p50 = ceil(2*0.5)=1st value 99.99 -> bin 99 -> 9900 cents
    assert by["view"] == (9900, 10000)


def test_incremental_drift_equals_batch(spark, tmp_path):
    """The r11 drift monitor's streaming twin: accumulating per-batch
    ADDITIVE drift cells against a fixed baseline must EXACTLY equal the
    batch finisher over (baseline, union-of-batches) — including bins
    present in only one snapshot (zero-filled on the other side), a
    planted >2pp share shift that must flag, and a replayed batch
    (overwrite-partition idempotence)."""
    from pinterest_data_pipeline218_spark.operators.dataquality import (
        drift_cells,
        drift_report,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        drift_state_batch,
        incremental_events_drift,
    )

    # baseline: 50/50 split between bins 0 (v=10) and 1 (v=30), plus a
    # bin-19 value the stream never produces (one-sided cell)
    base_rows = (
        [("click", 10.0)] * 50 + [("click", 30.0)] * 50 + [("click", 499.0)]
    )
    baseline = spark.createDataFrame(base_rows, "event_type string, value double")
    # stream: 80/20 split (shift >2pp on both bins) + a bin-2 value the
    # baseline never produced
    batches = [
        [("click", 10.0)] * 50 + [("click", 30.0)] * 10,
        [("click", 10.0)] * 30 + [("click", 30.0)] * 10 + [("click", 60.0)],
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        drift_state_batch(
            spark.createDataFrame(rows, "event_type string, value double"),
            state, bid,
        )
    drift_state_batch(
        spark.createDataFrame(batches[1], "event_type string, value double"),
        state, 1,
    )  # replay must not double-count

    got = incremental_events_drift(spark, baseline, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], "event_type string, value double"
    )
    joint = (
        drift_cells(baseline, "n_first")
        .join(drift_cells(union, "n_second"), ["event_type", "bin"], "full_outer")
        .selectExpr(
            "event_type", "bin",
            "coalesce(n_first, 0) AS n_first",
            "coalesce(n_second, 0) AS n_second",
        )
    )
    want = drift_report(joint).collect()
    assert got == want
    by = {r.bin: r for r in got}
    assert by[0].shifted is True and by[1].shifted is True  # planted shift
    assert by[19].n_second == 0 and by[2].n_first == 0  # one-sided cells
    assert by[0].n_second == 80  # replay did not double-count


def test_incremental_hll_equals_batch(spark, tmp_path):
    """The materialized-sketch pattern's streaming twin (VERDICT r11 #5):
    per-batch daily HLL sketch partials unioned read-side must equal the
    batch rollup over the union of batches BIT-IDENTICALLY (lossless
    register-wise max at equal lgConfigK) — including a user seen in BOTH
    batches on the same day (mergeable-not-additive: union counts them
    once where summed counts would double), a replayed batch
    (overwrite-partition idempotence), and the week grouping."""
    import datetime as dt

    from pinterest_data_pipeline218_spark.plans.events import (
        hll_daily_sketches,
        hll_weekly_rollup,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        hll_state_batch,
        incremental_hll_weekly,
    )

    d0 = dt.datetime(2024, 1, 1, 12)
    sch = "event_type string, ts timestamp, user_id long"
    # users 1-40 in batch 0; users 21-60 in batch 1 (overlap 21-40, same
    # day) + day-9 rows landing in the NEXT week bucket
    batches = [
        [("click", d0, u) for u in range(1, 41)],
        [("click", d0, u) for u in range(21, 61)]
        + [("click", d0 + dt.timedelta(days=9), u) for u in range(1, 6)],
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        hll_state_batch(spark.createDataFrame(rows, sch), state, bid)
    hll_state_batch(spark.createDataFrame(batches[1], sch), state, 1)  # replay

    got = incremental_hll_weekly(spark, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], sch
    )
    want = (
        hll_weekly_rollup(hll_daily_sketches(union))
        .orderBy("event_type", "week")
        .collect()
    )
    assert got == want  # bit-identical estimates, not approximately
    assert len(got) == 2  # two week buckets
    # sparse-mode HLL at this cardinality is exact: overlap counted ONCE
    assert got[0].est == 60 and got[0].n_days == 1
    assert got[1].est == 5

    empty = incremental_hll_weekly(spark, str(tmp_path / "never"))
    assert empty.collect() == []
    assert empty.columns == ["event_type", "week", "est", "n_days"]


def test_attach_hll_stream_end_to_end(spark, tmp_path):
    """attach_hll_stream drives hll_state_batch with Structured
    Streaming's real batch ids: file-triggered micro-batches accumulate
    daily sketch partials, and the weekly read-side equals the batch
    rollup over the union."""
    import json
    import os
    import time

    from pinterest_data_pipeline218_spark.plans.events import (
        hll_daily_sketches,
        hll_weekly_rollup,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_hll_stream,
        incremental_hll_weekly,
    )

    sch = "event_type string, ts timestamp, user_id long"
    batches = [
        [("click", "2024-01-01T10:00:00", u) for u in range(1, 31)],
        [("click", "2024-01-01T11:00:00", u) for u in range(11, 41)]
        + [("view", "2024-01-02T09:00:00", u) for u in range(1, 4)],
    ]
    src = tmp_path / "blobs"
    src.mkdir()
    base = time.time() - 100
    for i, rows in enumerate(batches):
        path = src / f"{i:03d}.jsonl"
        with open(path, "w") as f:
            for ty, ts, u in rows:
                f.write(json.dumps({"event_type": ty, "ts": ts, "user_id": u}) + "\n")
        os.utime(path, (base + 10 * i, base + 10 * i))
    stream = (
        spark.readStream.format("json")
        .schema(sch)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state = str(tmp_path / "state")
    q = attach_hll_stream(stream, state, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    got = incremental_hll_weekly(spark, state).collect()
    union = spark.createDataFrame(
        [(ty, __import__("datetime").datetime.fromisoformat(ts), u)
         for rows in batches for ty, ts, u in rows],
        sch,
    )
    want = (
        hll_weekly_rollup(hll_daily_sketches(union))
        .orderBy("event_type", "week")
        .collect()
    )
    assert got == want
    by = {r.event_type: r for r in got}
    assert by["click"].est == 40 and by["click"].n_days == 1
    assert by["view"].est == 3


def test_incremental_hist_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_hist_quantiles,
    )

    df = incremental_hist_quantiles(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["event_type", "p50_lo_cents", "p95_lo_cents"]


def test_incremental_cm_equals_batch(spark, tmp_path):
    """Incremental count-min heavy hitters from additive per-batch
    partials (counter cells + per-key counts) must EXACTLY equal the
    batch sketch over the union of batches — a key's collisions
    accumulate across batches identically because the counter matrix
    merges by addition. The planted heavy hitter spans all batches;
    includes a replayed batch (idempotence)."""
    from pinterest_data_pipeline218_spark.plans.events import cm_heavy_hitters
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        cm_state_batch,
        incremental_cm_top_users,
    )

    batches = [
        [(7,)] * 50 + [(i,) for i in range(100)],
        [(7,)] * 80 + [(i,) for i in range(50, 150)],
        [(7,)] * 30 + [(200 + i,) for i in range(20)],
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id long")
        cm_state_batch(df, state, bid)
    cm_state_batch(
        spark.createDataFrame(batches[1], "user_id long"), state, 1
    )  # replay

    got = incremental_cm_top_users(spark, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], "user_id long"
    )
    want = cm_heavy_hitters(union, "user_id").collect()
    assert got == want
    # 50+80+30 planted + one more from batch 0's range(100)
    assert got[0].user_id == 7 and got[0].exact_count == 161
    assert all(r.overshoot >= 0 for r in got)


def test_incremental_cm_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_cm_top_users,
    )

    df = incremental_cm_top_users(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["user_id", "est_count", "exact_count", "overshoot"]


def test_incremental_states_tolerate_all_empty_batches(spark, tmp_path):
    """An empty micro-batch (quiet trigger) still writes its batch_id
    partition; assembly over ONLY-empty state must not crash: the funnel
    returns its zero-count rows with NULL conversion (the nullif guard —
    previously an ANSI divide-by-zero), the sketch assemblies return
    empty, and the quality and data-quality reports stay their zero
    reports (no NULL counters)."""
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        cm_state_batch,
        dq_state_batch,
        funnel_state_batch,
        hist_state_batch,
        incremental_cm_top_users,
        incremental_dq,
        incremental_funnel,
        incremental_hist_quantiles,
        incremental_kmv,
        incremental_quality_report,
        kmv_state_batch,
        quality_state_batch,
    )

    empty = spark.createDataFrame(
        [], "user_id long, event_id long, event_type string, ts timestamp, value double"
    )
    f, k, h, c = (str(tmp_path / d) for d in ("f", "k", "h", "c"))
    funnel_state_batch(empty, f, 0)
    rows = incremental_funnel(spark, f).collect()
    assert [(r.step, r.n_users, r.conv_bp) for r in rows] == [
        (1, 0, None), (2, 0, None), (3, 0, None)
    ]
    kmv_state_batch(empty, k, 0)
    assert incremental_kmv(spark, k).collect() == []
    hist_state_batch(empty, h, 0)
    assert incremental_hist_quantiles(spark, h).collect() == []
    cm_state_batch(empty, c, 0)
    assert incremental_cm_top_users(spark, c).collect() == []
    q, d = str(tmp_path / "q"), str(tmp_path / "d")
    docs = spark.createDataFrame([], "doc_id long, text string, lang string, source string")
    bench = spark.createDataFrame([(1, "a benchmark passage")], "doc_id long, text string")
    quality_state_batch(docs, bench, q, 0)
    r = incremental_quality_report(spark, q).collect()
    assert len(r) == 1 and (r[0].n_docs, r[0].n_tokens) == (0, 0)
    orders = spark.createDataFrame(
        [],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp",
    )
    dq_state_batch(orders, spark.createDataFrame([], "c_custkey long"), d, 0)
    checks = incremental_dq(spark, d).collect()
    assert len(checks) == 6
    assert all((r.n_violations, r["pass"]) == (0, True) for r in checks)


def test_incremental_gapfill_equals_batch(spark, tmp_path):
    """Incremental gap fill from additive per-batch hourly aggregates
    must EXACTLY equal the batch query over the union — including the
    bounds-extension case: a LATE batch adds events hours BEFORE the
    earliest previously-seen hour, so assembly must materialize
    zero-filled rows in the newly-opened range that no per-batch series
    contained, and the LOCF carry must re-run over the widened grid.
    Includes cell-level summation (same hour across batches) and a
    replayed batch."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.events import (
        gapfill_from_hourly,
        gapfill_hourly_agg,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        gapfill_state_batch,
        incremental_gapfill,
    )

    def t(hour, minute=0):
        return datetime.datetime(2026, 3, 3, hour, minute)

    batches = [
        [("click", t(10, 5), 1.0), ("click", t(13, 10), 2.0)],   # gap 11-12
        [("click", t(10, 40), 4.0)],                              # same-hour merge
        [("click", t(7, 30), 8.0), ("view", t(9, 0), 1.5)],      # extends bounds back
    ]
    state = str(tmp_path / "state")
    schema = "event_type string, ts timestamp, value double"
    for bid, rows in enumerate(batches):
        gapfill_state_batch(spark.createDataFrame(rows, schema), state, bid)
    gapfill_state_batch(spark.createDataFrame(batches[1], schema), state, 1)  # replay

    got = incremental_gapfill(spark, state).collect()
    union = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = gapfill_from_hourly(gapfill_hourly_agg(union)).collect()
    assert got == want
    click = {r.hour_ts.hour: (r.n_events, r.v_cents_locf)
             for r in got if r.event_type == "click"}
    # widened grid: hours 7..13; 8 and 9 are zero-filled rows opened by
    # the LATE batch, carrying hour 7's total; hour 10 merged two batches
    assert sorted(click) == [7, 8, 9, 10, 11, 12, 13]
    assert click[7] == (1, 800)
    assert click[8] == (0, 800) and click[9] == (0, 800)
    assert click[10] == (2, 500)
    assert click[11] == (0, 500) and click[12] == (0, 500)
    assert click[13] == (1, 200)


def test_incremental_gapfill_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_gapfill,
    )

    df = incremental_gapfill(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["event_type", "hour_ts", "n_events", "v_cents_locf"]


def test_incremental_markov_equals_batch(spark, tmp_path):
    """Incremental Markov transitions via the carry chain must EXACTLY
    equal the batch matrix over the union of batches — including (1) a
    transition that SPANS a batch boundary (user 1's view at the end of
    batch 0 -> click at the start of batch 1), (2) a user who SKIPS a
    whole batch (user 2 appears in batches 0 and 2 only: their carry
    must survive batch 1 and still stitch the boundary pair), (3) an
    EMPTY batch in the chain, and (4) an at-least-once replay of a
    middle batch (the carry chain recomputes from its predecessor)."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.events import (
        markov_from_counts,
        markov_pair_counts,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_markov,
        markov_state_batch,
    )

    def t(minute):
        return datetime.datetime(2026, 3, 3, 10, minute)

    schema = "user_id long, event_id long, ts timestamp, event_type string"
    batches = [
        [(1, 1, t(0), "view"), (1, 2, t(1), "view"), (2, 3, t(0), "click")],
        [(1, 4, t(2), "click"), (1, 5, t(3), "purchase")],  # boundary: view->click
        [],                                                  # empty batch
        [(2, 6, t(9), "purchase")],                          # user 2 skipped 2 batches
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        markov_state_batch(spark.createDataFrame(rows, schema), state, bid)
    markov_state_batch(spark.createDataFrame(batches[1], schema), state, 1)  # replay

    got = incremental_markov(spark, state).collect()
    union = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = markov_from_counts(markov_pair_counts(union)).collect()
    assert got == want
    cells = {(r.from_type, r.to_type): r.n for r in got}
    # hand-pinned: user 1 view->view, view->click (boundary), click->purchase;
    # user 2 click->purchase across THREE batch boundaries
    assert cells == {
        ("view", "view"): 1,
        ("view", "click"): 1,
        ("click", "purchase"): 2,
    }


def test_incremental_markov_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_markov,
    )

    df = incremental_markov(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["from_type", "to_type", "n", "p_bp"]


def test_attach_markov_stream_end_to_end(spark, tmp_path):
    """The attach wrapper drives the carry chain with Structured
    Streaming's REAL batch ids (sequential per query — the prev = bid-1
    contract): three file-triggered micro-batches with a
    boundary-spanning transition must assemble to exactly the batch
    matrix."""
    import datetime
    import json
    import os
    import time

    from pinterest_data_pipeline218_spark.plans.events import (
        markov_from_counts,
        markov_pair_counts,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_markov_stream,
        incremental_markov,
    )

    def t(minute):
        return datetime.datetime(2026, 3, 3, 10, minute)

    batches = [
        [(1, 1, t(0), "view"), (2, 2, t(0), "click")],
        [(1, 3, t(1), "click")],                      # boundary view->click
        [(2, 4, t(2), "purchase"), (1, 5, t(3), "purchase")],
    ]
    src = tmp_path / "blobs"
    src.mkdir()
    base = time.time() - 100
    for i, rows in enumerate(batches):
        path = src / f"{i:03d}.jsonl"
        with open(path, "w") as f:
            for u, eid, ts, ty in rows:
                f.write(json.dumps({
                    "user_id": u, "event_id": eid,
                    "ts": ts.strftime("%Y-%m-%d %H:%M:%S"), "event_type": ty,
                }) + "\n")
        os.utime(path, (base + 10 * i, base + 10 * i))

    stream = (
        spark.readStream.format("json")
        .schema("user_id long, event_id long, ts string, event_type string")
        .option("maxFilesPerTrigger", "1").load(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    state = str(tmp_path / "state")
    q = attach_markov_stream(stream, state, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    got = incremental_markov(spark, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    want = markov_from_counts(markov_pair_counts(union)).collect()
    assert got == want
    # hand-pinned — every transition here SPANS a batch boundary:
    # user 1 view->click (0->1) and click->purchase (1->2); user 2
    # click->purchase (0->2, carried through batch 1)
    cells = {(r.from_type, r.to_type): r.n for r in got}
    assert cells == {("view", "click"): 1, ("click", "purchase"): 2}


def test_attach_drift_stream_end_to_end(spark, tmp_path):
    """attach_drift_stream drives drift_state_batch with Structured
    Streaming's real batch ids: file-triggered micro-batches accumulate
    drift cells, and the monitor read afterward equals the batch
    finisher over (baseline, union) — with the planted shift flagged."""
    import json
    import os
    import time

    from pinterest_data_pipeline218_spark.operators.dataquality import (
        drift_cells,
        drift_report,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_drift_stream,
        incremental_events_drift,
    )

    baseline = spark.createDataFrame(
        [("click", 10.0)] * 50 + [("click", 30.0)] * 50,
        "event_type string, value double",
    )
    batches = [
        [("click", 10.0)] * 40 + [("click", 30.0)] * 5,
        [("click", 10.0)] * 40 + [("click", 30.0)] * 5,
    ]
    src = tmp_path / "blobs"
    src.mkdir()
    base = time.time() - 100
    for i, rows in enumerate(batches):
        path = src / f"{i:03d}.jsonl"
        with open(path, "w") as f:
            for ty, v in rows:
                f.write(json.dumps({"event_type": ty, "value": v}) + "\n")
        os.utime(path, (base + 10 * i, base + 10 * i))
    stream = (
        spark.readStream.format("json")
        .schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state = str(tmp_path / "state")
    q = attach_drift_stream(stream, state, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    got = incremental_events_drift(spark, baseline, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], "event_type string, value double"
    )
    joint = (
        drift_cells(baseline, "n_first")
        .join(drift_cells(union, "n_second"), ["event_type", "bin"], "full_outer")
        .selectExpr(
            "event_type", "bin",
            "coalesce(n_first, 0) AS n_first",
            "coalesce(n_second, 0) AS n_second",
        )
    )
    assert got == drift_report(joint).collect()
    by = {r.bin: r for r in got}
    assert by[0].shifted is True  # 50% -> 89% share
    assert (by[0].n_second, by[1].n_second) == (80, 10)


def test_composed_incremental_dashboards_share_one_stream(spark, tmp_path):
    """The COMPOSED streaming-state regression (VERDICT r6 #8 / r7 #10):
    all eight incremental_* assemblies run over the SAME multi-batch
    stream — three time-contiguous slices of the real sf0.001 events
    table (documents for the quality dashboard) driven through every
    *_state_batch with shared batch ids, plus an at-least-once REPLAY of
    the middle batch — and each reader must equal its own single-batch
    assembly over the union. That pins the shared foreachBatch/batch_id
    machinery (overwrite-partition idempotence, partition discovery,
    merge associativity) across all four state shapes at once: additive
    matrices (hist/cm/gapfill), min-k sets (kmv), distinct sets
    (retention/funnel/quality), and the Markov carry chain. r15
    (VERDICT r14 #6): the with_srm_metrics siren rides the SAME batches
    beside the state assemblies — per-batch arm counts must be additive
    to the union's, the healthy real slices must not flag, and the
    REPLAYED middle batch must observe bit-identical metrics to its
    first delivery (the at-least-once verdict is idempotent)."""
    from pyspark.sql import Observation
    from pyspark.sql import Window as W_

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        cm_state_batch,
        funnel_state_batch,
        gapfill_state_batch,
        hist_state_batch,
        incremental_cm_top_users,
        incremental_funnel,
        incremental_gapfill,
        incremental_hist_quantiles,
        incremental_kmv,
        incremental_markov,
        incremental_quality_report,
        incremental_retention_triangle,
        kmv_state_batch,
        markov_state_batch,
        quality_state_batch,
        retention_state_batch,
        with_srm_metrics,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    n = ev.count()
    sliced = ev.withColumn(
        "rn", F.row_number().over(W_.orderBy("ts", "event_id"))
    ).persist()
    slices = [
        sliced.filter(
            (F.col("rn") > i * n // 3) & (F.col("rn") <= (i + 1) * n // 3)
        ).drop("rn")
        for i in range(3)
    ]
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    doc_slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    multi = str(tmp_path / "multi")
    union = str(tmp_path / "union")
    event_fns = (
        retention_state_batch,
        funnel_state_batch,
        kmv_state_batch,
        hist_state_batch,
        cm_state_batch,
        gapfill_state_batch,
        markov_state_batch,
    )
    def observe_srm(df, name):
        obs = Observation(name)
        with_srm_metrics(df, obs).write.mode("overwrite").format(
            "noop"
        ).save()
        return obs.get

    srm_batches = []
    for bid, b in enumerate(slices):
        for fn in event_fns:
            fn(b, multi, bid)
        quality_state_batch(doc_slices[bid], bench, multi, bid)
        srm_batches.append(observe_srm(b, f"srm_b{bid}"))
    # at-least-once: the middle batch is delivered twice with the same id
    for fn in event_fns:
        fn(slices[1], multi, 1)
    quality_state_batch(doc_slices[1], bench, multi, 1)
    srm_replay = observe_srm(slices[1], "srm_b1_replay")
    # the union processed as ONE batch is the per-assembly-proven baseline
    for fn in event_fns:
        fn(ev, union, 0)
    quality_state_batch(docs, bench, union, 0)
    srm_union = observe_srm(ev, "srm_union")

    # the siren beside the assemblies: replay idempotence (second delivery
    # of batch 1 observes bit-identical metrics), healthy slices stay
    # unflagged, and the raw arm counters are additive to the union's —
    # the re-aggregation contract a downstream exact audit relies on
    assert srm_replay == srm_batches[1]
    for m in srm_batches:
        assert m["srm_flag_ab_50_50"] is False
        assert m["srm_flag_ramp_10_90"] is False
    for key in ("n_rows", "n_assigned", "nt_ab_50_50", "nt_ramp_10_90"):
        assert sum(m[key] for m in srm_batches) == srm_union[key]

    readers = (
        incremental_retention_triangle,
        incremental_funnel,
        incremental_kmv,
        incremental_hist_quantiles,
        incremental_cm_top_users,
        incremental_gapfill,
        incremental_markov,
        incremental_quality_report,
    )
    for rd in readers:
        got = sorted(map(tuple, rd(spark, multi).collect()))
        want = sorted(map(tuple, rd(spark, union).collect()))
        assert got, f"{rd.__name__}: empty result"
        assert got == want, f"{rd.__name__}: multi-batch != union"
    sliced.unpersist()


def test_stream_asof_join_equals_batch_with_late_data(spark, tmp_path):
    """stream_asof_join (VERDICT r9 #8) must equal the batch
    asof_join(backward, tolerance) on closed windows: per purchase, the
    NEAREST prior click within 1 hour, NULL when none. Three cases drive
    the election: multiple in-tolerance candidates (nearest wins), no
    candidate (NULL survives the left-outer + max), and a LATE click —
    arriving in a later micro-batch but inside the watermark — that must
    still win its purchase's election (the candidates-then-elect design's
    whole point: nothing finalizes until the watermark closes the row's
    window). A final heartbeat batch advances the watermark so every real
    window closes."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.asof import asof_join
    from pinterest_data_pipeline218_spark.streaming.pipeline import stream_asof_join

    schema = StructType(
        [StructField("id", LongType()), StructField("user", LongType()),
         StructField("ts", StringType())]
    )
    for side in ("click", "purchase"):
        (tmp_path / side).mkdir()

    def add(side, name, rows):
        with open(tmp_path / side / name, "w") as f:
            for i, u, ts in rows:
                f.write(json.dumps({"id": i, "user": u, "ts": ts}) + "\n")

    clicks_b1 = [
        (1, 7, "2024-01-01 10:00:00"),
        (2, 7, "2024-01-01 10:20:00"),   # nearer to purchase 10 -> must win
        (3, 8, "2024-01-01 08:00:00"),   # out of tolerance for purchase 12
    ]
    purchases_b1 = [
        (10, 7, "2024-01-01 10:30:00"),  # candidates 1,2 -> elects 2
        (12, 8, "2024-01-01 10:30:00"),  # none in window -> NULL
        (13, 9, "2024-01-01 10:40:00"),  # its click arrives LATE (batch 2)
    ]
    late_click = [(4, 9, "2024-01-01 10:25:00")]  # late but inside watermark
    heartbeat_ts = "2024-01-01 20:00:00"

    add("click", "a.jsonl", clicks_b1)
    add("purchase", "a.jsonl", purchases_b1)

    def src(side):
        return (
            spark.readStream.format("json").schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(str(tmp_path / side))
            .select(
                F.col("id").alias(f"{side}_id"),
                F.col("user").alias("user_id") if side == "purchase" else F.col("user").alias("c_user"),
                F.to_timestamp("ts").alias("p_ts" if side == "purchase" else "c_ts"),
            )
        )

    purchases = src("purchase").select(
        "purchase_id", F.col("user_id"), "p_ts"
    )
    clicks = src("click").select(F.col("c_user").alias("user_id"), "c_ts")
    out = stream_asof_join(
        purchases.withColumnRenamed("user_id", "uid"),
        clicks.withColumnRenamed("user_id", "uid"),
        key="uid",
        lts="p_ts",
        rts="c_ts",
        tolerance="1 hour",
        watermark="8 hours",
    )
    q = (
        out.writeStream.format("memory").queryName("asof_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        add("click", "b.jsonl", late_click)  # the late arrival
        q.processAllAvailable()
        # heartbeat on both sides pushes the watermark past every window...
        add("click", "z.jsonl", [(99, 99, heartbeat_ts)])
        add("purchase", "z.jsonl", [(99, 99, heartbeat_ts)])
        q.processAllAvailable()
        # ...and one more (empty) batch finalizes state deterministically
        add("purchase", "zz.jsonl", [])
        q.processAllAvailable()
        got = {
            (r.purchase_id, r.asof_ts)
            for r in spark.sql("SELECT * FROM asof_out").collect()
            if r.purchase_id != 99
        }
    finally:
        q.stop()

    # batch truth: asof_join with the same tolerance over ALL the rows
    all_p = spark.createDataFrame(
        [(i, u, ts) for i, u, ts in purchases_b1],
        "purchase_id long, uid long, ts string",
    ).select("purchase_id", "uid", F.to_timestamp("ts").alias("ts"))
    all_c = spark.createDataFrame(
        [(None, u, ts) for _, u, ts in clicks_b1 + late_click],
        "x long, uid long, ts string",
    ).select("uid", F.to_timestamp("ts").alias("ts"))
    batch = asof_join(
        all_p, all_c, key="uid", ts="ts",
        right_ts_as="asof_ts", tolerance_us=3_600_000_000,
    )
    want = {(r.purchase_id, r.asof_ts) for r in batch.collect()}
    assert got == want, (sorted(got), sorted(want))
    by_id = dict(got)
    assert by_id[10].minute == 20   # nearest candidate won
    assert by_id[12] is None        # out-of-tolerance stayed NULL
    assert by_id[13] is not None and by_id[13].minute == 25  # late click landed


def test_stream_asof_join_forward_direction(spark, tmp_path):
    """direction='forward' (r10): per left row the SMALLEST right ts >= its
    own within tolerance — the 'next event after' rendering (e.g. first
    error after each deploy). Planted: two later candidates (nearest
    wins), an earlier-only candidate (must NOT match backward-style), and
    a no-candidate row; equals the batch asof_join(direction='forward')."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.asof import asof_join
    from pinterest_data_pipeline218_spark.streaming.pipeline import stream_asof_join

    schema = StructType(
        [StructField("id", LongType()), StructField("user", LongType()),
         StructField("ts", StringType())]
    )
    for side in ("l", "r"):
        (tmp_path / side).mkdir()

    def add(side, name, rows):
        with open(tmp_path / side / name, "w") as f:
            for i, u, ts in rows:
                f.write(json.dumps({"id": i, "user": u, "ts": ts}) + "\n")

    lrows = [
        (1, 7, "2024-01-01 10:00:00"),  # candidates at 10:05 and 10:40 -> 10:05
        (2, 8, "2024-01-01 10:00:00"),  # only an EARLIER right -> NULL
        (3, 9, "2024-01-01 10:00:00"),  # nothing -> NULL
    ]
    rrows = [
        (0, 7, "2024-01-01 10:05:00"),
        (0, 7, "2024-01-01 10:40:00"),
        (0, 8, "2024-01-01 09:50:00"),
    ]
    add("l", "a.jsonl", lrows)
    add("r", "a.jsonl", rrows)
    add("l", "z.jsonl", [(99, 99, "2024-01-01 20:00:00")])  # heartbeat
    add("r", "z.jsonl", [(99, 99, "2024-01-01 20:00:00")])

    def src(side, idc, tsc):
        return (
            spark.readStream.format("json").schema(schema)
            .load(str(tmp_path / side))
            .select(
                F.col("id").alias(idc),
                F.col("user").alias("uid"),
                F.to_timestamp("ts").alias(tsc),
            )
        )

    out = stream_asof_join(
        src("l", "left_id", "l_ts"),
        src("r", "right_id", "r_ts").select("uid", "r_ts"),
        key="uid",
        lts="l_ts",
        rts="r_ts",
        tolerance="30 minutes",
        direction="forward",
        watermark="8 hours",
    )
    q = (
        out.writeStream.format("memory").queryName("asof_fwd")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        add("l", "zz.jsonl", [])
        q.processAllAvailable()
        got = {
            (r.left_id, r.asof_ts)
            for r in spark.sql("SELECT * FROM asof_fwd").collect()
            if r.left_id != 99
        }
    finally:
        q.stop()

    batch_l = spark.createDataFrame(
        lrows, "left_id long, uid long, ts string"
    ).select("left_id", "uid", F.to_timestamp("ts").alias("ts"))
    batch_r = spark.createDataFrame(
        [(u, ts) for _, u, ts in rrows], "uid long, ts string"
    ).select("uid", F.to_timestamp("ts").alias("ts"))
    want = {
        (r.left_id, r.asof_ts)
        for r in asof_join(
            batch_l, batch_r, key="uid", ts="ts",
            right_ts_as="asof_ts", direction="forward",
            tolerance_us=1_800_000_000,
        ).collect()
    }
    assert got == want, (sorted(got), sorted(want))
    by_id = dict(got)
    assert by_id[1].minute == 5   # nearest LATER candidate, not 10:40
    assert by_id[2] is None       # earlier-only right must not match
    assert by_id[3] is None


def test_stream_asof_join_identifier_hygiene(spark):
    """ADVICE r10: (a) inputs already carrying the reserved working
    columns (__rkey/__rts/__w or the output column) are rejected EARLY
    with a clear error, not silently misbound; (b) key/ts column names
    that need quoting (dots) bind correctly because the interpolated
    identifiers are backquoted. Batch inputs — withWatermark/window are
    plan-identical; the streaming semantics are pinned by the
    equals-batch tests above."""
    import pytest as _pytest

    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        stream_asof_join,
    )

    left = spark.createDataFrame(
        [(1, 7, "2024-01-01 10:00:00")], "id long, `k.ey` long, ts string"
    ).select("id", "`k.ey`", F.to_timestamp("ts").alias("t.s"))
    right = spark.createDataFrame(
        [(7, "2024-01-01 09:55:00")], "`k.ey` long, ts string"
    ).select("`k.ey`", F.to_timestamp("ts").alias("rts"))

    # (a) reserved-column clash raises before any plan is built
    with _pytest.raises(ValueError, match="__rts"):
        stream_asof_join(
            left.withColumn("__rts", F.lit(1)), right,
            key="k.ey", lts="t.s", rts="rts",
        )
    with _pytest.raises(ValueError, match="asof_ts"):
        stream_asof_join(
            left.withColumn("asof_ts", F.lit(1)), right,
            key="k.ey", lts="t.s", rts="rts",
        )

    # (b) dotted key/ts names resolve (pre-fix: AnalysisException on the
    # unquoted `k.ey` reference inside F.expr)
    got = stream_asof_join(
        left, right, key="k.ey", lts="t.s", rts="rts",
        tolerance="30 minutes",
    ).collect()
    assert len(got) == 1 and got[0].asof_ts.minute == 55, got


def test_stream_stream_left_outer_join_emits_null_side_after_watermark(spark, tmp_path):
    """Left-outer watermarked stream-stream join — the OTHER half of the
    symmetric-hash-join contract the inner-join test pins: a purchase with
    no click in its preceding hour must eventually emit WITH a null click
    side, but only once the watermark has passed the end of its join
    window (before that the engine must hold it back — the match could
    still arrive). Drives two micro-batches: batch 1 carries the real
    data (null results CANNOT appear yet — watermark still behind), a
    late heartbeat row then advances the watermark, and batch 2 releases
    the null-padded row. This is exactly the state-cleanup semantics that
    keeps the join's state store bounded at 100 TB stream rates."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("id", LongType()), StructField("user", LongType()),
         StructField("ts", StringType())]
    )
    for side in ("click", "purchase"):
        (tmp_path / side).mkdir()

    def add(side, name, rows):
        with open(tmp_path / side / name, "w") as f:
            for i, u, ts in rows:
                f.write(json.dumps({"id": i, "user": u, "ts": ts}) + "\n")

    def src(side, uc, tc):
        return (
            spark.readStream.format("json").schema(schema)
            .load(str(tmp_path / side))
            .select(
                F.col("id").alias(f"{side}_id"),
                F.col("user").alias(uc),
                F.to_timestamp("ts").alias(tc),
            )
        )

    # batch-1 data: user 7's purchase has a click in window; user 8's does not
    add("click", "a.jsonl", [(1, 7, "2024-01-01 10:00:00")])
    add("purchase", "a.jsonl", [
        (10, 7, "2024-01-01 10:30:00"),   # matches click 1
        (12, 8, "2024-01-01 10:30:00"),   # no click -> null side, later
    ])

    clicks = src("click", "c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    purchases = src("purchase", "p_user", "p_ts").withWatermark("p_ts", "10 minutes")
    joined = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "leftOuter",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory").queryName("ssj_louter")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got1 = {(r.purchase_id, r.click_id)
                for r in spark.sql("SELECT * FROM ssj_louter").collect()}
        assert (10, 1) in got1  # the inner match flows immediately
        assert (12, None) not in got1  # held back: watermark not past its window

        # late heartbeat advances the event-time watermark far past 10:30+1h
        add("click", "b.jsonl", [(99, 9, "2024-01-01 15:00:00")])
        add("purchase", "b.jsonl", [(99, 9, "2024-01-01 15:00:00")])
        q.processAllAvailable()
        # watermark updates take effect at the NEXT batch boundary; one more
        # (empty-input) batch releases the timed-out row deterministically
        add("purchase", "c.jsonl", [])
        q.processAllAvailable()
        got2 = {(r.purchase_id, r.click_id)
                for r in spark.sql("SELECT * FROM ssj_louter").collect()}
        assert (12, None) in got2  # null-padded row released by the watermark
    finally:
        q.stop()


def test_native_session_window_on_stream_matches_batch(spark, tmp_path):
    """F.session_window driven by an ACTUAL stream (watermark + append
    mode): once the input drains and a late heartbeat advances the
    watermark past every session's close, the emitted sessions must equal
    the batch session_window aggregation over the same rows. This is the
    engine-native half of the sessionization story (the custom
    applyInPandasWithState half is pinned in test_stateful_streaming)."""
    import json as _json
    import os
    import time

    rows = [
        # user 7: two sessions (gap > 30 min between id 2 and 3)
        (1, 7, "2024-01-01 10:00:00"),
        (2, 7, "2024-01-01 10:10:00"),
        (3, 7, "2024-01-01 11:30:00"),
        # user 8: one session
        (4, 8, "2024-01-01 09:00:00"),
    ]
    heartbeat = (99, 9, "2024-01-01 18:00:00")
    src = tmp_path / "sess_src"
    src.mkdir()
    base = time.time() - 100
    for i, batch in enumerate([rows, [heartbeat]]):
        p = src / f"{i:03d}.jsonl"
        with open(p, "w") as f:
            for ident, u, ts in batch:
                f.write(_json.dumps({"id": ident, "user": u, "ts": ts}) + "\n")
        os.utime(p, (base + 10 * i, base + 10 * i))

    schema = "id long, user long, ts string"
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
    )
    agg = stream.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    q = (
        agg.select(
            "user",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n_events",
        )
        .writeStream.format("memory").queryName("native_sess")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user, str(r.s), str(r.e), r.n_events)
        for r in spark.sql("SELECT * FROM native_sess").collect()
    }

    batch_df = spark.createDataFrame(
        [r for r in rows] + [heartbeat], "id long, user long, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s"))
    want = {
        (r.user, str(r.s), str(r.e), r.n_events)
        for r in batch_df.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n_events",
        )
        .collect()
    }
    # the heartbeat's own session may be unemitted (watermark never passes
    # it) — compare on the real users only
    got = {t for t in got if t[0] != 9}
    want = {t for t in want if t[0] != 9}
    assert len(want) == 3  # two sessions for user 7, one for user 8
    assert got == want


def test_incremental_journey_equals_batch(spark, tmp_path):
    """Append-only ordered-string carry: the incremental journey must
    EXACTLY equal the batch journey query over the union of batches —
    including a user spanning batches, a user skipping a whole batch, an
    empty batch, and an at-least-once replay of a middle batch (carry(b)
    is recomputed from carry(b-1), so the chain heals)."""
    import datetime

    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.plans.sequences import (
        journey_finisher,
        journey_strings,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_journey,
        journey_state_batch,
    )

    def t(minute):
        return datetime.datetime(2026, 3, 3, 10, minute)

    schema = "user_id long, event_id long, ts timestamp, event_type string"
    batches = [
        [(1, 1, t(0), "signup"), (1, 2, t(1), "click"), (2, 3, t(0), "view")],
        [(1, 4, t(2), "view"), (1, 5, t(3), "purchase")],  # c[ve]*p spans batches
        [],                                                 # empty batch
        [(2, 6, t(9), "click"), (2, 7, t(10), "purchase")], # user 2 skipped one
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        journey_state_batch(spark.createDataFrame(rows, schema), state, bid)
    journey_state_batch(spark.createDataFrame(batches[1], schema), state, 1)

    got = incremental_journey(spark, state).collect()
    union = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = journey_finisher(
        journey_strings(
            union.select(
                "user_id", "ts", "event_id",
                SF_.substring("event_type", 1, 1).alias("ch"),
            )
        )
    ).collect()
    assert got == want
    by_user = {r.user_id: r for r in got}
    # hand-pinned: user 1 = s c v p (assisted convert, no adjacent cp);
    # user 2 = v c p (quick convert)
    assert by_user[1].starts_signup == 1
    assert by_user[1].has_assisted_convert == 1
    assert by_user[1].n_quick_convert == 0
    assert by_user[2].n_quick_convert == 1
    assert by_user[2].starts_signup == 0


def test_incremental_journey_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_journey,
    )

    df = incremental_journey(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == [
        "user_id", "n_events", "journey_len", "journey_md5",
        "n_quick_convert", "starts_signup", "has_assisted_convert",
    ]


def test_attach_journey_stream_end_to_end(spark, tmp_path):
    """The journey attach wrapper under Structured Streaming's REAL
    sequential batch ids: three file-triggered micro-batches whose
    per-user journeys all SPAN batch boundaries must assemble to exactly
    the batch journey query over the union."""
    import datetime
    import json
    import os
    import time

    from pinterest_data_pipeline218_spark.plans.sequences import (
        journey_finisher,
        journey_strings,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_journey_stream,
        incremental_journey,
    )

    def t(minute):
        return datetime.datetime(2026, 3, 3, 10, minute)

    batches = [
        [(1, 1, t(0), "signup"), (2, 2, t(0), "view")],
        [(1, 3, t(1), "click")],
        [(2, 4, t(2), "click"), (1, 5, t(3), "purchase"), (2, 6, t(4), "purchase")],
    ]
    src = tmp_path / "blobs"
    src.mkdir()
    base = time.time() - 100
    for i, rows in enumerate(batches):
        path = src / f"{i:03d}.jsonl"
        with open(path, "w") as f:
            for u, eid, ts, ty in rows:
                f.write(json.dumps({
                    "user_id": u, "event_id": eid,
                    "ts": ts.strftime("%Y-%m-%d %H:%M:%S"), "event_type": ty,
                }) + "\n")
        os.utime(path, (base + 10 * i, base + 10 * i))

    stream = (
        spark.readStream.format("json")
        .schema("user_id long, event_id long, ts string, event_type string")
        .option("maxFilesPerTrigger", "1").load(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    state = str(tmp_path / "state")
    q = attach_journey_stream(stream, state, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    got = incremental_journey(spark, state).collect()
    union = spark.createDataFrame(
        [r for rows in batches for r in rows],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    want = journey_finisher(
        journey_strings(
            union.select(
                "user_id", "ts", "event_id",
                F.substring("event_type", 1, 1).alias("ch"),
            )
        )
    ).collect()
    assert got == want
    by_user = {r.user_id: r for r in got}
    # user 1 = s c p (signup start, adjacent cp); user 2 = v c p
    assert by_user[1].starts_signup == 1 and by_user[1].n_quick_convert == 1
    assert by_user[2].n_quick_convert == 1


def test_incremental_rolling7d_equals_batch(spark, tmp_path):
    """Incremental trailing-7-day distinct actives must EXACTLY equal the
    batch combinator over the union of batches — including a user active
    in several batches on the SAME day (distinct must not double-count),
    activity landing inside an earlier batch's trailing window, an empty
    batch, and a replayed batch (overwrite-partition idempotence)."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.events import (
        rolling_7d_from_activity,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_rolling_7d,
        rolling7d_state_batch,
    )

    def d(day, hour=9):
        return datetime.datetime(2026, 3, day, hour)

    schema = "user_id long, ts timestamp"
    batches = [
        [(1, d(1)), (2, d(1)), (1, d(3))],
        [(1, d(1, 15)), (3, d(8))],   # same-day repeat of user 1 + day 8
        [],
        [(2, d(5)), (4, d(12))],      # lands inside day 8's trailing window
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        rolling7d_state_batch(spark.createDataFrame(rows, schema), state, bid)
    rolling7d_state_batch(spark.createDataFrame(batches[1], schema), state, 1)

    got = incremental_rolling_7d(spark, state).collect()
    union = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = rolling_7d_from_activity(
        union.select(F.to_date("ts").alias("day"), "user_id").distinct()
    ).collect()
    assert got == want
    by_day = {r.day: r.users_7d for r in got}
    # hand-pinned: day 8 window [2..8] sees users 1 (day 3), 2 (day 5), 3
    # (day 8); day 12 window [6..12] sees 3 and 4
    assert by_day["2026-03-08"] == 3
    assert by_day["2026-03-12"] == 2
    assert by_day["2026-03-01"] == 2


def test_incremental_rolling7d_before_first_batch_is_empty(spark, tmp_path):
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_rolling_7d,
    )

    df = incremental_rolling_7d(spark, str(tmp_path / "never"))
    assert df.collect() == []
    assert df.columns == ["day", "users_7d"]


def test_incremental_cascade_equals_batch(spark, tmp_path):
    """The curation-funnel streaming twin (r12): per-batch cascade cells
    merged by summation must equal corpus_filter_cascade's kernel over
    the union of batches EXACTLY — cells are additive because the
    decision is per-document scan-local. Covers a (source, decision)
    cell fed by BOTH batches (summation), cells unique to one batch
    (no zero-fill needed), and a replayed batch (overwrite-partition
    idempotence)."""
    from pinterest_data_pipeline218_spark.operators.corpus import cascade_cells
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        cascade_state_batch,
        incremental_filter_cascade,
    )

    sch = "source string, lang string, text string"
    keep_text = "the " + " ".join(f"aaaaaaaaaa{i}" for i in range(40))  # 41 toks
    short_text = "just three tokens"
    rep_text = " ".join(["dup"] * 50)
    batches = [
        # srcA contributes keep + too_short; srcB non_english
        [("srcA", "en", keep_text), ("srcA", "en", short_text),
         ("srcB", "fr", keep_text)],
        # srcA keep AGAIN (summation in the same cell) + repetitive
        [("srcA", "en", keep_text), ("srcA", "en", rep_text),
         ("srcB", "fr", short_text)],
    ]
    state = str(tmp_path / "state")
    for bid, rows in enumerate(batches):
        cascade_state_batch(spark.createDataFrame(rows, sch), state, bid)
    cascade_state_batch(spark.createDataFrame(batches[1], sch), state, 1)  # replay

    got = incremental_filter_cascade(spark, state).collect()
    union = spark.createDataFrame([r for rows in batches for r in rows], sch)
    want = cascade_cells(union).orderBy("source", "decision").collect()
    assert got == want
    cells = {(r.source, r.decision): r.n_docs for r in got}
    assert cells[("srcA", "keep")] == 2  # summed across batches, not replayed
    assert cells[("srcA", "too_short")] == 1
    assert cells[("srcA", "repetitive")] == 1
    # the short FRENCH doc lands too_short, not non_english — the length
    # gate precedes the language gate (first-failing order, observable
    # through the twin as well)
    assert cells[("srcB", "non_english")] == 1
    assert cells[("srcB", "too_short")] == 1

    empty = incremental_filter_cascade(spark, str(tmp_path / "never"))
    assert empty.collect() == []
    assert empty.columns == ["source", "decision", "n_docs", "tot_tokens"]


def test_attach_cascade_stream_end_to_end(spark, tmp_path):
    """attach_cascade_stream drives cascade_state_batch with Structured
    Streaming's real batch ids: file-triggered document micro-batches
    accumulate funnel cells, and the read-side equals the batch kernel
    over the union."""
    import json
    import os
    import time

    from pinterest_data_pipeline218_spark.operators.corpus import cascade_cells
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_cascade_stream,
        incremental_filter_cascade,
    )

    sch = "source string, lang string, text string"
    keep_text = "the " + " ".join(f"bbbbbbbbbb{i}" for i in range(40))
    batches = [
        [("srcA", "en", keep_text), ("srcB", "de", keep_text)],
        [("srcA", "en", "too short"), ("srcA", "en", keep_text)],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    base = time.time() - 100
    for i, rows in enumerate(batches):
        path = src / f"{i:03d}.jsonl"
        with open(path, "w") as f:
            for s, lg, tx in rows:
                f.write(json.dumps({"source": s, "lang": lg, "text": tx}) + "\n")
        os.utime(path, (base + 10 * i, base + 10 * i))
    stream = (
        spark.readStream.format("json")
        .schema(sch)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state = str(tmp_path / "state")
    q = attach_cascade_stream(stream, state, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    got = incremental_filter_cascade(spark, state).collect()
    union = spark.createDataFrame([r for rows in batches for r in rows], sch)
    want = cascade_cells(union).orderBy("source", "decision").collect()
    assert got == want
    cells = {(r.source, r.decision): r.n_docs for r in got}
    assert cells[("srcA", "keep")] == 2 and cells[("srcA", "too_short")] == 1
    assert cells[("srcB", "non_english")] == 1


def test_incremental_source_cap_equals_batch(spark, tmp_path):
    """The per-source cap's streaming twin (r12): per-batch top-K
    candidates re-ranked read-side must equal corpus_source_cap's kernel
    over the union of batches EXACTLY. The merge is lossless by the
    subset argument (batches partition the corpus, so every global
    keeper is a top-K row of its own batch); the fixture PLANTS the
    interesting case — a batch-0 keeper evicted by better batch-1 docs —
    plus a replayed batch and the doc_id tiebreak on equal scores."""
    from pinterest_data_pipeline218_spark.operators.corpus import (
        SOURCE_CAP_K,
        _scored_docs,
        source_cap_rank,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_source_cap,
        source_cap_state_batch,
    )

    sch = "doc_id long, source string, lang string, text string"

    def doc(i, quality_words):
        # more long words -> higher avg token len -> higher quality score
        return (i, "srcX", "en", " ".join(["wwwwwwwwwwww"] * quality_words
                                          + ["a"] * (30 - quality_words)))

    # batch 0: SOURCE_CAP_K + 2 docs with middling quality (two get cut
    # even within their own batch); batch 1: SOURCE_CAP_K better docs that
    # evict most of batch 0's keepers, plus two docs tied in score with
    # batch-0 docs (tiebreak by doc_id)
    b0 = [doc(i, 10) for i in range(SOURCE_CAP_K + 2)]
    b1 = [doc(100 + i, 20) for i in range(SOURCE_CAP_K)] + [doc(200, 10)]
    state = str(tmp_path / "state")
    for bid, rows in enumerate((b0, b1)):
        source_cap_state_batch(spark.createDataFrame(rows, sch), state, bid)
    source_cap_state_batch(spark.createDataFrame(b1, sch), state, 1)  # replay

    got = incremental_source_cap(spark, state).collect()
    union = spark.createDataFrame(b0 + b1, sch)
    want = (
        source_cap_rank(_scored_docs(union)).orderBy("source", "q_rank").collect()
    )
    assert got == want
    assert len(got) == SOURCE_CAP_K
    kept = [r.doc_id for r in got]
    # the better batch-1 docs occupy the top ranks; evicted batch-0
    # keepers prove the read-side re-rank (not a per-batch union) decides
    assert set(range(100, 100 + SOURCE_CAP_K)) <= set(kept) or len(
        [d for d in kept if d >= 100]
    ) >= SOURCE_CAP_K - 2

    empty = incremental_source_cap(spark, str(tmp_path / "never"))
    assert empty.collect() == []
    assert empty.columns == ["doc_id", "source", "q_ppm", "q_rank"]


def test_knn_increment_equals_batch(spark, tmp_path):
    """Auto-labeling arriving vectors against a FROZEN labeled base
    (r12, the stream-static contract): per-micro-batch knn_label_increment
    must equal the shared knn_vote kernel over the union of batches — a
    query's label depends only on the base, so batch boundaries cannot
    matter — and the planted geometry must come out: vectors near the
    label-0 cluster get 0, near label-1 get 1, a straddling vector and a
    sparse-neighborhood vector reproduce exactly across the two paths
    (the vote is over the top-k SET, not the single nearest)."""
    import json

    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    from pinterest_data_pipeline218_spark.operators.similarity import (
        KNN_K,
        knn_label_increment,
    )

    dim = 64

    def vec(axis, mag=1.0, eps=0.0):
        v = [0.0] * dim
        v[axis] = mag
        if eps:
            v[(axis + 1) % dim] = eps
        return v

    # base: KNN_K vectors on axis 0 (label 0), KNN_K on axis 1 (label 1),
    # and one stray on axis 2 (label 2)
    base_rows = (
        [(i, vec(0, 1.0, 0.01 * i), 0) for i in range(KNN_K)]
        + [(10 + i, vec(1, 1.0, 0.01 * i), 1) for i in range(KNN_K)]
        + [(20, vec(2), 2)]
    )
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<float>, label int"
    )
    new_rows = [
        (100, vec(0, 2.0)),       # label 0 cluster
        (101, vec(1, 0.5)),       # label 1 cluster
        (102, vec(0, 1.0, 1.0)),  # between axis0 and axis1: split vote
        (103, vec(2, 3.0)),       # nearest single base is label 2, but
                                  # k=5 fills with others; pins top-k>1
    ]
    src = tmp_path / "vecs"
    src.mkdir()
    for i in range(2):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for vid, v in new_rows[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"vec_id": vid, "embedding": v}) + "\n")
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    out = str(tmp_path / "labels")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _i: knn_label_increment(b, base)
            .write.mode("append")
            .parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r.vec_id: (r.pred_label, r.votes)
        for r in spark.read.parquet(out).collect()
    }
    union = spark.createDataFrame(new_rows, "vec_id long, embedding array<float>")
    want = {
        r.vec_id: (r.pred_label, r.votes)
        for r in knn_label_increment(union, base).collect()
    }
    assert got == want
    assert len(got) == len(new_rows)
    assert got[100][0] == 0 and got[101][0] == 1
    # the axis-2 query's top-k is 1 label-2 neighbor + 4 near-orthogonal
    # others; cosine 1.0 beats ~0.0x, but votes count MEMBERS: the
    # majority of the k-set decides, so this pins that the vote is over
    # the top-k SET (not the single nearest)
    assert got[103][1] >= 1


def test_incremental_ivf_staleness_equals_batch(spark, tmp_path):
    """IVF index maintenance (r13, VERDICT r12 #5): arriving vectors are
    assigned per-micro-batch to the FROZEN coarse quantizer and the
    staleness report over the accumulated assignments must equal the
    batch ivf_staleness_report over the union of batches (frozen
    quantizer => per-vector fits are batch-independent; BIGINT ppm sums
    are associative). Also pins replay idempotence (a re-run batch_id
    REPLACES its partition, never double-counts) and the metric's
    meaning: off-centroid arrivals push staleness_ppm positive, a cell
    with no arrivals keeps n_new=0 with NULL arrival stats."""
    import json

    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    from pinterest_data_pipeline218_spark.functions.vectors import (
        as_double_array,
    )
    from pinterest_data_pipeline218_spark.operators.similarity import (
        _cos_ppm,
        ivf_assign_cells,
        ivf_staleness_report,
        write_ivf_index,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_ivf_assign_stream,
        incremental_ivf_staleness,
        ivf_assign_state_batch,
    )

    dim = 8

    def vec(axis, mag=1.0, eps=0.0):
        v = [0.0] * dim
        v[axis] = mag
        if eps:
            v[(axis + 1) % dim] = eps
        return v

    # two tight training cells on axes 0 and 1, plus an axis-2 cell that
    # receives no arrivals
    base_rows = (
        [(i, vec(0, 1.0, 0.02 * i), 0) for i in range(4)]
        + [(10 + i, vec(1, 1.0, 0.02 * i), 1) for i in range(4)]
        + [(20, vec(2), 2), (21, vec(2, 1.0, 0.01), 2)]
    )
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<float>, label int"
    ).select("vec_id", "label", as_double_array("embedding").alias("v"))
    index_path = str(tmp_path / "ivf")
    write_ivf_index(base, index_path)

    # arrivals: two fit cell 0 tightly, two land in cell 1 OFF-centroid
    # (strong cross-component) so cell 1's staleness must be positive
    new_rows = [
        (100, vec(0, 2.0)),
        (101, vec(0, 1.0, 0.01)),
        (102, vec(1, 1.0, 0.9)),
        (103, vec(1, 0.5, 0.45)),
    ]
    src = tmp_path / "vecs"
    src.mkdir()
    for i in range(2):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for vid, v in new_rows[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"vec_id": vid, "embedding": v}) + "\n")
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state_dir = str(tmp_path / "state")
    q = attach_ivf_assign_stream(
        stream, index_path, state_dir, str(tmp_path / "cp")
    )
    q.processAllAvailable()
    q.stop()

    def rows_of(df):
        return {
            r.cell: (
                r.n_base, r.n_new, r.base_mean_cos_ppm,
                r.new_mean_cos_ppm, r.staleness_ppm,
            )
            for r in df.collect()
        }

    got = rows_of(incremental_ivf_staleness(spark, index_path, state_dir))

    # batch twin over the union of arrivals, same frozen quantizer
    cents = spark.read.parquet(f"{index_path}/centroids")
    base_sc = base.join(cents, "label").select(
        F.col("label").alias("cell"),
        _cos_ppm(F.col("v"), F.col("c")).alias("cos_ppm"),
    )
    union = spark.createDataFrame(
        new_rows, "vec_id long, embedding array<float>"
    ).select("vec_id", as_double_array("embedding").alias("v"))
    new_sc = ivf_assign_cells(union, cents).select("cell", "cos_ppm")
    want = rows_of(ivf_staleness_report(base_sc, new_sc))
    assert got == want
    assert set(got) == {0, 1, 2}

    # metric semantics: tight arrivals ~ training fit; off-centroid
    # arrivals degrade it; the never-hit cell reports n_new=0, NULLs
    assert got[0][1] == 2 and abs(got[0][4]) < 3000
    assert got[1][1] == 2 and got[1][4] > 10000
    assert got[2][1] == 0 and got[2][3] is None and got[2][4] is None

    # replay idempotence: re-running a batch_id replaces its partition
    first_batch = spark.createDataFrame(
        new_rows[:2], "vec_id long, embedding array<float>"
    )
    ivf_assign_state_batch(first_batch, index_path, state_dir, batch_id=0)
    assert rows_of(incremental_ivf_staleness(spark, index_path, state_dir)) == want


def test_incremental_cusum_equals_batch(spark, tmp_path):
    """CUSUM change-point monitor (staged r13): per-batch additive daily
    cells + the exact batch finisher must equal ev_changepoint_cusum's
    kernel over the union of batches — including a LATE batch that adds
    into an already-seen (type, day) cell — and replay idempotence."""
    import datetime
    import json

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    from pinterest_data_pipeline218_spark.plans.events import cusum_daily
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_cusum_stream,
        cusum_state_batch,
        incremental_cusum,
    )

    base_day = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for d in range(30):
        val = 1.0 if d < 15 else 2.2
        # two events per day so a later batch can append into a seen day
        for _ in range(2):
            rows.append(
                {
                    "event_id": eid,
                    "ts": (base_day + datetime.timedelta(days=d)).isoformat(),
                    "user_id": 1,
                    "event_type": "shift",
                    "value": val,
                    "props": "{}",
                }
            )
            eid += 1
    # batch 0: first event of every day; batch 1: the second (pure lates)
    src = tmp_path / "ev"
    src.mkdir()
    with open(src / "000.jsonl", "w") as f:
        for r in rows[0::2]:
            f.write(json.dumps(r) + "\n")
    with open(src / "001.jsonl", "w") as f:
        for r in rows[1::2]:
            f.write(json.dumps(r) + "\n")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state_dir = str(tmp_path / "state")
    q = attach_cusum_stream(stream, state_dir, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    def rows_of(df):
        return [
            (r.event_type, r.day, r.v_cents, r.s_up, r.s_dn, r.direction)
            for r in df.collect()
        ]

    got = rows_of(incremental_cusum(spark, state_dir))
    ev = spark.createDataFrame(
        [
            (
                r["event_id"],
                datetime.datetime.fromisoformat(r["ts"]),
                r["user_id"],
                r["event_type"],
                r["value"],
                r["props"],
            )
            for r in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    want = rows_of(cusum_daily(ev))
    assert got == want and len(got) > 0

    # replay idempotence: re-run batch 0 with the same id
    b0 = spark.createDataFrame(
        [
            (
                r["event_id"],
                datetime.datetime.fromisoformat(r["ts"]),
                r["user_id"],
                r["event_type"],
                r["value"],
                r["props"],
            )
            for r in rows[0::2]
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    cusum_state_batch(b0, state_dir, batch_id=0)
    assert rows_of(incremental_cusum(spark, state_dir)) == want

    empty = incremental_cusum(spark, str(tmp_path / "never"))
    assert empty.collect() == []


def test_incremental_seasonal_backtest_equals_batch(spark, tmp_path):
    """incremental_seasonal_backtest (staged r14): the MASE backtest over
    the SAME daily cells the CUSUM monitor owns must equal the batch
    seasonal_backtest over the union of batches — including a late batch
    adding into seen days — plus replay idempotence and the empty-state
    contract. One state family, two analyses: a green here plus
    test_incremental_cusum_equals_batch pins that neither reader can
    drift from the other's state."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.events import (
        cusum_daily_agg,
        seasonal_backtest,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        cusum_state_batch,
        incremental_seasonal_backtest,
    )

    base = datetime.datetime(2024, 5, 1, 8, 0, 0)
    vals = [2.0, 6.0, 3.0, 8.0, 1.0, 7.0, 4.0, 9.0, 2.0, 5.0,
            3.0, 8.0, 6.0, 1.0, 4.0, 7.0, 2.0, 9.0, 5.0, 3.0]
    rows = []
    for d, v in enumerate(vals):
        for j in range(2):  # two events/day so batch 1 is pure lates
            rows.append(
                (d * 2 + j, base + datetime.timedelta(days=d), 1, "t", v, "{}")
            )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    all_ev = spark.createDataFrame(rows, schema)
    b0 = spark.createDataFrame(rows[0::2], schema)
    b1 = spark.createDataFrame(rows[1::2], schema)

    state_dir = str(tmp_path / "state")
    cusum_state_batch(b0, state_dir, batch_id=0)
    cusum_state_batch(b1, state_dir, batch_id=1)

    def rows_of(df):
        return [tuple(r) for r in df.collect()]

    got = rows_of(incremental_seasonal_backtest(spark, state_dir))
    want = rows_of(seasonal_backtest(cusum_daily_agg(all_ev)))
    assert got == want and len(got) == 1

    # replay idempotence: re-deliver batch 1 under the same id
    cusum_state_batch(b1, state_dir, batch_id=1)
    assert rows_of(incremental_seasonal_backtest(spark, state_dir)) == want

    empty = incremental_seasonal_backtest(spark, str(tmp_path / "never"))
    assert empty.collect() == []


def test_incremental_did_lift_equals_batch(spark, tmp_path):
    """incremental_did_lift (staged r15): the DiD readout over
    accumulated (arm, day) cells must equal the batch did_lift_report
    over the union — including a LATE batch that EXTENDS the observation
    window and thereby MOVES the day-grain pre/post boundary (the
    re-derivation contract), plus replay idempotence and the empty-state
    contract."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.experiments import (
        did_daily_agg,
        did_lift_report,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        did_state_batch,
        incremental_did_lift,
    )

    base = datetime.datetime(2024, 6, 1, 12, 30, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    rows = []
    eid = 0
    for d in range(8):
        for uid in range(1, 11):
            rows.append(
                (eid, base + datetime.timedelta(days=d), uid, "click",
                 float(5 + uid % 3 + d), "{}")
            )
            eid += 1
    # batch 1 holds the LAST TWO DAYS entirely: applying it moves the
    # boundary the finisher derives from min/max day
    b0_rows = [r for r in rows if r[1] < base + datetime.timedelta(days=6)]
    b1_rows = [r for r in rows if r[1] >= base + datetime.timedelta(days=6)]
    all_ev = spark.createDataFrame(rows, schema)
    b0 = spark.createDataFrame(b0_rows, schema)
    b1 = spark.createDataFrame(b1_rows, schema)

    def rows_of(df):
        return [tuple(r) for r in df.collect()]

    state_dir = str(tmp_path / "state")
    did_state_batch(b0, state_dir, batch_id=0)
    want_b0 = rows_of(did_lift_report(did_daily_agg(b0)))
    assert rows_of(incremental_did_lift(spark, state_dir)) == want_b0

    did_state_batch(b1, state_dir, batch_id=1)
    want = rows_of(did_lift_report(did_daily_agg(all_ev)))
    got = rows_of(incremental_did_lift(spark, state_dir))
    assert got == want and len(got) == 1
    assert got != want_b0  # the late batch moved the boundary

    # replay idempotence: re-deliver batch 1 under the same id
    did_state_batch(b1, state_dir, batch_id=1)
    assert rows_of(incremental_did_lift(spark, state_dir)) == want

    empty = incremental_did_lift(spark, str(tmp_path / "never"))
    assert empty.collect() == []


def test_incremental_cuped_equals_batch(spark, tmp_path):
    """incremental_cuped (staged r15): the CUPED readout over
    accumulated (user, day) cells must equal the batch cuped_report over
    the union — including a LATE batch that EXTENDS the observation
    window and thereby MOVES the boundary every user's pre/post split
    derives from (the re-derivation contract), plus replay idempotence
    and the empty-state contract."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.experiments import (
        cuped_report,
        cuped_user_day_agg,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        cuped_state_batch,
        incremental_cuped,
    )

    base = datetime.datetime(2024, 6, 1, 12, 30, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    rows = []
    eid = 0
    for d in range(8):
        for uid in range(1, 11):
            rows.append(
                (eid, base + datetime.timedelta(days=d), uid, "click",
                 float(5 + (uid * 7 + d * 3) % 11), "{}")
            )
            eid += 1
    # batch 1 holds the LAST TWO DAYS entirely: applying it moves the
    # boundary, re-splitting every user's x/y
    b0_rows = [r for r in rows if r[1] < base + datetime.timedelta(days=6)]
    b1_rows = [r for r in rows if r[1] >= base + datetime.timedelta(days=6)]
    all_ev = spark.createDataFrame(rows, schema)
    b0 = spark.createDataFrame(b0_rows, schema)
    b1 = spark.createDataFrame(b1_rows, schema)

    def rows_of(df):
        return [tuple(r) for r in df.collect()]

    state_dir = str(tmp_path / "state")
    cuped_state_batch(b0, state_dir, batch_id=0)
    want_b0 = rows_of(cuped_report(cuped_user_day_agg(b0)))
    assert rows_of(incremental_cuped(spark, state_dir)) == want_b0

    cuped_state_batch(b1, state_dir, batch_id=1)
    want = rows_of(cuped_report(cuped_user_day_agg(all_ev)))
    got = rows_of(incremental_cuped(spark, state_dir))
    assert got == want and len(got) == 1
    assert got != want_b0  # the late batch moved the boundary

    # replay idempotence: re-deliver batch 1 under the same id
    cuped_state_batch(b1, state_dir, batch_id=1)
    assert rows_of(incremental_cuped(spark, state_dir)) == want

    empty = incremental_cuped(spark, str(tmp_path / "never"))
    assert empty.collect() == []


def test_incremental_epoch_schedule_equals_batch(spark, tmp_path):
    """incremental_epoch_schedule (staged r15): the capped water-fill
    over accumulated per-source cells must equal the batch op over the
    union — including a LATE batch that pushes a source over the cap and
    thereby REBALANCES every other source's redistributed quota (the
    global re-derivation contract), plus replay idempotence and the
    empty-state contract."""
    from pinterest_data_pipeline218_spark.operators.corpus import (
        epoch_schedule_report,
        epoch_source_agg,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        epoch_state_batch,
        incremental_epoch_schedule,
    )

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )

    def docs_of(spec, start_id):
        rows, did = [], start_id
        for src, k in spec:
            rows.append((did, " ".join(["w"] * k), "en", src, k))
            did += 1
        return spark.createDataFrame(rows, schema)

    # batch 0: three sources, all comfortably under the cap
    b0 = docs_of([("a", 200_000), ("b", 150_000), ("c", 120_000)], 0)
    # batch 1: more docs for c... shrinking c's token mass? no — ADDING
    # tokens to a TINY source "d" plus a trickle to "a"; d lands far
    # over the cap, so its surplus must rebalance a/b/c's quotas
    b1 = docs_of([("d", 1_000), ("a", 50_000)], 100)

    def rows_of(df):
        return [tuple(r) for r in df.collect()]

    state_dir = str(tmp_path / "state")
    epoch_state_batch(b0, state_dir, batch_id=0)
    want_b0 = rows_of(epoch_schedule_report(epoch_source_agg(b0)))
    assert rows_of(incremental_epoch_schedule(spark, state_dir)) == want_b0

    epoch_state_batch(b1, state_dir, batch_id=1)
    want = rows_of(epoch_schedule_report(epoch_source_agg(b0.unionByName(b1))))
    got = rows_of(incremental_epoch_schedule(spark, state_dir))
    assert got == want
    assert got != want_b0
    by_src = {r[0]: r for r in got}
    assert by_src["d"][5] is True  # the late tiny source caps...
    b0_quota = {r[0]: r[3] for r in want_b0}
    assert by_src["a"][3] != b0_quota["a"]  # ...and rebalances the rest

    epoch_state_batch(b1, state_dir, batch_id=1)  # replay idempotence
    assert rows_of(incremental_epoch_schedule(spark, state_dir)) == want

    assert incremental_epoch_schedule(spark, str(tmp_path / "no")).collect() == []


def test_incremental_l_diversity_equals_batch(spark, tmp_path):
    """incremental_l_diversity (staged r15): the homogeneity screen over
    accumulated (QI, lang) cells must equal the batch op over the union
    — including a LATE batch whose documents introduce a flagged group's
    SECOND language and thereby CLEAR its flag (the verdict re-derives
    from merged cells, never accumulates), plus replay idempotence and
    the empty-state contract."""
    from pinterest_data_pipeline218_spark.operators.dataquality import (
        l_diversity_cells,
        l_diversity_report,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_l_diversity,
        ldiv_state_batch,
    )

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    b0 = spark.createDataFrame(
        [(i, "t", "en", "srcA", 50) for i in range(6)]
        + [(10, "t", "fr", "srcB", 50), (11, "t", "de", "srcB", 50)],
        schema,
    )
    # the late batch gives srcA's bucket its second language
    b1 = spark.createDataFrame([(20, "t", "de", "srcA", 70)], schema)

    def rows_of(df):
        return [tuple(r) for r in df.collect()]

    state_dir = str(tmp_path / "state")
    ldiv_state_batch(b0, state_dir, batch_id=0)
    want_b0 = rows_of(l_diversity_report(l_diversity_cells(b0)))
    got_b0 = rows_of(incremental_l_diversity(spark, state_dir))
    assert got_b0 == want_b0 == [("srcA", 0, 6, 1)]  # flagged while mono-lang

    ldiv_state_batch(b1, state_dir, batch_id=1)
    want = rows_of(l_diversity_report(l_diversity_cells(b0.unionByName(b1))))
    got = rows_of(incremental_l_diversity(spark, state_dir))
    assert got == want == []  # the second language cleared the flag

    ldiv_state_batch(b1, state_dir, batch_id=1)  # replay idempotence
    assert rows_of(incremental_l_diversity(spark, state_dir)) == want

    assert incremental_l_diversity(spark, str(tmp_path / "no")).collect() == []


def test_incremental_kcenter_equals_batch(spark, tmp_path):
    """incremental_kcenter_sample (staged r15): the coverage sample over
    accumulated per-batch two-sided candidate takes must equal the batch
    kcenter_sample over the full corpus against the same FROZEN
    quantizer — the distributive-top-k state argument, pinned on the
    planted big-cell/small-cell geometry. Also pins replay idempotence,
    cross-batch duplicate delivery (one vector must never hold two
    ranks), and the empty-state contract."""
    import pyspark.sql.functions as F_

    from pinterest_data_pipeline218_spark.functions.vectors import (
        as_double_array,
    )
    from pinterest_data_pipeline218_spark.operators.similarity import (
        _cos_ppm,
        build_ivf_centroids,
        kcenter_sample,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        incremental_kcenter_sample,
        kcenter_state_batch,
    )

    rows = []
    for i in range(16):  # cell 0 core
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], 0))
    for i in range(4):  # cell 0 planted boundary
        rows.append((100 + i, [0.2, 1.0, 0.02 * i, 0.0], 0))
    for i in range(5):  # cell 1, under the core take
        rows.append((200 + i, [0.0, 0.0, 1.0, 0.05 * i], 1))
    emb = spark.createDataFrame(
        [(v, [float(x) for x in vec], lab) for v, vec, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )
    cents = build_ivf_centroids(
        emb.select("vec_id", "label", as_double_array("embedding").alias("v"))
    ).localCheckpoint()  # the FROZEN quantizer both sides share

    state_dir = str(tmp_path / "state")
    batches = [emb.filter(F_.col("vec_id") % 3 == i) for i in range(3)]
    for bid, b in enumerate(batches):
        kcenter_state_batch(b, cents, state_dir, batch_id=bid)
    # at-least-once: batch 1 re-delivered under its own id, AND one of
    # its vectors also arrives (duplicated) inside batch 2's partition
    kcenter_state_batch(batches[1], cents, state_dir, batch_id=1)
    kcenter_state_batch(
        batches[2].unionByName(batches[1].limit(1)), cents, state_dir, batch_id=2
    )

    def rows_of(df):
        return [tuple(r) for r in df.collect()]

    scored_all = (
        emb.select("vec_id", "label", as_double_array("embedding").alias("v"))
        .join(F_.broadcast(cents), "label")
        .select(
            "vec_id", "label", _cos_ppm(F_.col("v"), F_.col("c")).alias("cos_ppm")
        )
    )
    want = rows_of(kcenter_sample(scored_all))
    got = rows_of(incremental_kcenter_sample(spark, state_dir))
    assert got == want and len(got) > 0
    picked = [r[1] for r in got]
    assert len(picked) == len(set(picked))  # duplicates never hold two ranks

    empty = incremental_kcenter_sample(spark, str(tmp_path / "never"))
    assert empty.collect() == []


def test_incremental_kcore_equals_batch(spark, tmp_path):
    """Streaming k-core (staged r13): the peel over accumulated per-batch
    edge partitions must equal the batch k_core over the union — and
    core membership must be MONOTONE as edges arrive (batch 0 alone
    leaves a path below k=2; batch 1 closes it into a cycle, lifting
    every node into the core). Also pins replay idempotence and
    cross-batch duplicate delivery."""
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.graph import k_core
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_kcore_stream,
        incremental_k_core,
        kcore_state_batch,
    )

    # path a-b-c-d (symmetrized) in batch 0; batch 1 adds d-a closing the
    # 4-cycle (every node reaches degree 2), PLUS a duplicate of a-b
    # (cross-batch re-delivery must not matter)
    b0 = [("a", "b"), ("b", "c"), ("c", "d")]
    b1 = [("d", "a"), ("a", "b")]

    def sym(pairs):
        return pairs + [(d, s) for s, d in pairs]

    src = tmp_path / "edges"
    src.mkdir()
    for i, batch in enumerate((b0, b1)):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for s_, d_ in sym(batch):
                f.write(json.dumps({"src": s_, "dst": d_}) + "\n")
    schema = StructType(
        [StructField("src", StringType()), StructField("dst", StringType())]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state_dir = str(tmp_path / "state")
    q = attach_kcore_stream(stream, state_dir, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    got = {
        r.node: r.core_deg
        for r in incremental_k_core(spark, state_dir, k=2).collect()
    }
    union = spark.createDataFrame(sym(b0) + sym(b1), "src string, dst string")
    want = {r.node: r.core_deg for r in k_core(union, k=2).collect()}
    assert got == want
    # the closed cycle puts all four nodes in the 2-core at degree 2
    assert got == {"a": 2, "b": 2, "c": 2, "d": 2}
    # monotone growth: batch 0 alone has an empty 2-core (open path)
    solo_dir = str(tmp_path / "solo")
    b0_df = spark.createDataFrame(sym(b0), "src string, dst string")
    kcore_state_batch(b0_df, solo_dir, batch_id=0)
    assert incremental_k_core(spark, solo_dir, k=2).collect() == []
    # replay idempotence: re-running batch 1 replaces its partition
    b1_df = spark.createDataFrame(sym(b1), "src string, dst string")
    kcore_state_batch(b1_df, state_dir, batch_id=1)
    assert {
        r.node: r.core_deg
        for r in incremental_k_core(spark, state_dir, k=2).collect()
    } == want

    empty = incremental_k_core(spark, str(tmp_path / "never"))
    assert empty.collect() == []


def test_incremental_pmi_equals_batch(spark, tmp_path):
    """Streaming PMI (staged r13): accumulated per-batch pair counts +
    the exact batch finisher must equal pmi_collocations over the union
    of batches — bigrams never span documents, so batch boundaries
    cannot matter — including replay idempotence and the empty state."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pinterest_data_pipeline218_spark.operators.text_analysis import (
        pmi_collocations,
    )
    from pinterest_data_pipeline218_spark.streaming.pipeline import (
        attach_pmi_stream,
        incremental_pmi,
        pmi_state_batch,
    )

    docs = [
        (1, " ".join(["a", "b"] * 5)),
        (2, " ".join(["a", "c"] * 5)),
        (3, " ".join(["a", "b"] * 3 + ["d"])),
        (4, "d " + " ".join(["b", "a"] * 4)),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(2):
        with open(src / f"{i:03d}.jsonl", "w") as f:
            for did, text in docs[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(str(src))
    )
    state_dir = str(tmp_path / "state")
    q = attach_pmi_stream(stream, state_dir, str(tmp_path / "cp"))
    q.processAllAvailable()
    q.stop()

    def rows_of(df):
        return [
            (r.w1, r.w2, r.n_pair, r.n_w1, r.n_w2, r.pmi_ratio_ppm)
            for r in df.collect()
        ]

    got = rows_of(incremental_pmi(spark, state_dir))
    union = spark.createDataFrame(docs, "doc_id long, text string")
    want = rows_of(pmi_collocations(union))
    assert got == want and len(got) > 0

    # replay idempotence
    b0 = spark.createDataFrame(docs[:2], "doc_id long, text string")
    pmi_state_batch(b0, state_dir, batch_id=0)
    assert rows_of(incremental_pmi(spark, state_dir)) == want

    empty = incremental_pmi(spark, str(tmp_path / "never"))
    assert empty.collect() == []


def test_ivf_assign_raises_over_cell_cap_and_memoizes(spark):
    """ADVICE r13: the IVF_CELL_CAP ordered limit is a PROVABLE BOUND,
    not a sampling policy — a quantizer that actually exceeds the cap
    must raise at planning time (silently assigning among the
    lowest-label cells while base-side fits keep every cell would leave
    over-cap cells reporting n_new=0 forever, and both engines would
    agree so the oracle gate could not catch it). At or below the cap
    the attestation is a one-bounded-count no-op, memoized per
    (session, quantizer plan) like the injectivity attestation."""
    import pytest as _pytest

    from pinterest_data_pipeline218_spark.data import (
        memo_stats,
        plan_identity,
        session_memo,
    )
    from pinterest_data_pipeline218_spark.operators import similarity as S

    def mk_cents(session, n_cells):
        return session.createDataFrame(
            [
                (i, [float(i + 1) if d == i % 4 else 0.0 for d in range(4)])
                for i in range(n_cells)
            ],
            "label int, c array<double>",
        )

    def mk_new(session):
        return session.createDataFrame(
            [(1, [0.0, 0.0, 0.0, 1.0])], "vec_id long, v array<double>"
        )

    def unbuilt():
        raise AssertionError("verdict was not memoized")

    # each case runs in a fresh session, whose memo starts empty
    over_session = spark.newSession()
    over = mk_cents(over_session, S.IVF_CELL_CAP + 8)
    with _pytest.raises(ValueError, match="IVF_CELL_CAP"):
        S.ivf_assign_cells(mk_new(over_session), over)
    # the over-cap verdict is memoized as cap+1 (the bounded count never
    # scans past the limit)
    verdict = session_memo(over_session, "cell_cap", plan_identity(over), unbuilt)
    assert verdict == S.IVF_CELL_CAP + 1

    # at the cap exactly: assignment proceeds, ties break to the lowest
    # cell id of the query's axis (axis 3 -> label 3), and re-asserting
    # the SAME quantizer DataFrame hits the memo instead of re-counting.
    # (An in-memory REBUILD via createDataFrame keys fresh since r15 —
    # plan_identity mixes in semanticHash, where RDD-backed inputs carry
    # creation identity: a safe miss, never a cross-dataset collision;
    # the memo-hit-across-rebuilds contract holds for file-rooted
    # quantizers, which every gated query has — pinned by
    # test_containment_hash_and_string_branches_agree's parquet case.)
    at_session = spark.newSession()
    cents, new = mk_cents(at_session, S.IVF_CELL_CAP), mk_new(at_session)
    got = S.ivf_assign_cells(new, cents).collect()
    assert len(got) == 1 and got[0].cell == 3
    stats = memo_stats(at_session)["cell_cap"]
    assert (stats["hits"], stats["misses"]) == (0, 1)
    S.ivf_assign_cells(new, cents)
    stats = memo_stats(at_session)["cell_cap"]
    assert (stats["hits"], stats["misses"]) == (1, 1)  # same plan object -> memo hit
