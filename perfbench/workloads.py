"""The three workloads. Each runs in its own process, as one closed-loop
client against a local[nproc] Spark session:

- ``olap_action``: registry queries whose time is the Spark action
  (Catalyst plus execution, including Python-worker decoders); their
  builders fire no SQL executions.
- ``iterative_builder``: registry queries whose time is the Python
  builder and its eager per-round Spark jobs.
- ``pin_stream_etl``: the paper's ingest path: four concurrent
  streaming queries drain a file backlog into parquet sinks and KMV
  state, then T4-T11 run over the landed tables and the KMV state is
  assembled.

Every run sets up the session once (launching the JVM and loading every
table the workload reads), times one cold pass in the fresh session,
checks that pass's results against a reference, then repeats warm passes
(after untimed warm-up passes, where the workload has them) for at least
the run's seconds.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import defaultdict

from . import hooks, inputs, oracle
from .metrics import END_TO_END, MODULES, PER_LAYER, render
from .stats import Outcomes, percentile, sum_of_medians

PKG = "pinterest_data_pipeline218_spark."

# The registry workloads read one fixed data set, generated each run from
# REGISTRY_DATA_SEED, so the oracle results can be stored; the run's seed
# permutes the query order. Between them the two run at least one query of
# every module in metrics.MODULES, so every module's layer metrics are
# measured.
REGISTRY_SF = 0.01
REGISTRY_DATA_SEED = 0
OLAP_ROWS = (
    "tpch_q1_pricing_summary", "tpch_q13_outer_join",
    "tpch_q14_promo_revenue", "tpch_q9_product_profit",
    "t4_top_priority_per_nation", "t8_compat_window_median",
    "mm_audio_decode", "ev_sessions_per_user", "sim_topk_bruteforce",
    "ml_kmeans_refine",
)
ITER_ROWS = ("dedup_cluster_cc", "graph_pagerank_trade")

# Warm passes per registry workload: (warm-up, timed). Warm-up passes run
# and are checked for exceptions like the others but are left out of the
# medians: the JVM is still compiling the builders' hot paths in them,
# and how fast it gets there depends on the host's load, not on the code.
# The iterative rows are short chains of small jobs and py4j calls, the
# most sensitive to that: their pass time still falls for four to five
# passes, most on a loaded host, so they get two warm-up passes and four
# timed ones. The olap rows get two timed passes (a traced run needs two,
# so its traced and untraced sides alternate which goes first).
WARM_PASSES = {"olap_action": (0, 2), "iterative_builder": (2, 4)}

STREAM_SF = 0.01  # sizes the events table the KMV stream replays
STREAM_RECORDS = 1500  # pin/geo/user records per table
STREAM_FILES = 6  # files per stream; one file per micro-batch
STREAM_TABLES = ("pin", "geo", "user")
STREAM_WARM_PASSES = 1  # at least; one pass is as steady as two, at half the cost


def _now() -> float:
    return time.monotonic()


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Session:
    """Owns the Spark session of one run: its timed set-up, and shutdown
    of the JVM it launched."""

    def __init__(self) -> None:
        self.spark = None

    def setup(self, run: "Run", data_dir: str, tables: tuple[str, ...]):
        """Launch the session and load every table once: ``setup_s``."""
        from pinterest_data_pipeline218_spark.data import load_table
        from pinterest_data_pipeline218_spark.session import get_spark

        with run.tracer.span("setup"):
            t0 = _now()
            self.spark = get_spark("perfbench")
            t1 = _now()
            for t in tables:
                load_table(self.spark, data_dir, t)
            t2 = _now()
        run.e2e["setup_s"] = t2 - t0
        run.layer["session.get_spark_s"] = t1 - t0
        run.layer["data.load_table_s"] = t2 - t1
        run.record["java"] = self.spark._jvm.java.lang.System.getProperty(
            "java.version")
        run.mark("setup")
        return self.spark

    def close(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None


class Run:
    """State of one benchmark run: arguments, scratch directory, the
    tracer, failure counts and the numbers the result is built from."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.tracer = hooks.Tracer(trace, f"{workload}-{seed}")
        self.outcomes = Outcomes()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = defaultdict(float)
        self.record: dict = {"workload": workload, "seed": seed, "phase_s": {}}
        self.t0 = _now()

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.record["phase_s"][phase] = _now() - self.t0

    def traced_pass(self, p: int) -> bool:
        """Passes of a traced stream run go untraced and traced in ABBA
        order, so one process measures the tracing overhead and neither
        side gets the later, warmer passes."""
        return self.trace and p % 4 in (1, 2)

    def span(self, traced: bool):
        """The span recorder for one side of a paired timing."""
        return self.tracer.span if traced else hooks.no_span

    def warm_loop(self, one_pass, least: int) -> int:
        """Run warm passes until the run's seconds are spent (at least
        ``least``); return the count."""
        t0, p = _now(), 0
        while p < least or _now() - t0 < self.seconds:
            one_pass(p)
            p += 1
        return p

    def peak_rss(self, spark) -> None:
        self.layer["session.peak_rss_mb"] = (
            hooks.vm_hwm_mb(hooks.jvm_pid(spark)) + hooks.vm_hwm_mb()
        )

    def result(self) -> dict:
        if self.trace:
            values, units = dict(self.layer), PER_LAYER
        else:
            values, units = self.e2e, END_TO_END
        self.record["failures"] = self.outcomes.failures
        self.record["failed_frac"] = self.outcomes.failed_frac
        self.record["spans"] = self.tracer.spans
        return {
            "correct": self.outcomes.failed == 0,
            "attempted": self.outcomes.attempted,
            "failed": self.outcomes.failed,
            "metrics": render(values, units),
        }


def _module(fn) -> str:
    mod = fn.__module__
    return mod[len(PKG):] if mod.startswith(PKG) else mod


def run_registry(run: Run, names: tuple[str, ...]) -> None:
    """Cold pass with checked results (builder call plus collect per
    query), then warm passes (builder call plus noop write per query). The
    seed changes the order, not the data."""
    import __spark_entry__ as entry

    names = tuple(random.Random(run.seed).sample(names, len(names)))
    tables = oracle.tables_read(list(names))
    data_dir = os.path.join(run.work_dir, "data")
    run.record.update(sf=REGISTRY_SF, data_seed=REGISTRY_DATA_SEED, order=names)
    run.record["input_rows"] = inputs.write_tables(
        data_dir, REGISTRY_SF, REGISTRY_DATA_SEED, tables)
    run.record["input_files"], run.record["input_bytes"] = hooks.dir_usage(
        data_dir, ".parquet")
    want = oracle.stored()
    run.mark("inputs")
    qs = entry.queries()
    module = {n: _module(qs[n]) for n in names}

    sess = Session()
    try:
        spark = sess.setup(run, data_dir, tables)

        cold, builder_cold, digests = {}, {}, {}
        for n in names:
            spark.sparkContext.setJobDescription(f"cold:{n}")
            with run.tracer.span(f"cold:{n}"):
                try:
                    t0 = _now()
                    df = qs[n](spark, data_dir)
                    t1 = _now()
                    # the first execution is the one checked, so no query
                    # runs a second time just for its check
                    rows = df.collect()
                    t2 = _now()
                    got = oracle.canonical(df.columns, rows)
                except Exception as exc:  # a failed query is counted, not fatal
                    run.outcomes.raised(n, exc)
                    continue
            cold[n], builder_cold[n] = t2 - t0, t1 - t0
            digests[n] = oracle.digest(got)
            bad = oracle.check(got, want[n])
            if bad:
                run.outcomes.wrong(n, bad)
            else:
                run.outcomes.ok()

        run.mark("cold")
        warmup, timed = WARM_PASSES[run.workload]
        warm, warmup_s = defaultdict(list), defaultdict(list)
        traced = defaultdict(lambda: defaultdict(list))

        def one_query(p: int, n: str, tr: bool) -> None:
            # The traced side does every span and hook read inside its
            # timing, so traced minus untraced is what tracing costs.
            span = run.span(tr)
            spark.sparkContext.setJobDescription(f"warm{p}:{n}")
            try:
                t0 = _now()
                with span(f"query:{n}"):
                    if tr:
                        ex0, x0 = hooks.exec_totals(spark), hooks.sql_execs(spark)
                    tb = _now()
                    with span("builder"):
                        df = qs[n](spark, data_dir)
                    t1 = _now()
                    if tr:
                        x1 = hooks.sql_execs(spark)
                        with span("catalyst"):
                            phases = hooks.catalyst_phases_ms(df)
                    t2 = _now()
                    with span("action"):
                        _force(df)
                    t3 = _now()
                    if tr:
                        ex1, x2 = hooks.exec_totals(spark), hooks.sql_execs(spark)
                t4 = _now()
            except Exception as exc:
                run.outcomes.raised(n, exc)
                return
            run.outcomes.ok()
            if p < warmup:
                warmup_s[n].append(t4 - t0)
                return
            if not tr:
                warm[n].append(t4 - t0)
                return
            rec = traced[n]
            rec["builder_s"].append(t1 - tb)
            rec["action_s"].append(t3 - t2)
            rec["total_s"].append(t4 - t0)
            rec["sql_execs"].append(x1 - x0)
            for ph, ms in phases.items():
                rec[ph].append(ms)
            for k in ex1:
                traced["_exec"][k].append(ex1[k] - ex0[k])
            traced["_exec"]["sql_execs"].append(x2 - x0)

        def one_pass(p: int) -> None:
            # alternate direction so no query always follows the same one;
            # a traced run times each query untraced and traced back to
            # back, in alternating order, so both see the same warm-up
            q = p - warmup
            with run.tracer.span(f"warm_pass:{p}"):
                for n in (names if q % 2 == 0 else names[::-1]):
                    variants = (False, True) if q % 2 == 0 else (True, False)
                    for tr in (variants if run.trace and q >= 0 else (False,)):
                        one_query(p, n, tr)

        passes = run.warm_loop(one_pass, warmup + timed) - warmup
        run.mark("warm")
        run.peak_rss(spark)
        run.record.update(passes=passes, cold_s=cold, warmup_s=warmup_s,
                          warm_s={n: warm[n] for n in names})

        run.e2e["cold_s"] = sum(cold.values())
        run.e2e["warm_s"] = sum_of_medians({n: warm[n] for n in names})
        if run.trace:
            _registry_layers(run, names, module, builder_cold, warm, traced,
                             passes)
            run.layer["exec.spill_bytes"] = hooks.spill_bytes(spark)
        run.record["digests"] = digests
    finally:
        sess.close()


def _registry_layers(run, names, module, builder_cold, warm, traced,
                     passes) -> None:
    med = statistics.median
    L = run.layer
    for m in MODULES:
        for k in ("builder_s", "builder_cold_s", "builder_sql_execs",
                  "action_s", "split_gap_frac"):
            L[f"{m}.{k}"] = 0.0
    split = defaultdict(float)
    untraced = defaultdict(float)
    traced_total = 0.0
    for n in names:
        m, rec = module[n], traced[n]
        L[f"{m}.builder_cold_s"] += builder_cold.get(n, 0.0)
        if not rec["builder_s"]:
            continue
        L[f"{m}.builder_s"] += med(rec["builder_s"])
        L[f"{m}.action_s"] += med(rec["action_s"])
        L[f"{m}.builder_sql_execs"] += med(rec["sql_execs"])
        for ph in hooks.PHASES:
            L[f"catalyst.{ph}_ms"] += med(rec[ph])
        split[m] += med(rec["builder_s"]) + med(rec["action_s"])
        untraced[m] += med(warm[n])
        traced_total += med(rec["total_s"])
    for m, s in split.items():
        L[f"{m}.split_gap_frac"] = s / untraced[m] - 1
    ex = traced["_exec"]  # per traced execution; reported per warm pass
    for k in ("sql_execs", "tasks", "executor_run_s", "shuffle_write_bytes"):
        L[f"exec.{k}"] = sum(ex[k]) / passes
    L["trace.overhead_s"] = traced_total - sum(untraced.values())
    for k in PER_LAYER:
        L.setdefault(k, 0.0)


def run_olap_action(run: Run) -> None:
    run_registry(run, OLAP_ROWS)


def run_iterative_builder(run: Run) -> None:
    run_registry(run, ITER_ROWS)


def _t_queries(pin, geo, user) -> list:
    """T4-T11 (operators.analytics) over cleaned pin/geo/user frames."""
    from pinterest_data_pipeline218_spark.operators import analytics as A

    t6p1 = A.t6p1_top_follower_per_country(pin, geo, user)
    return [
        A.t4_top_category_per_country(pin, geo),
        A.t5_category_counts_by_year(pin, geo),
        t6p1,
        A.t6p2_top_country(t6p1),
        A.t7_top_category_per_age_group(pin, user),
        A.t8_median_follower_by_age_group(pin, user),
        A.t9_users_joined_by_year(user),
        A.t10_median_follower_by_join_year(pin, user),
        A.t11_median_follower_by_join_year_age(pin, user),
    ]


def _stream_pass(run: Run, spark, src: dict, root: str, tag: str,
                 traced: bool = False) -> dict:
    """One pipeline pass into fresh sinks under ``root``: drain the four
    streams concurrently, run T4-T11 over the landed tables, assemble the
    KMV state (each result a noop write). Returns timings and the
    micro-batch progress of every stream. A traced pass records spans and
    reads the per-layer hooks inside its timing; an untraced one reads
    only the micro-batch progress, after its timing ends."""
    from pinterest_data_pipeline218_spark.schemas import CLEAN_SCHEMAS
    from pinterest_data_pipeline218_spark.streaming import pipeline as SP

    span = run.span(traced)
    cp = os.path.join(root, "_checkpoints")
    state = os.path.join(root, "state")
    t0 = _now()
    with span(f"pass:{tag}"):
        if traced:
            ex0, x0 = hooks.exec_totals(spark), hooks.sql_execs(spark)
        ts = _now()
        with span("streaming.pipeline"):
            queries = {}
            for t in STREAM_TABLES:
                raw = SP.decode_blob(
                    SP.blob_file_stream(spark, src[t], max_files_per_trigger=1),
                    SP.RAW_BY_TABLE[t],
                )
                queries[t] = SP.write_append_stream(
                    SP.CLEANERS[t](raw), os.path.join(root, t), cp,
                    f"{t}_etl_{tag}", available_now=True,
                )
            ev = (
                spark.readStream.format("json")
                .schema("event_type STRING, user_id BIGINT")
                .option("maxFilesPerTrigger", "1")
                .load(src["events"])
            )
            queries["kmv"] = SP.attach_kmv_stream(ev, state, os.path.join(cp, "kmv"))
            for t in STREAM_TABLES:
                queries[t].awaitTermination()
            queries["kmv"].processAllAvailable()
            queries["kmv"].stop()
        t1 = _now()
        with span("operators.analytics"):
            landed = {
                t: spark.read.schema(CLEAN_SCHEMAS[t]).parquet(os.path.join(root, t))
                for t in STREAM_TABLES
            }
            for df in _t_queries(*landed.values()):
                _force(df)
        t2 = _now()
        with span("state.kmv_assemble"):
            _force(SP.incremental_kmv(spark, state))
        t3 = _now()
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"stream {q.name} failed: {q.exception()}")
        res = {"stream_s": t1 - ts, "analytics_s": t2 - t1,
               "kmv_assemble_s": t3 - t2, "traced": traced}
        if traced:
            res["progress"] = {k: hooks.batch_progress(q) for k, q in queries.items()}
            ex1 = hooks.exec_totals(spark)
            res["exec"] = {k: ex1[k] - ex0[k] for k in ex1}
            res["exec"]["sql_execs"] = hooks.sql_execs(spark) - x0
            res["sink"] = [hooks.dir_usage(os.path.join(root, t), ".parquet")
                           for t in STREAM_TABLES]
            res["state"] = hooks.dir_usage(state, ".parquet")
    res["pass_s"] = _now() - t0
    if not traced:
        res["progress"] = {k: hooks.batch_progress(q) for k, q in queries.items()}
    return res


def run_pin_stream_etl(run: Run) -> None:
    from pinterest_data_pipeline218_spark.plans.events import ev_kmv_distinct_users
    from pinterest_data_pipeline218_spark.schemas import CLEAN_SCHEMAS
    from pinterest_data_pipeline218_spark.sources.generator import to_dataframes
    from pinterest_data_pipeline218_spark.streaming import pipeline as SP

    data_dir = os.path.join(run.work_dir, "data")
    run.record["sf"] = STREAM_SF
    run.record["input_rows"] = inputs.write_tables(
        data_dir, STREAM_SF, run.seed, ("events",))
    src = inputs.write_stream_inputs(
        os.path.join(run.work_dir, "src"), STREAM_RECORDS, STREAM_FILES,
        data_dir, run.seed,
    )
    run.record["input_files"], run.record["input_bytes"] = hooks.dir_usage(
        os.path.join(run.work_dir, "src"), ".json")
    run.mark("inputs")

    sess = Session()
    try:
        spark = sess.setup(run, data_dir, ("events",))

        with run.tracer.span("cold_pass"):
            cold = _stream_pass(run, spark, src, os.path.join(run.work_dir, "p0"), "p0")
        run.e2e["cold_s"] = cold["pass_s"]
        run.mark("cold")

        # Untimed check of the cold pass: each landed table equals the batch
        # cleaning of the same records, so T4-T11 (deterministic in their
        # input rows) equal T4-T11 over clean_*(to_dataframes(n, seed)); and
        # the KMV state assembles to the batch KMV over the same events.
        p0 = os.path.join(run.work_dir, "p0")
        raw = dict(zip(STREAM_TABLES, to_dataframes(spark, STREAM_RECORDS, run.seed)))
        pairs = {
            t: (spark.read.schema(CLEAN_SCHEMAS[t]).parquet(os.path.join(p0, t)),
                SP.CLEANERS[t](raw[t]))
            for t in STREAM_TABLES
        }
        pairs["kmv"] = (SP.incremental_kmv(spark, os.path.join(p0, "state")),
                        ev_kmv_distinct_users(spark, data_dir))
        for n, (got, want) in pairs.items():
            cols = want.columns  # the KMV sides name the group differently
            bad = oracle.mismatch(oracle.canonical(cols, got.collect()),
                                  oracle.canonical(cols, want.collect()))
            if bad:
                run.outcomes.wrong(n, bad)
            else:
                run.outcomes.ok()
        run.mark("reference")

        passes = []

        def one_pass(p: int) -> None:
            root = os.path.join(run.work_dir, f"p{p + 1}")
            try:
                res = _stream_pass(run, spark, src, root, f"p{p + 1}",
                                   run.traced_pass(p))
            except Exception as exc:
                run.outcomes.raised(f"pass{p + 1}", exc)
                return
            run.outcomes.ok()
            passes.append(res)
            shutil.rmtree(root, ignore_errors=True)

        # a traced run needs one ABBA cycle
        run.warm_loop(one_pass, 4 if run.trace else STREAM_WARM_PASSES)
        run.mark("warm")
        run.peak_rss(spark)
        untraced = [r for r in passes if not r["traced"]]
        if not untraced:
            raise RuntimeError("no warm pass completed")
        run.e2e["warm_s"] = statistics.median(r["pass_s"] for r in untraced)
        run.record["passes"] = [{k: v for k, v in r.items() if k != "progress"}
                                for r in passes]
        run.record["cold_pass_s"] = cold["pass_s"]
        if run.trace:
            _stream_layers(run, passes)
            run.layer["exec.spill_bytes"] = hooks.spill_bytes(spark)
    finally:
        sess.close()


def _stream_layers(run: Run, passes: list[dict]) -> None:
    med = statistics.median
    L = run.layer
    traced = [r for r in passes if r["traced"]]
    untraced = [r for r in passes if not r["traced"]]
    batches = [b for r in passes for q in r["progress"].values() for b in q]
    kmv = [b for r in passes for b in r["progress"]["kmv"]]
    n_pass = len(passes)
    L["streaming.batches"] = len(batches) / n_pass
    L["streaming.input_rows"] = sum(b["rows"] for b in batches) / n_pass
    L["streaming.ingest_rows_per_s"] = (
        sum(b["rows"] for b in batches) / sum(r["stream_s"] for r in passes)
    )
    trig = [b["triggerExecution"] for b in batches]
    L["streaming.batch_p50_ms"] = percentile(trig, 50)
    L["streaming.batch_p90_ms"] = percentile(trig, 90)
    for key, name in (("addBatch", "add_batch_ms"),
                      ("queryPlanning", "query_planning_ms"),
                      ("walCommit", "wal_commit_ms"),
                      ("latestOffset", "latest_offset_ms"),
                      ("commitOffsets", "commit_offsets_ms")):
        L[f"streaming.{name}"] = statistics.fmean(b[key] for b in batches)
    L["state.kmv_add_batch_ms"] = statistics.fmean(b["addBatch"] for b in kmv)
    L["state.kmv_assemble_s"] = med(r["kmv_assemble_s"] for r in passes)
    L["operators.analytics.query_s"] = med(r["analytics_s"] for r in passes)
    last = traced[-1] if traced else None
    if last:
        L["sink.files"] = sum(f for f, _ in last["sink"])
        L["sink.bytes"] = sum(b for _, b in last["sink"])
        L["state.kmv_files"], L["state.kmv_bytes"] = last["state"]
        for k, v in last["exec"].items():
            L[f"exec.{k}"] = v
        L["trace.overhead_s"] = (med(r["pass_s"] for r in traced)
                                 - med(r["pass_s"] for r in untraced))
    for k in PER_LAYER:
        L.setdefault(k, 0.0)


RUNNERS = {
    "pin_stream_etl": run_pin_stream_etl,
    "olap_action": run_olap_action,
    "iterative_builder": run_iterative_builder,
}
