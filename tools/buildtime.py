"""Builder-call time sweep: how long does CONSTRUCTING each gated query's
DataFrame take (pure driver/py4j plan-graph build, no action)?

A Spark action inside a builder or a huge Column-algebra chain is re-paid on
every bench rep (bench.py calls the builder per rep), so builder time is
real bench time. This sweep names the rows worth the F.expr / builder-memo
treatment (guide §5 "the driver should do almost no data work"). Next to
each build time it prints how many SQL executions the builder fired, read
from Spark's SQL status store, how many generated classes those
executions compiled (Spark's CodegenMetrics), and how many planning-state
memo lookups hit and missed (data.memo_stats): on the first (cold) build,
which fills the memos, and on the timed (warm) builds. A warm build that
compiles classes is timing Janino, not the builder; a warm build should
show 0 memo misses.

Usage:
    python tools/buildtime.py                # all registry queries, 2 reps
    python tools/buildtime.py q1 q2          # named queries
    BUILD_REPS=3 BUILD_SF_DIR=... python tools/buildtime.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from pinterest_data_pipeline218_spark.data import memo_stats  # noqa: E402
from pinterest_data_pipeline218_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    reps = int(os.environ.get("BUILD_REPS", "2"))
    sf_dir = os.environ.get("BUILD_SF_DIR", "/root/testdata/sf0.1")
    qs = E.queries()
    if not names:
        names = list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark()
    out = []
    for n in names:
        # warm-up build (imports, first-touch caches, memo fills)
        _, cold, cold_cg, cold_memo = _timed(qs[n], spark, sf_dir)
        runs = [_timed(qs[n], spark, sf_dir) for _ in range(reps)]
        best, warm, warm_cg, warm_memo = min(runs)
        out.append((best, warm, cold, warm_cg, cold_cg, warm_memo, cold_memo, n))
    out.sort(reverse=True)
    for t, warm, cold, warm_cg, cold_cg, warm_memo, cold_memo, n in out:
        print(
            f"BUILD {t:7.3f}s sql {warm:2d} (cold {cold:2d}) "
            f"compiles {warm_cg:3d} (cold {cold_cg:3d}) "
            f"memo hit/miss {warm_memo[0]}/{warm_memo[1]} "
            f"(cold {cold_memo[0]}/{cold_memo[1]}) {n}"
        )


def last_sql_execution(spark) -> int:
    """Id of the newest SQL execution in the session's status store, -1
    before the first. Ids only grow, so the difference of two readings
    counts the executions between them even after the store has evicted
    old ones (spark.sql.ui.retainedExecutions caps executionsCount)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    while n := store.executionsCount():
        newest = store.executionsList(n - 1, 1)
        # empty only if an eviction ran between the two reads: read again
        if newest.nonEmpty():
            return newest.head().executionId()
    return -1


def memo_lookups(spark) -> tuple[int, int]:
    """(hits, misses) of the session's planning-state memo, summed over
    its namespaces."""
    stats = memo_stats(spark).values()
    return sum(s["hits"] for s in stats), sum(s["misses"] for s in stats)


def _timed(fn, spark, sf_dir) -> tuple[float, int, int, tuple[int, int]]:
    """(seconds, SQL executions, compiled classes, (memo hits, memo
    misses)) of one builder call."""
    e0, c0 = last_sql_execution(spark), codegen_compiles(spark)
    h0, m0 = memo_lookups(spark)
    t0 = time.monotonic()
    fn(spark, sf_dir)
    dt = time.monotonic() - t0
    h1, m1 = memo_lookups(spark)
    return (
        dt,
        last_sql_execution(spark) - e0,
        codegen_compiles(spark) - c0,
        (h1 - h0, m1 - m0),
    )


if __name__ == "__main__":
    main()
