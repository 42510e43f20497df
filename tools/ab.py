"""Interleaved A/B timer for gated queries (optimization-round harness).

Times named registry queries inside ONE warm Spark session with the noop
sink, interleaving reps across queries so host-contention drift hits every
variant equally (the BASELINE.md §2 discipline: never compare across
sessions). Prints per-query reps + median, and the generated classes each
rep compiled: a warm rep that compiles classes times Janino and the JIT,
not the query (cache thrash, or a plan whose generated code differs per
execution). Exits nonzero on unknown names.

Usage:
    python tools/ab.py q1 q2 ...            # default 5 reps
    AB_REPS=7 python tools/ab.py q1 q2
    AB_SF_DIR=/root/testdata/sf0.1 python tools/ab.py q1
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from pinterest_data_pipeline218_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    # dedupe while preserving order (ADVICE r15): duplicate names collapse
    # into one dict key and would silently double that query's reps per pass
    names = list(dict.fromkeys(a for a in sys.argv[1:] if not a.startswith("-")))
    reps = int(os.environ.get("AB_REPS", "5"))
    sf_dir = os.environ.get("AB_SF_DIR", "/root/testdata/sf0.1")
    qs = E.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark()
    times: dict[str, list[float]] = {n: [] for n in names}
    compiles: dict[str, list[int]] = {n: [] for n in names}
    for n in names:  # one untimed warm-up each (codegen/JIT)
        spark.sparkContext.setJobDescription(f"ab-warmup:{n}")
        force(qs[n](spark, sf_dir))
    for r in range(reps):
        # alternate order between reps: running variants back-to-back warms
        # OS/JIT state for whichever runs second — a fixed order reads as a
        # systematic win for the later variant (measured r15)
        seq = names if r % 2 == 0 else list(reversed(names))
        for n in seq:
            spark.sparkContext.setJobDescription(f"ab:{n}:rep{r}")
            c0, t0 = codegen_compiles(spark), time.monotonic()
            force(qs[n](spark, sf_dir))
            times[n].append(time.monotonic() - t0)
            compiles[n].append(codegen_compiles(spark) - c0)
    print()
    for n in names:
        ts = times[n]
        print(
            f"AB {n}: median={statistics.median(ts):.3f}s "
            f"min={min(ts):.3f} reps={['%.3f' % t for t in ts]} "
            f"compiles={compiles[n]}"
        )


if __name__ == "__main__":
    main()
