"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:

- **AQE on** (`spark.sql.adaptive.*`): runtime coalescing of shuffle
  partitions, skew-join splitting, and dynamic join-strategy switching are the
  mechanism by which a plan written at sf0.001 keeps working at 100 TB.
- **Shuffle partitions sized to cores locally**; on a real cluster this is
  deliberately left to AQE's coalescing from a high initial number.
- **UTC session timezone** so timestamp semantics are engine-independent
  (the DuckDB correctness oracle uses naive/UTC timestamps).
- **Arrow enabled** for the few Pandas-UDF paths (multimodal decode), so
  Python exchange is columnar-batched, never row-at-a-time pickling.
- **Generated-class cache sized to the session's working set**
  (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). The cache
  is least-recently-used, and one pass of a mixed query set reuses more
  than 100 generated classes: ~135-140 for the ten `olap_action`
  benchmark rows, ~130 for the stream pipeline plus T4-T11, and 130 for
  `corpus_build_full` alone (sf0.01, counted by Spark's
  `CodegenMetrics`). At 100 each class is evicted before its next use,
  so every warm pass recompiled 56-130 classes with Janino and
  JIT-compiled them again. 512 holds those working sets, not the whole
  registry (3,699 classes in one pass over it). A class costs at most
  ~33 KB of metaspace (that pass grew it by 122 MB), so the cap holds
  under ~17 MB; after the pass, metaspace was 193.5 MB against
  191.3 MB at 100 and JIT code heap 124.7 MB against 121.0 MB. The
  setting is static: it takes effect only when the builder launches
  the JVM.
- **Driver memory fits the host**: half its RAM, at most 16g, unless
  `$SPARK_DRIVER_MEMORY` says otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """Half the host's physical memory, at most 16g."""
    try:
        ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "16g"
    return f"{min(16 * 1024, ram_mb // 2)}m"


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled in this JVM so far (Spark's
    `CodegenMetrics`). A warm re-execution that moves it missed the
    generated-class cache: the cache is too small for the working set,
    or the query generates different code on every execution."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(
    app_name: str = "pinterest_data_pipeline218_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    par = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{par}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) (the events table) is not a legal Spark
        # type; read as raw int64 nanos and convert at the scan (data.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # above one pass's generated classes (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
