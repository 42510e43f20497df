"""Spark's own hooks, read from outside the package, and the span tracer.

Everything here reads state Spark already keeps with the UI disabled:

- the SQL status store (``sharedState().statusStore()``): how many SQL
  executions ran, so a builder's eager jobs can be counted;
- ``queryExecution().tracker().phases()``: Catalyst analysis,
  optimization and planning time of one plan;
- the application status store's executor summary: tasks, task time and
  shuffle bytes, cumulative for the application;
- the stage list, for spilled bytes;
- ``StreamingQueryProgress``: per micro-batch durations and row counts;
- ``/proc``: resident-memory high-water marks of the JVM and this process.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

PHASES = ("analysis", "optimization", "planning")
STREAM_DURATIONS = (
    "addBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets",
)


def sql_execs(spark: SparkSession) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def catalyst_phases_ms(df: DataFrame) -> dict[str, float]:
    """Plan ``df`` physically and return its Catalyst phase times (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        got = phases.get(p)
        out[p] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


def _status_store(spark: SparkSession):
    return spark.sparkContext._jsc.sc().statusStore()


def exec_totals(spark: SparkSession) -> dict[str, float]:
    """Cumulative task count, task run time (s) and shuffle-write bytes of
    the application (all executors; one in local mode)."""
    execs = _status_store(spark).executorList(True)
    tot = {"tasks": 0.0, "executor_run_s": 0.0, "shuffle_write_bytes": 0.0}
    for i in range(execs.size()):
        e = execs.apply(i)
        tot["tasks"] += e.totalTasks()
        tot["executor_run_s"] += e.totalDuration() / 1000
        tot["shuffle_write_bytes"] += e.totalShuffleWrite()
    return tot


def spill_bytes(spark: SparkSession) -> float:
    """Memory plus disk bytes spilled over every retained stage."""
    gw = spark.sparkContext._gateway
    stages = _status_store(spark).stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    return float(sum(
        stages.apply(i).memoryBytesSpilled() + stages.apply(i).diskBytesSpilled()
        for i in range(stages.size())
    ))


def batch_progress(query) -> list[dict[str, float]]:
    """One record per micro-batch that read input: its trigger duration,
    the ``durationMs`` components and its input rows."""
    out = []
    for p in query.recentProgress:
        if p.numInputRows <= 0:
            continue
        d = p.durationMs
        rec = {k: float(d.get(k, 0)) for k in STREAM_DURATIONS}
        rec["triggerExecution"] = float(d["triggerExecution"])
        rec["rows"] = float(p.numInputRows)
        out.append(rec)
    return out


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_usage(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``,
    skipping Spark's hidden metadata and checksum files."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(suffix) and not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


@contextmanager
def no_span(name: str):
    """Records nothing: the untraced side of a paired timing in a traced
    run uses it in place of ``Tracer.span``."""
    yield


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id. Disabled
    tracers record nothing, so untraced runs pay only a no-op context."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent,
                           "run": self.run_id, "start": time.monotonic()})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.monotonic()
