"""Metric catalogue. BENCHMARK.json declares every metric's name and unit;
this module loads them from there and adds, in code, the end-to-end
metrics each per-layer metric should move."""

from __future__ import annotations

import json
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Modules that register the registry queries the two registry workloads
# run, named by their path under the package.
MODULES = (
    "plans.analytics_tpch", "plans.tpch", "plans.tpch_extra", "plans.tpch_more",
    "plans.tpch_rest", "plans.pin_domain", "plans.events", "operators.dedup",
    "operators.graph", "operators.clustering", "operators.similarity",
    "operators.multimodal",
)


def _declared() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(_ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


END_TO_END, PER_LAYER = _declared()  # name -> unit

# per-layer name -> end-to-end metrics it should move
_COLD_WARM = ("cold_s", "warm_s")
MOVES: dict[str, tuple[str, ...]] = {
    "session.get_spark_s": ("setup_s",),
    "session.peak_rss_mb": ("setup_s", "warm_s"),
    "data.load_table_s": ("setup_s", "cold_s"),
}
for _m in MODULES:
    MOVES[f"{_m}.builder_s"] = _COLD_WARM
    MOVES[f"{_m}.builder_cold_s"] = ("cold_s",)
    MOVES[f"{_m}.builder_sql_execs"] = _COLD_WARM
    MOVES[f"{_m}.action_s"] = ("warm_s",)
    MOVES[f"{_m}.split_gap_frac"] = ("warm_s",)
for _k in (
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.sql_execs", "exec.tasks", "exec.executor_run_s",
    "exec.shuffle_write_bytes", "exec.spill_bytes",
    "streaming.batches", "streaming.input_rows", "streaming.ingest_rows_per_s",
    "streaming.batch_p50_ms", "streaming.batch_p90_ms",
    "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.latest_offset_ms",
    "streaming.commit_offsets_ms",
    "state.kmv_add_batch_ms", "state.kmv_files", "state.kmv_bytes",
    "state.kmv_assemble_s", "sink.files", "sink.bytes",
    "operators.analytics.query_s", "trace.overhead_s",
):
    MOVES[_k] = ("warm_s",)


def render(values: dict[str, float], units: dict[str, str]) -> dict:
    """The ``metrics`` object of the result line: every declared metric,
    each with its unit. A declared metric the run did not produce is an
    error, not a silent zero."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
