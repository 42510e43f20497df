"""Tests of the benchmark's own arithmetic and catalogue. No Spark.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.stats import (  # noqa: E402
    MIN_BEYOND,
    Outcomes,
    check_layer_map,
    check_names,
    percentile,
    sum_of_medians,
)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(reversed(xs), 90) == 90  # order-insensitive


def test_percentile_refuses_thin_tail():
    # p90 of 99 samples is rank 90: only 9 beyond it
    with pytest.raises(ValueError, match="9 beyond"):
        percentile(range(99), 90)
    # exactly MIN_BEYOND beyond is enough
    assert percentile(range(100), 90) == 89
    with pytest.raises(ValueError):
        percentile(range(MIN_BEYOND), 50)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile(range(100), 100)


def test_sum_of_medians():
    assert sum_of_medians({"a": [3.0, 1.0, 2.0], "b": [10.0, 20.0]}) == 2.0 + 15.0


def test_sum_of_medians_refuses_missing_query():
    with pytest.raises(ValueError, match="b"):
        sum_of_medians({"a": [1.0], "b": []})


def test_failed_frac_counts_exceptions_and_wrong_results():
    o = Outcomes()
    o.ok()
    o.ok()
    o.raised("q1", RuntimeError("boom"))
    o.wrong("q2", "rows 3 != 4")
    assert (o.attempted, o.failed) == (4, 2)
    assert o.failed_frac == 0.5
    assert o.failures[0].startswith("q1: RuntimeError")
    assert o.failures[1].startswith("q2: wrong result")
    assert Outcomes().failed_frac == 0.0


@pytest.mark.parametrize("name", ["warm_s", "plans.tpch.builder_s", "exec.tasks", "a-b"])
def test_valid_names(name):
    check_names([name])


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65])
def test_invalid_names(name):
    with pytest.raises(ValueError):
        check_names([name])


def test_duplicate_names_rejected():
    with pytest.raises(ValueError, match="duplicate"):
        check_names(["a", "a"])


def test_layer_map_rejects_undeclared_target():
    with pytest.raises(ValueError, match="undeclared"):
        check_layer_map({"x.s": ("latency_ms",)}, ["warm_s"])
    with pytest.raises(ValueError, match="moves no"):
        check_layer_map({"x.s": ()}, ["warm_s"])


def test_catalogue_names_valid_and_mapped():
    check_names(list(metrics.END_TO_END) + list(metrics.PER_LAYER))
    assert set(metrics.MOVES) == set(metrics.PER_LAYER)
    check_layer_map(metrics.MOVES, metrics.END_TO_END)


def test_workloads_match_benchmark_json():
    from perfbench.workloads import RUNNERS

    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(RUNNERS)


def test_every_module_has_a_measured_query():
    import __spark_entry__ as entry

    from perfbench.workloads import ITER_ROWS, OLAP_ROWS, _module

    qs = entry.queries()
    assert {_module(qs[n]) for n in OLAP_ROWS + ITER_ROWS} == set(metrics.MODULES)


def test_stored_oracle_covers_every_registry_query():
    from perfbench import oracle
    from perfbench.workloads import ITER_ROWS, OLAP_ROWS

    assert set(oracle.stored()) == set(OLAP_ROWS + ITER_ROWS)


def test_oracle_check_names_the_difference():
    from perfbench import oracle

    canon = (("a",), [("1",), ("2",)])
    want = oracle.summary(canon)
    assert oracle.check(canon, want) is None
    assert oracle.check((("a",), [("1",)]), want) == "rows 1 != 2"
    assert oracle.check((("a",), [("1",), ("3",)]), want).startswith("digest ")
    assert oracle.check((("b",), [("1",), ("2",)]), want).startswith("digest ")


def test_render_refuses_missing_metric():
    with pytest.raises(KeyError, match="cold_s"):
        metrics.render({"setup_s": 1.0}, {"setup_s": "s", "cold_s": "s"})
    assert metrics.render({"setup_s": 1}, {"setup_s": "s"}) == {
        "setup_s": {"value": 1.0, "unit": "s"}
    }
