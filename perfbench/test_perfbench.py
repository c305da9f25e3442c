"""Unit tests for the benchmark's own helpers; no Spark session.

    python3 -m pytest perfbench -q
"""

import math
from contextlib import nullcontext

import pyarrow as pa
import pytest

import run
from metrics import (
    E2E_UNITS,
    PER_LAYER_UNITS,
    OpLog,
    OpRecord,
    load_benchmark,
    percentile,
    rate,
    ratio,
    result_line,
    summarize,
    tail,
)
from workloads import Op


@pytest.mark.parametrize(
    "n, label",
    [(19, None), (49, None), (50, "p80"), (99, "p80"), (100, "p90"),
     (199, "p90"), (200, "p95"), (999, "p95"), (1000, "p99")],
)
def test_tail_needs_ten_samples_beyond(n, label):
    got, value = tail([float(i) for i in range(1, n + 1)])
    assert got == label
    if label is None:
        assert math.isnan(value)
    else:
        p = int(label[1:])
        assert value == percentile(range(1, n + 1), p)
        assert sum(1 for i in range(1, n + 1) if i > value) >= 10


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 90) == 90
    assert percentile(xs, 50) == 50
    assert percentile([5.0], 99) == 5.0


def test_rates_and_ratios():
    assert rate(10, 4) == 2.5
    assert math.isnan(rate(3, 0))
    assert ratio(3, 4) == 0.75
    assert ratio(3, 0) == 0.0


def _rec(kind, ms, read=True, ok=True, rows=0, family="postings", path="scan"):
    return OpRecord(kind, family, read, path, ms / 1000, rows=rows, ok=ok)


def test_summarize_arithmetic():
    log = OpLog()
    for ms in (10, 20, 30):
        log.add(_rec("a", ms))
    for ms in (100, 300):
        log.add(_rec("b", ms, family="stats", path="indexed"))
    for ms in (50, 150):
        log.add(_rec("w", ms, read=False, rows=1000, family="merge", path=""))
    m, notes = summarize(log, wall_s=2.0)
    assert m["ops_per_s"] == 3.5
    assert m["mix_total_ms"] == pytest.approx(20 + 200 + 100)
    assert m["read_p50_ms"] == pytest.approx(30)
    assert m["postings_p50_ms"] == pytest.approx(20)
    assert m["stats_p50_ms"] == pytest.approx(200)
    assert m["scan_p50_ms"] == pytest.approx(20)
    assert m["indexed_p50_ms"] == pytest.approx(200)
    assert m["write_p50_ms"] == pytest.approx(100)
    assert m["write_rows_per_s"] == pytest.approx(2000 / 0.2)
    assert "read_tail_ms" not in m and notes["read_tail"] is None
    assert m["error_rate"] == 0.0
    assert m["mix_wall_ms"] == m["mix_total_ms"]  # no CPU ticks recorded


def test_mix_total_is_scaled_by_granted_cpu_share():
    log = OpLog(cpu_ticks=(90, 10, 400))  # busy, steal, total
    for ms in (100, 200, 300):
        log.add(_rec("a", ms))
    m, notes = summarize(log, wall_s=1.0)
    assert m["mix_wall_ms"] == pytest.approx(200)
    assert m["mix_total_ms"] == pytest.approx(200 * 0.9)
    assert notes["cpu_share"] == 0.9 and notes["steal_share"] == 0.025


class _NoTracer:
    def set_op(self, op_id):
        pass

    def span(self, name, layer):
        return nullcontext()


class _Planted:
    """Four ops per cycle: two right, one wrong result, one raising."""

    def __init__(self):
        self.obs = {}

    def cycle(self):
        table = pa.table({"x": [1, 2]})
        yield Op("good", "postings", True, lambda: table, lambda t: True)
        yield Op("wrong", "postings", True, lambda: table, lambda t: False)
        yield Op("raises", "stats", True, lambda: 1 / 0, lambda t: True)
        yield Op("write", "merge", False, lambda: None, lambda t: True,
                 rows=5)


def test_error_rate_counts_planted_wrong_result_and_raise():
    log, wall = run.timed_phase(_Planted(), 0.0, _NoTracer())
    assert log.attempted == 4 and log.failed == 2
    assert log.error_rate() == 0.5
    errors = {r.kind: r.error for r in log.records}
    assert errors["wrong"] == "wrong result"
    assert errors["raises"].startswith("ZeroDivisionError")
    assert errors["good"] == errors["write"] == ""
    assert [r.result_rows for r in log.records] == [2, 2, 0, 0]
    m, _ = summarize(log, wall)
    assert m["error_rate"] == 0.5


def test_benchmark_json_names_match_printed_metrics():
    bench = load_benchmark()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for m in bench["end_to_end"]:
        assert E2E_UNITS[m["name"]] == m["unit"], m
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_workload_classes_match_names():
    from workloads import WORKLOADS

    assert tuple(WORKLOADS) == run.WORKLOADS


def test_result_line_prints_exactly_the_declared_metrics():
    import json

    declared = load_benchmark()["end_to_end"]
    values = {m["name"]: 1.5 for m in declared}
    values["not_declared"] = 2.0
    out = json.loads(result_line(3, 1, values, declared))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is False and out["attempted"] == 3
    assert list(out["metrics"]) == [m["name"] for m in declared]
    del values[declared[0]["name"]]
    with pytest.raises(KeyError):
        result_line(3, 0, values, declared)
