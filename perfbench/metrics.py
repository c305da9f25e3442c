"""Pure helpers for the benchmark: latency statistics, rates, ratios, the
op log and the result line.  Nothing here imports Spark, so the unit tests
in ``test_perfbench.py`` run in a second."""

from __future__ import annotations

import json
import math
import os
import statistics
from dataclasses import dataclass, field

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)

# Percentiles tried for a tail figure, highest first.  A percentile is
# reported only when at least TAIL_MIN_BEYOND samples lie beyond it.
TAIL_PERCENTILES = (99, 95, 90, 80)
TAIL_MIN_BEYOND = 10

# End-to-end metrics every workload prints, with their units.  The gated
# subset is the one BENCHMARK.json lists; the rest exist on one workload
# only, are 0 when the program is correct, or spread too widely from run
# to run to gate (README.md).
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "mix_total_ms": "ms",
    "mix_wall_ms": "ms",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "postings_p50_ms": "ms",
    "stats_p50_ms": "ms",
    "scan_p50_ms": "ms",
    "indexed_p50_ms": "ms",
    "write_p50_ms": "ms",
    "write_tail_ms": "ms",
    "write_rows_per_s": "rows/s",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
    "space_amp": "ratio",
}

# Per-layer metrics of a traced run.  Layers a workload does not exercise
# read 0 (no catalog lookups on a workload without a catalog, and so on).
SELF_LAYERS = ("op", "plan", "catalog", "collect", "index_maintenance", "ann")
TRACE_OVERHEAD = ("ops_per_s", "read_p50_ms", "mix_total_ms")
PER_LAYER_UNITS = {
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "py4j.calls_per_op": "count",
    "plan.build_ms": "ms",
    "catalog.lookup_ms": "ms",
    "catalog.hit_ratio": "ratio",
    "catalog.build_s": "s",
    "scan.input_mb_per_op": "MB",
    "scan.records_per_result_row": "ratio",
    "exec.run_ms_per_op": "ms",
    "exec.cpu_ms_per_op": "ms",
    "shuffle.write_mb_per_op": "MB",
    "shuffle.read_mb_per_op": "MB",
    "exec.peak_mem_mb": "MB",
    "exec.spill_mb": "MB",
    "collect.result_mb": "MB",
    "collect.rows_per_op": "count",
    "jvm.gc_ms_per_op": "ms",
    "sources.write_s": "s",
    "sources.rows_per_s": "rows/s",
    "sources.mb_written": "MB",
    "merge.ms": "ms",
    "merge.write_amp": "ratio",
    "compact.count": "count",
    "compact.ms": "ms",
    "index.segments_per_bucket": "count",
    "ann.ingest_ms": "ms",
    "ann.fold_count": "count",
    "ann.fold_ms": "ms",
    "ann.delta_dirs_per_cell": "count",
    "ann.jobs_per_search": "count",
    "ann.recall_at_k": "ratio",
    **{f"self.{layer}_ms_per_op": "ms" for layer in SELF_LAYERS},
    "trace.self_ms_per_op": "ms",
    **{f"trace.overhead.{m}": E2E_UNITS[m] for m in TRACE_OVERHEAD},
}
MB = 2**20


def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        return float("nan")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[rank - 1])


def beyond(n: int, p: float) -> int:
    """Samples strictly beyond the nearest-rank ``p``-th percentile of ``n``."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values) -> tuple[str | None, float]:
    """``(label, value)`` of the highest of p99/p95/p90/p80 that has at
    least ten samples beyond it, or ``(None, nan)`` when the sample is too
    small for any of them."""
    for p in TAIL_PERCENTILES:
        if beyond(len(values), p) >= TAIL_MIN_BEYOND:
            return f"p{p}", percentile(values, p)
    return None, float("nan")


def rate(count: float, seconds: float) -> float:
    return count / seconds if seconds > 0 else float("nan")


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0.0 when nothing was attempted (``den == 0``)."""
    return num / den if den else 0.0


@dataclass
class OpRecord:
    kind: str  # op name within the workload's mix
    family: str  # "postings", "stats", "search", "merge", "ingest"
    read: bool
    path: str  # "scan" (base table), "indexed" (catalog) or "" (neither)
    latency_s: float
    rows: int = 0  # rows committed by a write op
    ok: bool = True  # False: raised, or its result failed the oracle
    error: str = ""
    result_rows: int = 0  # rows a read op collected
    result_bytes: int = 0
    notes: dict = field(default_factory=dict)  # e.g. compacted, folded


@dataclass
class OpLog:
    records: list[OpRecord] = field(default_factory=list)
    cpu_ticks: tuple = (0, 0, 0)  # busy, steal, total over the phase

    def add(self, rec: OpRecord) -> None:
        self.records.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r.ok)

    def error_rate(self) -> float:
        return ratio(self.failed, self.attempted)

    def ms(self, pred) -> list[float]:
        return [r.latency_s * 1000.0 for r in self.records if pred(r)]


def summarize(log: OpLog, wall_s: float) -> tuple[dict, dict]:
    """End-to-end figures of one timed phase: ``(metrics, notes)``.
    Metrics a phase does not exercise (no writes, no stats ops) are left
    out; ``notes`` records sample counts and which tail percentile was
    used."""
    reads = log.ms(lambda r: r.read)
    writes = log.ms(lambda r: not r.read)
    out: dict[str, float] = {
        "ops_per_s": rate(log.attempted - log.failed, wall_s),
        "error_rate": log.error_rate(),
    }
    notes: dict[str, object] = {"ops": log.attempted, "reads": len(reads),
                                "writes": len(writes), "wall_s": wall_s}
    kinds = sorted({r.kind for r in log.records})
    out["mix_wall_ms"] = sum(
        median(log.ms(lambda r, k=k: r.kind == k)) for k in kinds
    )
    # the gated figure: the wall-clock mix scaled by the share of the CPU
    # time the phase asked for that the hypervisor granted, so that other
    # guests' load on the host does not read as a slower program
    busy, steal, total = log.cpu_ticks
    cpu_share = ratio(busy, busy + steal) if busy else 1.0
    out["mix_total_ms"] = out["mix_wall_ms"] * cpu_share
    notes["cpu_share"] = round(cpu_share, 4)
    notes["steal_share"] = round(ratio(steal, total), 4)
    if reads:
        out["read_p50_ms"] = median(reads)
        label, value = tail(reads)
        notes["read_tail"] = label
        if label:
            out["read_tail_ms"] = value
    for fam in ("postings", "stats"):
        xs = log.ms(lambda r, f=fam: r.family == f)
        if xs:
            out[f"{fam}_p50_ms"] = median(xs)
    for path in ("scan", "indexed"):
        xs = log.ms(lambda r, p=path: r.path == p)
        if xs:
            out[f"{path}_p50_ms"] = median(xs)
    if writes:
        out["write_p50_ms"] = median(writes)
        label, value = tail(writes)
        notes["write_tail"] = label
        if label:
            out["write_tail_ms"] = value
        out["write_rows_per_s"] = rate(
            sum(r.rows for r in log.records if not r.read),
            sum(writes) / 1000.0,
        )
    return out, notes


def load_benchmark(path: str = BENCHMARK_JSON) -> dict:
    with open(path) as f:
        return json.load(f)


def result_line(
    attempted: int, failed: int, values: dict, declared: list[dict]
) -> str:
    """The last stdout line: exactly the metrics ``declared`` (one section
    of BENCHMARK.json), each with its declared unit.  A declared metric
    the run did not produce is an error, not a silent omission."""
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise KeyError(f"run produced no value for {missing}")
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in declared
    }
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_cpu_ticks() -> tuple[int, int, int]:
    """``(busy, steal, total)`` clock ticks of all CPUs since boot, from
    ``/proc/stat``.  Steal is time a virtual CPU was ready to run but the
    hypervisor ran another guest: over a phase, ``steal / (busy + steal)``
    is the share of the CPU time the run asked for that it did not get."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    t += [0] * (8 - len(t))
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7], sum(t)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
