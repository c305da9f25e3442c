"""Spans around the calls the benchmark makes into each layer.

A span records its name, layer, start, end, parent and op id, the py4j
commands sent while it was open, and the status-store counters of the
Spark jobs it ran.  Jobs are attributed by giving every span its own job
group; a span's own counters come from its group, and its inclusive
counters add its children's.  Spans stay in memory and are written out
once, when the run ends.

While the tracer is disabled, :meth:`Tracer.span` costs one attribute
check.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# status-store counters summed over the stages a span ran
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "result_bytes": "resultSize",
}
COUNTERS = ("py4j", "jobs", "stages", "gc_ms", *STAGE_FIELDS, "peak_mem")


class Span:
    __slots__ = ("id", "parent", "op", "name", "layer", "start", "end",
                 "own", "attrs", "children")

    def __init__(self, sid, parent, op, name, layer, start):
        self.id = sid
        self.parent = parent
        self.op = op
        self.name = name
        self.layer = layer
        self.start = start
        self.end = start
        self.own = dict.fromkeys(COUNTERS, 0)
        self.attrs: dict = {}
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def total(self, key: str):
        """Inclusive counter: own plus every descendant's."""
        vals = [self.own[key]] + [c.total(key) for c in self.children]
        return max(vals) if key == "peak_mem" else sum(vals)

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "op": self.op,
            "name": self.name, "layer": self.layer,
            "start": self.start, "end": self.end,
            "self_s": self.self_time,
            "counters": {k: self.total(k) for k in COUNTERS},
            "attrs": self.attrs,
        }


class Tracer:
    """Records spans while enabled; while disabled every call is a no-op
    and py4j commands are not intercepted."""

    def __init__(self, spark):
        self.enabled = False
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._op = None
        self._t0 = time.perf_counter()
        self._spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._client = None
        self._py4j = 0
        self._paused = 0

    def enable(self) -> None:
        """Start recording.  Every py4j command this process sends is
        counted by wrapping the gateway client's ``send_command`` (an
        instance attribute, so every JavaObject sharing the client goes
        through it)."""
        if self.enabled:
            return
        self._gc_beans = list(
            self._spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        client = self._sc._gateway._gateway_client
        orig = client.send_command

        def counting(*args, **kwargs):
            if not self._paused:
                self._py4j += 1
            return orig(*args, **kwargs)

        client.send_command = counting
        self._client = client
        self.enabled = True

    def disable(self) -> None:
        if self._client is not None:
            del self._client.send_command
            self._client = None
        self.enabled = False

    @contextmanager
    def _own(self):
        """Bookkeeping block: its py4j calls and time are the tracer's."""
        t = time.perf_counter()
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1
            self.overhead_s += time.perf_counter() - t

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def set_op(self, op_id) -> None:
        self._op = op_id

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        with self._own():
            parent = self._stack[-1] if self._stack else None
            sp = Span(next(self._ids), parent.id if parent else None,
                      self._op, name, layer, 0.0)
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            group = f"perfbench-{sp.id}"
            self._sc.setLocalProperty("spark.jobGroup.id", group)
            gc0 = self._gc_ms()
            py0 = self._py4j
            (parent.children if parent else self.spans).append(sp)
            self._stack.append(sp)
            sp.start = time.perf_counter() - self._t0
        try:
            yield sp
        finally:
            end = time.perf_counter() - self._t0
            with self._own():
                sp.end = end
                self._stack.pop()
                sp.own["py4j"] = self._py4j - py0 - sum(
                    c.total("py4j") for c in sp.children
                )
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self._read_jobs(sp, group)
                sp.own["gc_ms"] = self._gc_ms() - gc0 - sum(
                    c.total("gc_ms") for c in sp.children
                )

    def _read_jobs(self, sp: Span, group: str) -> None:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        if not jobs:
            return
        # the status store is fed by the listener bus: drain it so the
        # stages of jobs that just finished are all recorded
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        sp.own["jobs"] = len(jobs)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                sp.own["stages"] += 1
                for key, attr in STAGE_FIELDS.items():
                    sp.own[key] += getattr(sd, attr)()
                sp.own["peak_mem"] = max(
                    sp.own["peak_mem"], sd.peakExecutionMemory()
                )

    def walk(self, spans=None):
        for sp in self.spans if spans is None else spans:
            yield sp
            yield from self.walk(sp.children)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [sp.as_dict() for sp in self.walk()]}, f
            )


def span_metrics(tracer: Tracer) -> dict:
    """Per-layer metrics from the op spans (layer ``op``) and everything
    under them: counters per op, catalog lookups, plan build time and self
    time per layer."""
    from metrics import MB, SELF_LAYERS, ratio

    ops = [s for s in tracer.spans if s.layer == "op"]
    n = len(ops)

    def per_op(key: str, scale: float = 1.0) -> float:
        return ratio(sum(s.total(key) for s in ops), n) / scale

    nodes = [(s, None) for s in ops]
    flat = []
    while nodes:
        sp, parent = nodes.pop()
        flat.append((sp, parent))
        nodes.extend((c, sp) for c in sp.children)
    lookups = [s for s, p in flat if s.name.startswith("catalog.lookup")
               and (p is None or p.layer != "catalog")]
    plans = [s for s, _ in flat if s.layer == "plan" and s.name.startswith("plan.")]
    searches = [s for s in ops if s.name == "ann_search"]
    out = {
        "session.jobs_per_op": per_op("jobs"),
        "session.stages_per_op": per_op("stages"),
        "session.tasks_per_op": per_op("tasks"),
        "py4j.calls_per_op": per_op("py4j"),
        "plan.build_ms": ratio(sum(s.dur for s in plans), len(plans)) * 1000,
        "catalog.lookup_ms": ratio(sum(s.dur for s in lookups), len(lookups))
        * 1000,
        "catalog.hit_ratio": ratio(
            sum(1 for s in lookups if s.attrs.get("hit")), len(lookups)),
        "scan.input_mb_per_op": per_op("input_bytes", MB),
        "exec.run_ms_per_op": per_op("run_ms"),
        "exec.cpu_ms_per_op": per_op("cpu_ns", 1e6),
        "shuffle.write_mb_per_op": per_op("shuffle_write_bytes", MB),
        "shuffle.read_mb_per_op": per_op("shuffle_read_bytes", MB),
        "exec.peak_mem_mb": max((s.total("peak_mem") for s in ops), default=0)
        / MB,
        "exec.spill_mb": sum(s.total("spill_bytes") for s in ops) / MB,
        "jvm.gc_ms_per_op": per_op("gc_ms"),
        "ann.jobs_per_search": ratio(
            sum(s.total("jobs") for s in searches), len(searches)),
    }
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms_per_op"] = ratio(
            sum(s.self_time for s, _ in flat if s.layer == layer), n) * 1000
    out["_input_records"] = sum(s.total("input_records") for s in ops)
    return out
