"""A/B experiment: is the elevated calib_phase stamp (r10: 0.76-0.91 s
vs 0.20 s calib_end in ONE run) in-phase machine contention or a probe
artifact?

Two candidate artifacts (r10 VERDICT "What's missing" #3):
  (a) GC debt — bench.py calls ``_jvm_gc()`` before every timed query
      rep but NOT before a phase stamp, so the stamp's allocations pay
      the preceding phase's old-gen collection inside its window;
  (b) async drain — a real phase leaves persisted relations and a busy
      ContextCleaner (broadcast/RDD cleanup runs AFTER collect returns),
      contending with a single-rep probe; best-of-3 brackets shed both
      effects in rep 1, which is why calib_end reads idle.

Protocol: run a REAL registry phase (the first ~15 driver queries at
$SPARK_GRAFT_SF_DIR, same session config as bench), then probe in
sequence with NO cleanup between:
    p1 = reps=1 immediately   (r10 stamp behavior)
    p2 = reps=1 again         (drain check: p2 << p1 -> transient)
    jvm gc
    p3 = reps=1 after gc      (GC-debt check)
    p4 = reps=3               (bracket behavior)
vs an idle best-of-3 before the phase.  Read:
    p1 high, p2/p3 ~ idle  -> artifact (first probe absorbs debt/drain)
    p1 ~ p2 ~ p3 high      -> sustained contention during the phase
Result is one JSON line; the measured row lives in SCALE.md ("Bench
observability").
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import _calibration, _materialize
    from polars_w_inverted_index_spark import registry
    from polars_w_inverted_index_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("calib-phase-ab")

    def _jvm_gc():
        gc.collect()
        spark._jvm.System.gc()

    names = list(registry.QUERIES)[:15]

    # warm-up pass, same as bench (JIT, codegen cache, file footers)
    for n in names:
        _materialize(registry.QUERIES[n](spark, sf_dir))
    _jvm_gc()
    idle = _calibration(spark, reps=3)

    # the REAL phase: timed pass, _jvm_gc before each query like bench
    for n in names:
        _jvm_gc()
        _materialize(registry.QUERIES[n](spark, sf_dir))

    p1 = _calibration(spark, reps=1)   # r10 stamp: immediate, single rep
    p2 = _calibration(spark, reps=1)   # drain check
    _jvm_gc()
    p3 = _calibration(spark, reps=1)   # GC-debt check
    p4 = _calibration(spark, reps=3)   # bracket behavior

    print(json.dumps({
        "sf_dir": sf_dir,
        "idle_best3": idle,
        "p1_immediate_rep1": p1,
        "p2_second_rep1": p2,
        "p3_after_gc_rep1": p3,
        "p4_best3": p4,
        "read": (
            "p1 high with p2/p3 ~ idle -> artifact; "
            "p1~p2~p3 high -> sustained contention"
        ),
        "ts": time.strftime("%Y-%m-%d"),
    }))


if __name__ == "__main__":
    main()
