"""Measure LSM read amplification: lookup latency vs segments/bucket
(r10 VERDICT task 6 — pick the ``max_segments_per_bucket`` default with
data, not taste).

``max_segments_per_bucket`` defaulted to None (never auto-compact), so
a naive long-running stream accumulates unbounded segments per bucket —
the compaction-debt failure the module docstring names.  This tool
streams N merges into a chunked single-field index and, at exponential
segment-count checkpoints, times

  - a single-value lookup (the serving shape: filter pushed below the
    chunk merge), and
  - a full logical postings read (the whole-index consumer),

then times the same lookups right after ``compact_index``.  Each merge
appends one segment to every touched bucket (every batch touches all
values here, the worst case), so segments/bucket == merge count at a
checkpoint.  Per-merge wall time is also recorded: the LSM merge is
O(batch), so it should stay flat while lookups degrade — the gap IS the
trade the dial prices.

Prints one JSON line; the measured table lives in SCALE.md.
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    import polars_w_inverted_index_spark.streaming.index_maintenance as im
    from polars_w_inverted_index_spark.session import get_session

    spark = get_session("lsm-read-amp")
    root = tempfile.mkdtemp(prefix="lsm_amp_")
    idx = f"{root}/idx"

    n_values = 50          # every batch touches every bucket (worst case)
    rows_per_merge = 100_000
    checkpoints = [1, 2, 4, 8, 16, 32, 64]

    def batch(i):
        return spark.range(i * rows_per_merge, (i + 1) * rows_per_merge).select(
            F.col("id").alias("event_id"),
            F.concat(F.lit("v"), (F.col("id") % n_values).cast("string"))
            .alias("event_type"),
        )

    def t_lookup():
        t0 = time.perf_counter()
        (
            im.read_index_postings(spark, idx)
            .where(F.col("value") == "v7")
            .select(F.size("doc_ids"))
            .collect()
        )
        return time.perf_counter() - t0

    def t_full():
        t0 = time.perf_counter()
        im.read_index_postings(spark, idx).select(
            F.sum(F.size("doc_ids"))
        ).collect()
        return time.perf_counter() - t0

    rows = []
    merge_times = []
    done = 0
    try:
        for target in checkpoints:
            while done < target:
                t0 = time.perf_counter()
                im.merge_postings_batch(
                    batch(done), "event_type", idx, "event_id",
                    batch_id=done, max_postings_per_row=4096, n_buckets=8,
                    # the dial this tool MEASURES (its data set the r11
                    # default of 16) must be off here, or the 32/64
                    # checkpoints silently report compacted latencies
                    max_segments_per_bucket=None,
                )
                merge_times.append(round(time.perf_counter() - t0, 3))
                done += 1
            frag = im.index_fragmentation(idx)
            rows.append({
                "segments_per_bucket": frag["max_segments_per_bucket"],
                "lookup_s": round(min(t_lookup(), t_lookup()), 3),
                "full_read_s": round(min(t_full(), t_full()), 3),
                "merge_s_last": merge_times[-1],
            })

        t0 = time.perf_counter()
        im.compact_index(spark, idx)
        compact_s = round(time.perf_counter() - t0, 3)
        frag = im.index_fragmentation(idx)
        compacted = {
            "segments_per_bucket": frag["max_segments_per_bucket"],
            "lookup_s": round(min(t_lookup(), t_lookup()), 3),
            "full_read_s": round(min(t_full(), t_full()), 3),
            "compact_s": compact_s,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(json.dumps({
        "n_values": n_values,
        "rows_per_merge": rows_per_merge,
        "total_rows": done * rows_per_merge,
        "by_fragmentation": rows,
        "after_compact": compacted,
        "merge_s_first5": merge_times[:5],
        "merge_s_last5": merge_times[-5:],
        "ts": time.strftime("%Y-%m-%d"),
    }))


if __name__ == "__main__":
    main()
