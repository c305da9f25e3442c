"""Streaming verbatim-span scrubbing (ExactSubstr ingest form).

Completes the span-dedup family the way near_dedup completes MinHash:
each micro-batch is scrubbed against everything seen so far, then the
batch's OWN window counts join the state — a passage first seen in
batch 3 is scrubbed from batch 7 onward (and from batch 3 itself if it
repeats within the batch or reaches ``min_count`` against the corpus).

State = the window-count table (sh, n), committed as per-batch delta
directories under the commit protocol of ``streaming/_commit``:
per-batch commit I/O is O(batch windows), the reader sums duplicate
keys batch-side AFTER its join
(operators/span_dedup.scrub_repeated_spans_against), and the commit
compacts to one aggregated directory when the delta list exceeds
``max_delta_dirs``.  A replayed committed batch_id returns an EMPTY
frame (its rows already flowed downstream once); a behind batch_id
raises.

Unlike near-dedup (which drops whole documents and must not re-emit
them), scrubbing REWRITES rows, so the at-least-once contract matters
doubly: double-counting a replayed batch's windows would inflate
occurrence counts and over-scrub future batches.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.span_dedup import (
    HASH_XXH64,
    _window_rows,
    scrub_repeated_spans_against,
)
from ..plans.distribution import plan_size_bytes
from ._commit import (
    commit_delta,
    committed_batch_id,
    read_marker,
    read_state,
    replayed,
    start_foreach_batch,
)

# A scrub commit is a dozen small exchanges, and AQE runs each one as a
# Spark job of its own.  Below one advisory partition (session.py) of
# batch plus state there is nothing for AQE to re-plan, so the commit
# plans statically.  Measured on the sf0.1 ext_streaming_span_scrub
# bench row (local[4], 26 alternating pairs): 7 jobs instead of 17, and
# a median 22% faster with the gated run first, 15% with it second.
# The other maintenance paths showed no such win in both orders and
# plan adaptively at every size.
TINY_PLAN_BYTES = 64 * 1024 * 1024
# AQE enablement is session-global: two gated commits must not
# interleave their get/set/restore.  A query planned concurrently in
# the same session during a window plans statically too (perf only).
_GATE_LOCK = threading.RLock()


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


@contextmanager
def _static_plan_when_tiny(spark, batch_df, state_path):
    """Disable AQE for the enclosed actions when the batch's optimizer
    estimate plus the state's on-disk bytes are at most
    ``TINY_PLAN_BYTES``; yields whether it did."""
    try:
        size = plan_size_bytes(batch_df) + _dir_bytes(state_path)
    except Exception:
        size = 1 << 62  # unknown: keep AQE
    key = "spark.sql.adaptive.enabled"
    if size > TINY_PLAN_BYTES:
        yield False
        return
    with _GATE_LOCK:
        if spark.conf.get(key, "true") != "true":
            yield False  # already off: an enclosing window restores it
            return
        spark.conf.set(key, "false")
        try:
            yield True
        finally:
            spark.conf.set(key, "true")


def read_window_state(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """Committed window-count table — may repeat ``sh`` across delta
    partitions (consumers sum; the _against operator does) — or None
    before the first commit."""
    return read_state(spark, state_path)


def span_scrub_batch(
    batch_df: DataFrame,
    state_path: str,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
    max_delta_dirs: int = 8,
    delta_partitions: int = 4,
    max_state_files: int | None = 256,
    sink=None,
) -> DataFrame:
    """Scrub one micro-batch against the accumulated window counts and
    commit the batch's own counts; returns the scrubbed rows as a
    lineage-severed frame (safe to use after later commits compact the
    state it was computed from).

    ``sink`` (optional callable receiving the scrubbed frame) runs
    AFTER the scrub materializes but BEFORE the state commit — the
    exactly-once recipe: an IDEMPOTENT sink (overwrite of a per-batch
    directory, as :func:`start_span_scrub` wires) plus commit-last
    means a crash before the commit replays into identical output
    re-written in place, and a crash after it replays into the no-op.
    Sinking after this function returns would open a window where the
    state says committed but the rows never landed anywhere.
    """
    spark = batch_df.sparkSession
    with _static_plan_when_tiny(spark, batch_df, state_path) as gated:
        return _span_scrub_batch_actions(
            batch_df, state_path, k, min_count, text_col, id_col,
            batch_id, max_delta_dirs, delta_partitions, max_state_files,
            sink, gated,
        )


def _span_scrub_batch_actions(
    batch_df, state_path, k, min_count, text_col, id_col, batch_id,
    max_delta_dirs, delta_partitions, max_state_files, sink, gated=False,
):
    spark = batch_df.sparkSession
    meta = read_marker(state_path)
    if meta is not None and meta.get("k") is not None and meta["k"] != k:
        # the ann_search dims-gate discipline: window hashes of
        # different k never match, so a k change would silently stop
        # cross-batch detection while still polluting the counts
        raise ValueError(
            f"state at {state_path} was built with k={meta['k']}, got "
            f"k={k}; rebuild the state or pass the original k."
        )
    if (
        meta is not None
        and meta.get("hash") is not None
        and meta["hash"] != HASH_XXH64
    ):
        # same silent-empty failure as a k mismatch: counts keyed by one
        # hash function never match windows keyed by another.  States
        # from before the field existed were all built with the xxhash64
        # chain (the only path this wrapper has ever used), so a missing
        # field is accepted and stamped on the next commit.
        raise ValueError(
            f"state at {state_path} was built with hash variant "
            f"{meta['hash']!r} but this build keys windows with "
            f"{HASH_XXH64!r}; rebuild the state with the current hash."
        )
    if (
        meta is not None
        and meta.get("min_count") is not None
        and meta["min_count"] != min_count
    ):
        # min_count does not key the state (raw counts are stored), but
        # changing it mid-stream silently alters which spans get
        # scrubbed ACROSS batches of one logical corpus — gate it like k
        # so the change is an explicit rebuild, not a quiet drift.
        raise ValueError(
            f"state at {state_path} was committed with min_count="
            f"{meta['min_count']}, got min_count={min_count}; use a "
            f"fresh state_path to change the scrub threshold."
        )
    if replayed((meta or {}).get("batch_id"), batch_id, state_path):
        # the EXACT output schema (an ad-hoc empty select would reorder
        # columns and break a downstream parquet append)
        return scrub_repeated_spans_against(
            spark.createDataFrame([], "sh long, n long"),
            batch_df.limit(0),
            k,
            min_count,
            text_col,
            id_col,
        )
    corpus = read_window_state(spark, state_path)
    if corpus is None:
        corpus = spark.createDataFrame([], "sh long, n long")
    # ONE window pass feeds both the scrub and the commit counts — the
    # tokenize+hash stage is the dominant narrow cost per batch
    win = _window_rows(batch_df, k, text_col, id_col).persist()
    scrubbed = scrub_repeated_spans_against(
        corpus, batch_df, k, min_count, text_col, id_col,
        _precomputed_windows=win,
    )
    # static planning does not coalesce shuffle outputs, so a sink
    # write would land one tiny file per shuffle partition; the gate
    # only fires on tiny batches, where coalescing is free
    if gated:
        scrubbed = scrubbed.coalesce(max(1, delta_partitions))
    scrubbed = scrubbed.localCheckpoint()
    if sink is not None:
        sink(scrubbed)  # idempotent output BEFORE the commit (see above)

    # commit the ORIGINAL batch's window counts (everything seen, not
    # the scrubbed remainder — future repeats of a passage seen once
    # must reach min_count and be caught).  The delta is O(batch) rows:
    # coalesce to ``delta_partitions`` part-files so a long batch
    # sequence is not a small-files factory (at the default shuffle
    # width every tiny delta would land 32 part-files; every state read
    # lists and opens all of them).  ``max_state_files`` compacts on the
    # live-listing size even before the directory dial trips — the
    # file-count bound a long run holds regardless of batch cadence
    # (r7 VERDICT task 8; test_span_dedup pins the bound).
    batch_counts = win.groupBy("sh").agg(F.count("*").alias("n"))
    commit_delta(
        state_path,
        delta=batch_counts.coalesce(max(1, delta_partitions)),
        compacted=(
            corpus.unionByName(batch_counts)
            .groupBy("sh")
            .agg(F.sum("n").alias("n"))
        ),
        meta=meta,
        extra_marker={
            "batch_id": committed_batch_id(meta, batch_id),
            "k": k,
            "min_count": min_count,
            "hash": HASH_XXH64,
        },
        max_delta_dirs=max_delta_dirs,
        max_state_files=max_state_files,
    )
    win.unpersist()
    return scrubbed


def start_span_scrub(
    stream_df: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Attach online span scrubbing to a stream: scrubbed rows land in
    per-batch ``out_path/batch=<id>/`` parquet directories (read
    ``out_path`` as one partitioned table), window-count state lives at
    ``state_path``.  Returns the StreamingQuery.

    Exactly-once: each batch's rows are OVERWRITTEN into their own
    ``batch=<id>`` directory BEFORE the state commit (the sink hook) —
    a crash before the commit replays into identical rows re-written in
    place; a crash after it replays into the committed no-op with the
    directory already present.  A plain post-return append would lose
    the batch's rows in the commit-then-crash window.
    """

    def _proc(batch_df: DataFrame, batch_id: int) -> None:
        span_scrub_batch(
            batch_df,
            state_path,
            k=k,
            min_count=min_count,
            text_col=text_col,
            id_col=id_col,
            batch_id=batch_id,
            sink=lambda rows: rows.write.mode("overwrite").parquet(
                os.path.join(out_path, f"batch={batch_id}")
            ),
        )

    return start_foreach_batch(stream_df, _proc, checkpoint)
