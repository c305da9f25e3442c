"""The commit protocol of the streaming ``foreachBatch`` operators.

Near-dedup, span-scrub, LSM index maintenance, IVF ingest and drift
each keep state beside their output and commit one micro-batch at a
time.  ``foreachBatch`` is at-least-once and makes ``batchId`` the
idempotence key, so every operator commits in the same steps:

1. read its marker (:func:`read_marker`; the IVF ingest reads its
   ``_cells_manifest.json``), which records the last committed batch
   id;
2. apply the replay rule (:func:`replayed`): the committed batch id
   again is a no-op, a batch id behind it means the checkpoint was
   reset and raises ``ValueError``.  Each operator keeps its own no-op
   value: near-dedup and span-scrub return an empty frame (the batch's
   rows already flowed downstream once), drift ``None``, the IVF
   ingest ``0`` rows, the index merges a plain return;
3. write the batch's data where no marker points yet;
4. swap the marker atomically (``functions/atomic_json``), recording
   :func:`committed_batch_id`: the batch's one visibility point;
5. prune the directories the new marker no longer names.  A crash
   mid-prune leaves garbage the next commit removes, never a broken
   state, and a crash before the swap replays onto the old marker.

Near-dedup, span-scrub and drift keep their state as immutable
``v=<n>`` directories listed by a ``{v, dirs, batch_id, ...}`` marker
(:func:`commit_delta`, :func:`swap_marker`, :func:`read_state`):

- commit I/O is O(batch) — a full old∪new rewrite would be O(corpus)
  per batch;
- compaction folds the list into one directory once it exceeds the
  dial, amortizing O(corpus / max_delta_dirs) per batch.

The LSM index keeps its own bucket-list marker and segment prune
(``streaming/index_maintenance``) behind the same reader, rule and
swap.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..functions.atomic_json import read_json, write_json_atomic


def marker_path(state_path: str) -> str:
    return os.path.join(state_path, "_LATEST")


def read_marker(state_path: str, key: str = "dirs") -> dict | None:
    """The committed marker, or None before the first commit.  A marker
    without ``key`` is a layout no current writer produces: refused,
    since reading on would restart from empty state."""
    meta = read_json(marker_path(state_path))
    if meta is not None and key not in meta:
        raise ValueError(
            f"state at {state_path} has a _LATEST marker without {key!r} "
            f"(fields {sorted(meta)}), a layout this engine no longer "
            f"reads: use a fresh state_path."
        )
    return meta


def replayed(committed: int | None, batch_id: int | None, path: str) -> bool:
    """The replay rule: True when ``batch_id`` is the ``committed`` one
    (the caller returns its no-op value), ValueError when it is behind
    it — silently skipping would freeze the state until the ids pass the
    old high-water mark.  ``batch_id=None`` (a manual backfill) is never
    a replay."""
    if batch_id is None or committed is None or batch_id > committed:
        return False
    if batch_id == committed:
        return True
    raise ValueError(
        f"batch_id {batch_id} is behind committed {committed} at {path}: "
        f"the streaming checkpoint was reset or replaced. Use a fresh "
        f"state path for the new stream, or pass batch_id=None for a "
        f"manual backfill."
    )


def committed_batch_id(meta: dict | None, batch_id: int | None) -> int | None:
    """The batch id the next marker records: this batch's, or the one
    already committed for a backfill (``batch_id=None``)."""
    return batch_id if batch_id is not None else (meta or {}).get("batch_id")


def swap_marker(state_path: str, marker: dict) -> None:
    """Publish ``marker`` atomically, then prune every ``v=`` directory
    it does not list."""
    write_json_atomic(marker_path(state_path), marker)
    keep = set(marker["dirs"])
    for name in os.listdir(state_path):
        if name.startswith("v=") and name not in keep:
            shutil.rmtree(os.path.join(state_path, name), ignore_errors=True)


def read_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Union of the committed delta directories, or None before the
    first commit.  Keys may repeat across deltas — consumers own the
    sum/merge (doing it here would be corpus-sized work per batch)."""
    dirs = (read_marker(state_path) or {}).get("dirs")
    if not dirs:
        return None
    return spark.read.parquet(
        *[os.path.join(state_path, d) for d in dirs]
    )


def state_file_count(state_path: str, meta: dict | None) -> int:
    """Data files across the marker's live directories (metadata-only:
    one listing per dir)."""
    n = 0
    for d in (meta or {}).get("dirs", []):
        p = os.path.join(state_path, d)
        if os.path.isdir(p):
            n += sum(
                1
                for f in os.listdir(p)
                if not f.startswith((".", "_"))
            )
    return n


def commit_delta(
    state_path: str,
    delta: DataFrame,
    compacted: DataFrame | None,
    meta: dict | None,
    extra_marker: dict,
    max_delta_dirs: int,
    max_state_files: int | None = None,
) -> dict:
    """Write ``delta`` as the next ``v=`` directory (or ``compacted`` as
    the new single directory when the list is full), then
    :func:`swap_marker` with the ``extra_marker`` fields.  Returns the
    marker written.  ``compacted`` must be the caller's old-state ∪
    delta merge — it is only evaluated (lazily, by the write) while the
    old directories still exist.

    ``max_state_files`` adds a FILE-count compaction trigger on top of
    the directory-count one: a long micro-batch sequence whose deltas
    each land many small part-files (the object-store small-files
    problem — every state read lists and opens all of them) compacts as
    soon as the live listing exceeds the dial, even when the directory
    list is still short.
    """
    old_dirs = (meta or {}).get("dirs", [])
    next_v = (meta or {}).get("v", -1) + 1
    out_name = f"v={next_v}"
    out = os.path.join(state_path, out_name)
    files_over = (
        max_state_files is not None
        and state_file_count(state_path, meta) >= max_state_files
    )
    if compacted is not None and (
        len(old_dirs) >= max_delta_dirs or files_over
    ):
        if max_state_files is not None:
            # The compacted write itself must land UNDER the file-count
            # trigger, or a wide corpus read/union that emits >=
            # max_state_files part-files would re-trigger compaction on
            # every subsequent commit — each micro-batch an O(corpus)
            # rewrite.  Half the dial leaves headroom for new deltas.
            # repartition, NOT coalesce: coalesce propagates its
            # narrowing upstream, so the whole old∪delta merge would
            # COMPUTE on max_state_files/2 tasks — a small dial (8)
            # puts a corpus-sized merge on ~4 tasks (slow compactions,
            # task memory pressure at scale).  The shuffle is bounded
            # and paid once per rare compaction.
            compacted = compacted.repartition(max(1, max_state_files // 2))
        compacted.write.mode("overwrite").parquet(out)
        new_dirs = [out_name]
    else:
        delta.write.mode("overwrite").parquet(out)
        new_dirs = old_dirs + [out_name]
    marker = {"v": next_v, "dirs": new_dirs, **extra_marker}
    swap_marker(state_path, marker)
    return marker


def start_foreach_batch(stream: DataFrame, proc, checkpoint: str):
    """Run ``proc(batch_df, batch_id)`` over ``stream`` with an
    ``availableNow`` trigger (drain the backlog, then stop); returns the
    StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(proc)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
