"""Streaming distribution-drift monitor (foreachBatch LM merge + JS).

A training-data ingest stream should alarm when the incoming text stops
looking like the corpus it is meant to extend.  This module maintains a
running unigram LM of everything ingested (parquet state behind the same
atomic-pointer discipline as streaming/near_dedup) and emits, per
micro-batch, the divergence of (a) THIS batch and (b) the CUMULATIVE
ingest against a fixed reference LM:

- ``batch_js_bits`` spikes on a bad shipment (one poisoned/garbled
  source file) even when the cumulative number barely moves;
- ``cumulative_js_bits`` catches slow drift that no single batch shows.

State is vocabulary-sized (token → count), a pure function of ingested
content: merge cost per batch is one full-outer join of two
vocabulary-sized tables, independent of corpus text volume — the same
O(vocabulary) bound as functions.text.corpus_divergence, which supplies
the divergence math.  Replayed micro-batches (foreachBatch is
at-least-once) are committed no-ops via the recorded batch_id, so the
running counts are exactly-once.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import corpus_divergence, unigram_lm


def _marker_path(state_path: str) -> str:
    return os.path.join(state_path, "_LATEST")


def _read_marker(state_path: str) -> dict | None:
    p = _marker_path(state_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def read_ingest_lm(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """Current committed running LM ``[t, c]``, or None before batch 0."""
    meta = _read_marker(state_path)
    if meta is None:
        return None
    return spark.read.parquet(os.path.join(state_path, meta["dir"]))


def drift_monitor_batch(
    batch_df: DataFrame,
    state_path: str,
    reference_lm: DataFrame,
    text_col: str = "text",
    batch_id: int | None = None,
    alpha: float = 0.5,
) -> DataFrame | None:
    """Process one micro-batch: merge its unigram counts into the
    running ingest LM, commit the state, and return a 1-row report
    ``[batch_id, batch_tokens, total_tokens, batch_js_bits,
    cumulative_js_bits]``.  A replayed (already-committed) batch_id
    returns None and leaves the state untouched; a batch_id BEHIND the
    committed one means the checkpoint was reset and raises ValueError,
    as in the other streaming operators (skipping would silently drop
    every batch until the ids pass the old high-water mark).

    The report is computed BEFORE the commit from lineage-severed
    inputs, so a crash between report and commit replays the batch
    cleanly (at-least-once upstream, exactly-once counts).
    """
    spark = batch_df.sparkSession
    meta = _read_marker(state_path)
    committed = (meta or {}).get("batch_id")
    if batch_id is not None and committed is not None:
        if batch_id == committed:
            return None  # committed replay: no-op
        if batch_id < committed:
            raise ValueError(
                f"batch_id {batch_id} is behind the drift state's "
                f"committed batch_id {committed}: the streaming "
                f"checkpoint was reset or replaced. Use a fresh "
                f"state_path for the new stream."
            )

    # r15 (guide §1.2/§5): persist, NOT localCheckpoint — the eager
    # checkpoint was its own Spark job; a lazy cache is populated by the
    # state write below and reused by the batch divergence + token
    # count, zero extra actions.  No lineage hazard: batch_lm reads
    # only the micro-batch frame, never a prunable state version.
    batch_lm = unigram_lm(batch_df, text_col).persist()
    prev = read_ingest_lm(spark, state_path)
    if prev is not None:
        merged_plan = (
            batch_lm.select("t", "c")
            .unionByName(prev.select("t", "c"))
            .groupBy("t")
            .agg(F.sum("c").alias("c"))
        )
    else:
        merged_plan = batch_lm
    # r14 (guide §1.2/§5): the next state version is WRITTEN first and
    # read back for the cumulative divergence — one action where the
    # pre-r14 form paid two (an eager localCheckpoint AND a write that
    # recomputed nothing but still scheduled a job), and the parquet
    # read severs lineage from the prior version by construction (same
    # guarantee the checkpoint provided; [t string, c long] roundtrips
    # exactly).  The directory stays invisible until the marker swap
    # below, so a crash anywhere before it replays cleanly — the replay
    # recomputes the same next_v and overwrites the orphan.
    next_v = (meta or {}).get("v", -1) + 1
    out = os.path.join(state_path, f"v={next_v}")
    merged_plan.write.mode("overwrite").parquet(out)
    merged = spark.read.parquet(out)

    b_div = corpus_divergence(batch_lm, reference_lm, alpha=alpha)
    c_div = corpus_divergence(merged, reference_lm, alpha=alpha)
    report = (
        b_div.select(
            F.col("js_bits").alias("batch_js_bits"),
        )
        .crossJoin(c_div.select(F.col("js_bits").alias("cumulative_js_bits")))
        .crossJoin(
            batch_lm.agg(F.sum("c").alias("batch_tokens")).crossJoin(
                merged.agg(F.sum("c").alias("total_tokens"))
            )
        )
        .select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "batch_tokens",
            "total_tokens",
            "batch_js_bits",
            "cumulative_js_bits",
        )
        .localCheckpoint()
    )

    marker = {
        "v": next_v,
        "dir": f"v={next_v}",
        "batch_id": batch_id
        if batch_id is not None
        else (meta or {}).get("batch_id"),
    }
    tmp = _marker_path(state_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(marker, f)
    os.replace(tmp, _marker_path(state_path))
    for name in os.listdir(state_path):
        if name.startswith("v=") and name != f"v={next_v}":
            shutil.rmtree(
                os.path.join(state_path, name), ignore_errors=True
            )
    batch_lm.unpersist()
    return report


def start_drift_monitor(
    stream_df: DataFrame,
    state_path: str,
    report_path: str,
    checkpoint: str,
    reference_lm: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    trigger_available_now: bool = True,
):
    """Attach the drift monitor to a stream: per-batch reports append to
    ``report_path`` (parquet), LM state lives at ``state_path``.
    Returns the StreamingQuery."""

    def _proc(batch_df: DataFrame, batch_id: int) -> None:
        rep = drift_monitor_batch(
            batch_df,
            state_path,
            reference_lm,
            text_col=text_col,
            batch_id=batch_id,
            alpha=alpha,
        )
        if rep is not None:
            rep.write.mode("append").parquet(report_path)

    writer = (
        stream_df.writeStream.foreachBatch(_proc)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
