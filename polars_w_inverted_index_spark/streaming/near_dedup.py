"""Streaming NEAR-duplicate ingest dedup (MinHash-LSH, foreachBatch).

``streaming/dedup.py`` drops exact duplicates online; this module drops
NEAR-duplicates: a document that shares ≥ ``min_shared_bands`` LSH bands
with anything already ingested — or with an earlier document of its own
micro-batch — is rejected.  First-arrival-wins across batches, min-id
wins within a batch (the same canonical rule as the batch cluster
resolution), so the surviving set is deterministic for a given arrival
order.

State is the accepted corpus's BAND table (doc_id, band_idx, band_hash)
— ``n_bands`` small rows per accepted doc, a pure function of content —
committed as per-batch delta directories under the commit protocol of
``streaming/_commit``: each batch writes only its accepted bands, so
per-batch commit I/O is O(batch), and the commit compacts to one
directory once the list exceeds ``max_delta_dirs``.  Readers (the next
micro-batch's anti-join) never see partial writes, and a replayed
micro-batch returns an empty frame.

Scale shape per batch: batch bands (narrow + one doc_id shuffle for
signatures) anti-joined against the corpus band table — AQE broadcasts
the small batch side, the corpus table is never reshuffled; the
within-batch self-join is the standard banded bucket join.  The band
table grows O(accepted docs × n_bands); at fleet scale it shards like
any bucketed table and the anti-join stays a hash join on the
high-cardinality (band_idx, band_hash) key.

The horizon trade of the exact streaming dedup does not apply here:
bands persist for the index's life, so late duplicates are still
caught; the cost is the growing band table, which is the queryable
artifact a batch backstop sweep would need anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    NUM_BANDS,
    NUM_HASHES,
    _lsh_bands,
    dedup_clusters,
    drop_near_duplicates,
    minhash_signatures,
)
from ._commit import (
    commit_delta,
    committed_batch_id,
    read_marker,
    read_state,
    replayed,
    start_foreach_batch,
)


def read_corpus_bands(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """Current committed band table (union of the marker's delta
    directories), or None before the first merge."""
    return read_state(spark, state_path)


def near_dedup_batch(
    batch_df: DataFrame,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared_bands: int = 1,
    batch_id: int | None = None,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    shingle_k: int = 3,
    max_delta_dirs: int = 8,
    delta_partitions: int = 4,
    max_state_files: int | None = 256,
    sink=None,
) -> DataFrame:
    """Process one micro-batch; returns the ACCEPTED rows as a
    lineage-severed, materialized frame (safe to use after the state
    commit prunes the band version it was computed from).

    Rejects batch rows near-duplicating (a) the accepted corpus so far or
    (b) an earlier — lower-id — row of the same batch; then commits the
    accepted rows' bands into the state.  Replay of the committed
    batch_id returns an empty frame (the original acceptance already
    flowed downstream once).

    ``sink`` (optional callable receiving the accepted frame) runs
    after materialization but BEFORE the state commit — pair it with an
    idempotent per-batch overwrite (see :func:`start_near_dedup`) and
    the accepted rows can never be lost to a crash between commit and
    output write (the replayed committed batch returns EMPTY, so
    output deferred past the commit has no second chance).
    """
    spark = batch_df.sparkSession
    meta = read_marker(state_path)
    if replayed((meta or {}).get("batch_id"), batch_id, state_path):
        return batch_df.where(F.lit(False))
    r = num_hashes // num_bands
    bands = _lsh_bands(
        minhash_signatures(batch_df, text_col, id_col, num_hashes, shingle_k),
        num_bands,
        r,
    ).persist()

    # (a) cross-corpus rejection: any shared band bucket ⇒ candidate;
    # count shared bands per doc and cut at min_shared_bands
    corpus = read_corpus_bands(spark, state_path)
    if corpus is not None:
        shared = (
            bands.alias("n")
            .join(
                corpus.alias("c"),
                (F.col("n.band_idx") == F.col("c.band_idx"))
                & (F.col("n.band_hash") == F.col("c.band_hash")),
            )
            .groupBy(F.col("n.doc_id").alias("doc_id"))
            .agg(F.countDistinct("n.band_idx", "n.band_hash").alias("nsb"))
            .where(F.col("nsb") >= min_shared_bands)
            .select("doc_id")
        )
        survivors = batch_df.join(
            shared, batch_df[id_col] == shared["doc_id"], "left_anti"
        )
    else:
        survivors = batch_df

    # (b) within-batch self dedup on the remaining rows: banded pairs →
    # clusters → keep the min-id canonical (plus singletons)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
        .where(F.col("n_shared_bands") >= min_shared_bands)
    )
    survivors = drop_near_duplicates(
        survivors, dedup_clusters(pairs), id_col=id_col
    )
    # localCheckpoint SEVERS lineage, not just caches it: the commit
    # below prunes the corpus-band version this plan read, so a caller
    # recomputing a merely-persisted frame (cache eviction, unpersist)
    # would chase deleted files.  The returned frame must be
    # self-contained.  The rebalance lets AQE size the partitions a sink
    # writes: a runtime-converted anti-join otherwise keeps the batch's
    # input partitioning, one tiny file per input partition.
    accepted = survivors.hint("rebalance").localCheckpoint()
    if sink is not None:
        sink(accepted)  # idempotent output BEFORE the commit (see above)

    # commit: DELTA write of the accepted bands only (O(batch)); compact
    # to a single directory once the delta list exceeds max_delta_dirs
    # (amortized O(corpus / max_delta_dirs) per batch)
    acc_ids = accepted.select(F.col(id_col).alias("doc_id"))
    acc_bands = bands.join(acc_ids, "doc_id", "left_semi")
    # deltas are O(batch) rows: coalesce so a long batch sequence is not
    # a small-files factory, and compact on the live file listing too
    # (max_state_files) — the span-scrub hygiene (r8), same rationale
    commit_delta(
        state_path,
        delta=acc_bands.coalesce(max(1, delta_partitions)),
        compacted=(
            corpus.unionByName(acc_bands) if corpus is not None else None
        ),
        meta=meta,
        extra_marker={
            "batch_id": committed_batch_id(meta, batch_id),
            "num_hashes": num_hashes,
            "num_bands": num_bands,
            "shingle_k": shingle_k,
        },
        max_delta_dirs=max_delta_dirs,
        max_state_files=max_state_files,
    )
    bands.unpersist()
    return accepted


def start_near_dedup(
    stream_df: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared_bands: int = 1,
):
    """Attach online near-dedup to a stream: accepted rows land in
    per-batch ``out_path/batch=<id>/`` parquet directories (read
    ``out_path`` as one partitioned table), band state lives at
    ``state_path``.  Returns the StreamingQuery.

    Exactly-once: each batch's accepted rows OVERWRITE their own
    ``batch=<id>`` directory BEFORE the state commit — a crash before
    the commit replays into identical rows re-written in place, a crash
    after it replays into the committed no-op with the directory
    already present.  A post-return append would lose the batch in the
    commit-then-crash window (the replay returns empty by contract).
    """
    import os

    def _proc(batch_df: DataFrame, batch_id: int) -> None:
        near_dedup_batch(
            batch_df,
            state_path,
            text_col=text_col,
            id_col=id_col,
            min_shared_bands=min_shared_bands,
            batch_id=batch_id,
            sink=lambda rows: rows.write.mode("overwrite").parquet(
                os.path.join(out_path, f"batch={batch_id}")
            ),
        )

    return start_foreach_batch(stream_df, _proc, checkpoint)
