"""Online SEARCH-index maintenance: the incremental-postings machinery
(streaming/index_maintenance.py) applied to text terms.

The reference's postings map keyed by field values (main.rs:325-385)
became a term search index in registry_ext.q_term_postings; this module
keeps that index fresh as documents stream in — each micro-batch
explodes its docs to (doc_id, term) and merges ONLY its own term
postings into the bucketed index (per-merge cost O(batch + touched
buckets), never O(index); replay-safe; atomic pointer swaps — all
inherited from merge_postings_batch).  Queries then run against the
committed snapshot with zero base-table I/O.

Stop-word terms are exactly the "ultra-hot value" case the chunked row
shape exists for: pass ``max_postings_per_row`` and no term's postings
row is ever unbounded; :func:`..streaming.compact_index` squashes chunk
fragmentation on the usual LSM schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ._commit import start_foreach_batch
from .index_maintenance import (
    DEFAULT_N_BUCKETS,
    merge_postings_batch,
    read_index,
)


def _exploded_terms(
    batch_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    return batch_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("term"),
    )


def merge_term_index_batch(
    batch_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    max_postings_per_row: int | None = None,
) -> None:
    """Merge one micro-batch of documents into the term search index."""
    merge_postings_batch(
        _exploded_terms(batch_df, text_col, id_col),
        "term",
        index_path,
        "doc_id",
        batch_id=batch_id,
        n_buckets=n_buckets,
        max_postings_per_row=max_postings_per_row,
    )


def start_term_index_maintenance(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """Attach term-index maintenance to a document stream; returns the
    StreamingQuery (``availableNow`` drains the backlog then stops)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_term_index_batch(
            batch_df,
            index_path,
            text_col=text_col,
            id_col=id_col,
            batch_id=batch_id,
            n_buckets=n_buckets,
        )

    return start_foreach_batch(stream_df, _merge, checkpoint)


def boolean_search_from_index(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    mode: str = "and",
) -> DataFrame:
    """Boolean retrieval served from the committed index snapshot:
    ``DataFrame[doc_id, n_matched]`` — same contract as
    ``operators.search.boolean_search``, zero base-table I/O.

    The term filter applies to the RAW index rows (plain or chunked),
    so only the query terms' postings are ever read or exploded —
    a chunked stop-word's giant logical array is never assembled here.
    """
    if mode not in ("and", "or"):
        raise ValueError("mode must be 'and' or 'or'")
    from ..operators.search import _norm_terms

    q = _norm_terms(terms)
    idx = read_index(spark, index_path)
    if idx is None:
        raise ValueError(f"no committed index at {index_path}")
    hits = (
        idx.where(F.col("value").isin(q))
        .select(
            F.col("value").alias("term"),
            F.explode("doc_ids").alias("doc_id"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_matched"))
    )
    if mode == "and":
        hits = hits.where(F.col("n_matched") == len(q))
    return hits
