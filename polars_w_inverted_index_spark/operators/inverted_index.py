"""Inverted-index build: the reference's central semantic, in-engine.

The reference builds the postings map ``HashMap<String, Vec<i64>>`` on the
driver, row by row, after collecting (main.rs:325-385, 432-491).  That is the
one thing that cannot survive 100 TB: a full-table field-values query would
ship every (value, doc_id) pair to one process.

Spark-first translation (SURVEY.md §2.4/A4): the postings map IS a group-by —

    df.where(value & id not null)
      .groupBy(cast(field as string))
      .agg(collect_list(doc_id))

so the heavy lifting (shuffle by value, per-value list assembly) happens on
executors with map-side partial aggregation, and only final postings rows
cross to the driver — or never leave the cluster at all when materialized as
an index table (plans/catalog.py).

Semantics preserved from the reference (SURVEY.md §1.4):
- rows with null value or null doc_id are skipped (main.rs:338-342);
- postings keys are strings; booleans stringify to "true"/"false"
  (main.rs:361-363) — Spark's CAST(boolean AS STRING) matches;
- postings order is unspecified in the reference (main.rs:332-385); we sort
  postings ascending so results are deterministic and oracle-comparable.

Scale note (100 TB): a single ultra-hot value (e.g. ``level='info'`` over
10^9 docs) makes one postings array too large for a single task.  The
``max_postings_per_row`` knob chunks each value's postings into bounded rows
(value, chunk, doc_ids) so no executor ever materializes an unbounded array;
downstream readers treat (value → all chunks) as the logical postings list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.paths import field_name_to_column, sql_ident


def postings(
    df: DataFrame,
    field: str,
    doc_id_col: str = "doc_id",
    sort_postings: bool = True,
) -> DataFrame:
    """``DataFrame[value: string, doc_ids: array<long>]`` for one field.

    In-engine equivalent of the reference's driver-side loop
    (main.rs:325-385). Null value/id pairs dropped per main.rs:338-342.
    """
    # SQL strings, not Column chains: the same plan, parsed by the JVM in
    # a few py4j calls instead of one round trip per Column node
    col = sql_ident(field_name_to_column(field))
    ids = sql_ident(doc_id_col)
    grouped = (
        df.where(f"{col} IS NOT NULL AND {ids} IS NOT NULL")
        .groupBy(F.expr(f"CAST({col} AS STRING) AS value"))
        .agg(F.expr(f"collect_list(CAST({ids} AS BIGINT)) AS doc_ids"))
    )
    if sort_postings:
        grouped = grouped.withColumn("doc_ids", F.sort_array("doc_ids"))
    return grouped


def postings_chunked(
    df: DataFrame,
    field: str,
    doc_id_col: str = "doc_id",
    max_postings_per_row: int = 1_000_000,
) -> DataFrame:
    """Postings with bounded row size: (value, chunk, doc_ids).

    For hot values whose full postings list would not fit in one task
    (SURVEY.md §7 hard part #1).  Chunk assignment hashes doc_id into
    ``ceil(count/max)`` buckets per value — two shuffles (count, then group)
    but every aggregation state is bounded, so the plan survives arbitrary
    value skew.  The streaming index re-chunks with the same rule in ONE
    shuffle (``streaming/index_maintenance._rechunked``): its rows must be
    clustered by value-hash bucket for the write anyway, so the count runs
    as a window inside the bucket partition.  The un-chunked
    :func:`postings` is preferable when value cardinality is high and
    postings are small.
    """
    col = field_name_to_column(field)
    base = (
        df.where(F.col(col).isNotNull() & F.col(doc_id_col).isNotNull())
        .select(
            F.col(col).cast("string").alias("value"),
            F.col(doc_id_col).cast("long").alias("doc_id"),
        )
    )
    counts = base.groupBy("value").agg(F.count("*").alias("n"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.col("n") / F.lit(max_postings_per_row))
    ).alias("n_chunks")
    sized = counts.select("value", n_chunks)
    # No forced broadcast of the per-value counts frame: for a
    # high-cardinality field (e.g. a unique-per-row session id) it is the
    # size of the corpus, and a static F.broadcast would OOM at exactly the
    # scale this chunked path exists for.  AQE converts the join to
    # broadcast at runtime when the measured size is actually small.
    return (
        base.join(sized, "value")
        .withColumn("chunk", F.pmod(F.xxhash64("doc_id"), F.col("n_chunks")))
        .groupBy("value", "chunk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
    )


def value_lookup(index_df: DataFrame, value: str) -> Column | DataFrame:
    """Answer "which doc_ids hold value X" from a postings table."""
    return index_df.where(F.col("value") == F.lit(value))


def to_value_map(postings_df: DataFrame) -> dict[str, list[int]]:
    """Driver-side convenience mirroring ``FieldValueResult.value_map``
    (main.rs:265-268). Only for small results/tests — the distributed form
    is the DataFrame itself."""
    return {r["value"]: list(r["doc_ids"]) for r in postings_df.collect()}


def to_value_map_arrow(postings_df: DataFrame) -> dict:
    """``value_map`` via Arrow collect: the materialization hot path.

    ``Row.collect()`` deserializes every posting through py4j/pickle —
    ~20 s for 10 M doc_ids, 21.7× the reference's whole query
    (main.rs:398-499 collects into ``Vec<i64>`` buffers).  ``toArrow()``
    ships the same postings as Arrow record batches (one buffer copy)
    and each value's postings stay a contiguous int64 array
    (``numpy.ndarray`` — the parity shape for the reference's Vec<i64>),
    making the whole 10 M-id materialization sub-second.  Falls back to
    the pickle path when Arrow is unavailable.
    """
    try:
        tbl = postings_df.toArrow()
    except Exception:  # pragma: no cover - Arrow missing/disabled
        return to_value_map(postings_df)
    values, doc_ids = tbl.column("value"), tbl.column("doc_ids")
    return {
        values[i].as_py(): doc_ids[i].values.to_numpy(zero_copy_only=False)
        for i in range(tbl.num_rows)
    }
