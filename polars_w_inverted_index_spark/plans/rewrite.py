"""Id-set filtering strategies + plan-level rewrites.

The reference's only row-restriction mechanism is an inner join against a
literal key frame (main.rs:310-318, 549-556).  Inner-join semantics are part
of the contract (SURVEY.md §1.4.1): requested ids absent from the table are
dropped; duplicated requested ids multiply result rows.

Spark-first strategy selection (this module is the Python planning layer —
SURVEY.md §4 notes a true Catalyst rule needs Scala; the rewrite here keeps
the same narrow interface so a `spark.sql.extensions` rule can replace it):

- ``ISIN_THRESHOLD``-or-fewer *distinct* literal ids and no duplicates →
  rewrite to an ``isin`` predicate.  This reaches the parquet scan as a
  PushedFilter, so row-group statistics (the reference's sorted-by-doc_id
  layout, main.rs:233) prune I/O — strictly better than the reference, whose
  join never prunes the scan (README.md:19-23 observed ~1 s/query).
- otherwise → inner join against a broadcast key frame; with runtime
  bloom-filter joins enabled (session.py) the keys still prune the scan.
  Duplicate ids keep join multiplicity, matching the reference exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.paths import sql_ident

# Above this many ids, an in-predicate stops being pushdown-friendly and the
# broadcast-join path (with bloom-filter scan pruning) wins.
ISIN_THRESHOLD = 10_000


def id_frame(
    spark: SparkSession, doc_ids: Sequence[int], doc_id_col: str = "doc_id"
) -> DataFrame:
    """Literal key frame, the reference's ``df!("doc_id" => ids)``
    (main.rs:302-307). No driver-side sort needed: Spark hash-joins."""
    return spark.createDataFrame(
        [(int(i),) for i in doc_ids], f"{doc_id_col} long"
    )


def sql_in_ids(col: str, ids: Sequence[int]) -> str:
    """``col IN (i1, i2, ...)`` as one SQL string, ``false`` for no ids.

    The same predicate as ``F.col(col).isin(ids)`` — the optimized plans
    are identical and it still reaches the parquet scan as ``In`` — but
    the JVM parses it in one call, where ``isin`` makes several py4j
    round trips per id to build a literal Column for each.
    """
    if not ids:
        return "false"
    return f"{sql_ident(col)} IN ({', '.join(str(int(i)) for i in ids)})"


def filter_by_doc_ids(
    df: DataFrame,
    doc_ids: Sequence[int],
    doc_id_col: str = "doc_id",
    preserve_multiplicity: bool = True,
) -> DataFrame:
    """Restrict ``df`` to rows whose ``doc_id_col`` is in ``doc_ids``.

    Reproduces reference join semantics (main.rs:310-318): missing ids
    silently dropped; duplicate ids duplicate rows when
    ``preserve_multiplicity`` (the reference default).  When the id list is
    small and duplicate-free the isin rewrite is used — identical semantics,
    scan-prunable.
    """
    ids = [int(i) for i in doc_ids]
    has_dups = len(set(ids)) != len(ids)
    if len(ids) <= ISIN_THRESHOLD and not (preserve_multiplicity and has_dups):
        return df.where(sql_in_ids(doc_id_col, ids))
    spark = df.sparkSession
    keys = id_frame(spark, ids, doc_id_col)
    if not preserve_multiplicity:
        keys = keys.dropDuplicates([doc_id_col])
    return df.join(F.broadcast(keys), on=doc_id_col, how="inner")
