"""Cosine top-k serving: the parts every vector serve shares.

Four serves answer a bounded query set's cosine top-k:
``similarity.brute_force_topk_gemm`` (float GEMM over the corpus),
``pq.pq_topk`` (ADC over PQ codes), ``ann_index.ann_search`` (float
GEMM over the probed cells) and ``ann_index.ann_search_pq`` (ADC over
the probed cells' codes, then an exact re-rank).  Each keeps only how
its worker closure computes a block of dot products and which queries
score which rows.  This module holds the rest, once:

- :func:`collect_queries` — the bounded driver collect
  (``limit(max_query_rows + 1)``, so a corpus passed as the query set
  fails loudly instead of filling the driver) and :func:`empty_topk`,
  the empty answer in the caller's output schema;
- :func:`prep_queries` — the query matrix, its norms and its zero flags;
- :func:`cosine_block` and :func:`local_topk` — the worker-side scoring
  rules that make a GEMM serve equal its Spark expression twin (see
  below), keeping only ``k`` rows per query per Arrow batch so that
  |Q|·k rows per batch reach the shuffle;
- :func:`rank_topk` — the final ``(cos_sim desc, neighbor_id asc)``
  rank window;
- :func:`exact_rerank` — exact cosine over candidate pairs, for the
  serves that recall candidates from PQ codes.

The Spark-parity rules.  The expression twin scores
``when(qn > 0 and cn > 0, dot / (qn * cn)).otherwise(0.0)`` rounded by
``F.round``, and ranks by ``cos_sim desc, neighbor_id asc``:

- a NULL element makes the expression norm NULL, so the guard falls to
  0.0; a NaN or ±inf element gives a NaN norm, which PASSES ``> 0``
  (NaN is Spark's largest double) and scores NaN.  numpy decodes both
  to NaN, so the zero flags come from the raw rows
  (:func:`null_elem_flags`), and NaN scores rank FIRST;
- ``F.round`` is half away from zero (:func:`half_up`), not numpy's
  half to even;
- a NULL corpus vector scores NULL, sorted last, so it is never emitted
  (a 0.0 would outrank genuine negative similarities);
- a query never lists itself.

The helpers that run in workers (:func:`half_up`, :func:`cosine_block`,
:func:`local_topk`) reference no repo global: call sites bind them with
``by_value`` driver-side and close over the copies
(functions/pickling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .vectors import cosine_with_norms, norm

__all__ = [
    "arrow_schema",
    "collect_queries",
    "cosine_block",
    "empty_topk",
    "exact_rerank",
    "half_up",
    "local_topk",
    "null_elem_flags",
    "pad_matrix",
    "prep_queries",
    "rank_topk",
    "topk_ddl",
]


def topk_ddl(q_id_ddl: str) -> str:
    """The scored rows' DDL before the rank: the caller names the
    query-id type (``long`` for the corpus serves, the query column's
    own type for the index serves)."""
    return f"query_id {q_id_ddl}, neighbor_id long, cos_sim double"


def empty_topk(spark, q_id_ddl: str) -> DataFrame:
    """The empty answer, in the schema of a non-empty one, so per-batch
    unions do not flip types on an empty batch."""
    return spark.createDataFrame([], topk_ddl(q_id_ddl) + ", rank int")


def collect_queries(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_query_rows: int,
    caller: str,
) -> list:
    """The query set's ``(qid, qv)`` rows on the driver.  The query set
    ships in every task's closure, so it is small by contract: the
    collect itself is bounded, and more than ``max_query_rows`` rows
    raise naming ``caller``."""
    rows = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(rows) > max_query_rows:
        raise ValueError(
            f"{caller} collects the query set to the driver; got > "
            f"max_query_rows={max_query_rows} rows. Batch the queries "
            "or raise max_query_rows explicitly."
        )
    return rows


def pad_matrix(vecs, n_dims):
    """``(n, n_dims)`` float64: truncate to ``n_dims``, zero-pad short
    vectors (zero dims contribute nothing to dot or norm).  A NULL
    vector becomes the zero vector: its norm is 0, so the zero-norm
    rule scores it 0.0 everywhere.  A NULL element decodes to NaN."""
    import numpy as np

    mat = np.zeros((len(vecs), n_dims), dtype=np.float64)
    for i, v in enumerate(vecs):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)[:n_dims]
        mat[i, : len(a)] = a
    return mat


def null_elem_flags(vec_lists, width):
    """Per-row "has a NULL element within the ``width`` prefix" flags
    for collected vectors.  numpy turns None into NaN, indistinguishable
    from a NaN element, but Spark branches them apart (module
    docstring)."""
    import numpy as np

    w = int(width)
    return np.array(
        [
            any(x is None for x in (v[:w] if v is not None else []))
            for v in vec_lists
        ],
        dtype=bool,
    )


def prep_queries(vec_lists, width):
    """``(q_mat, q_norm, q_zero)`` for collected query vectors at
    ``width``: the padded matrix, its row norms, and the rows that take
    Spark's otherwise-0 branch (a NULL element or a zero norm)."""
    import numpy as np

    q_mat = pad_matrix(vec_lists, width)
    q_norm = np.linalg.norm(q_mat, axis=1)
    return q_mat, q_norm, null_elem_flags(vec_lists, width) | (q_norm == 0)


def arrow_schema(ddl: str):
    """The pyarrow schema for a Spark DDL string, so a ``mapInArrow``
    closure builds its output batches with exactly the declared field
    types (inference on empty or Python-object lists would flip types
    batch to batch).  A ``pa.Schema`` pickles by value into the
    closure."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl))


def half_up(a, digits: int):
    """Round half AWAY FROM ZERO, like Spark's ``F.round`` (BigDecimal
    HALF_UP).  ``np.round`` is half to even, which diverges from the SQL
    twins on cosines landing exactly on a .5 boundary at
    ``round_digits`` — reachable with dyadic-rational vectors (cos =
    0.25 rounded to 1 digit: ``np.round`` gives 0.2, ``F.round`` 0.3) —
    flipping the last digit and possibly the tie order."""
    import numpy as np

    p = 10.0 ** int(digits)
    return np.sign(a) * np.floor(np.abs(a) * p + 0.5) / p


def cosine_block(dots, c_norm, q_norm, c_zero, q_zero):
    """The unrounded ``(rows × queries)`` cosine block of ``dots``, with
    Spark's otherwise-0 branch applied to the rows in ``c_zero`` and the
    queries in ``q_zero``.  A NaN norm is not zeroed: its scores stay
    NaN, ranked first by :func:`local_topk`.  Worker-side in the serves,
    driver-side in the ANN probe's centroid ranking."""
    import numpy as np

    sims = dots / np.outer(
        np.where(c_norm > 0, c_norm, 1.0), np.where(q_norm > 0, q_norm, 1.0)
    )
    sims[c_zero, :] = 0.0
    sims[:, q_zero] = 0.0
    return sims


def local_topk(blocks, k: int, schema):
    """Worker-side: yield at most one RecordBatch of ``schema`` (query
    id, neighbor id, score) holding the top ``k`` rows of every query
    column of every block.

    A block is ``(sims, c_ids, live, q_ids)``: a rounded ``(rows ×
    queries)`` score block, the rows' ids, the rows that may be emitted,
    and one query id per column.  A query never lists itself, ties break
    by the lower id, and NaN scores rank first, so the local cut keeps
    the rows the global rank window would."""
    import numpy as np
    import pyarrow as pa

    out_q, out_n, out_s = [], [], []
    for sims, c_ids, live, q_ids in blocks:
        for j, qid in enumerate(q_ids):
            idx = np.nonzero((c_ids != qid) & live)[0]
            if not len(idx):
                continue
            vals = sims[idx, j]
            nan_v = np.isnan(vals)
            top = idx[
                np.lexsort((c_ids[idx], np.where(nan_v, 0.0, -vals), ~nan_v))[
                    :k
                ]
            ]
            out_q.extend([qid] * len(top))
            out_n.extend(c_ids[top])
            out_s.extend(sims[top, j])
    if out_q:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_q, type=schema.field(0).type),
                pa.array(
                    np.asarray(out_n, dtype=np.int64),
                    type=schema.field(1).type,
                ),
                pa.array(
                    np.asarray(out_s, dtype=np.float64),
                    type=schema.field(2).type,
                ),
            ],
            schema=schema,
        )


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """``scored`` ([query_id, neighbor_id, cos_sim, ...]) ranked per
    query by ``(cos_sim desc, neighbor_id asc)``, rows ranked ``<= k``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def exact_rerank(
    floats: DataFrame,
    cand: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_digits: int,
) -> DataFrame:
    """Exact cosine top-k over candidate pairs: ``floats``
    ([neighbor_id, cv, cn]) joined to the broadcast ``cand``
    ([query_id, neighbor_id], |Q|·k·factor rows) and to the broadcast
    query vectors, scored by the expression twin's cosine."""
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    exact = (
        floats.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("qv", "cv", F.col("qn"), F.col("cn")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return rank_topk(exact, k)
