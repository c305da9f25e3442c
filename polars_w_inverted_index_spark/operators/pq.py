"""Product quantization (PQ) — the memory-bounded ANN scale path.

At 100 TB the embedding column IS the storage problem: a 64-dim float64
vector is 512 bytes/row, while its PQ code (``m_subspaces`` uint8 ids)
is ``m`` bytes — a 64× compression at m=8.  The IVF family
(:mod:`.similarity`, :mod:`.ann_index`) prunes which rows a query
touches; PQ shrinks what each touched row costs, and asymmetric-
distance scoring (ADC) never decompresses: each query precomputes an
(m × n_codes) lookup table of subspace dot products and scores a code
by ``m`` table reads.  Jégou/Douze/Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) — public method, numpy-expressed.

Pipeline shape (all Spark-side work is narrow or the standard
bounded-query top-k):

- :func:`pq_train` — ONE bounded two-phase id-cutoff sample to the
  driver (r10: TakeOrdered shipped K rows PER PARTITION, 1 GB at 10 M),
  per-subspace Lloyd k-means in numpy (deterministic lowest-id seeding,
  no RNG — the :func:`.ann_index.kmeans_centroids` discipline).
  Codebooks are tiny (m·k·dsub floats) and ship in task closures.
- :func:`pq_encode` — one narrow ``mapInArrow`` pass over the corpus:
  argmin subspace centroid per vector → ``codes array<int>`` + the
  exact vector norm (kept so approximate cosine divides by the TRUE
  norm — only the dot product is quantized).
- :func:`pq_topk` — ADC scan of the encoded corpus: per Arrow batch,
  score = LUT[m, code].sum over subspaces, local top-k per batch, so
  only |Q|·k rows per batch reach the global rank — the
  :func:`.similarity.brute_force_topk_gemm` shuffle shape.
- :func:`pq_topk_rerank` — PQ recalls a candidate set ``k·factor``
  wide, then ONE corpus join (broadcast candidate ids) rescores
  exactly; with ``factor`` covering the corpus this EQUALS brute force,
  which is the test oracle pinning the whole path.

No counterpart in the reference (its engine has no vector ops); this
extends the directed similarity-search surface (SURVEY §7).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrow_batches import decode_list_matrix
from ..functions.pickling import by_value, guard_import_caches
from ..functions.topk import (
    arrow_schema,
    collect_queries,
    cosine_block,
    empty_topk,
    exact_rerank,
    half_up,
    local_topk,
    pad_matrix,
    prep_queries,
    rank_topk,
    topk_ddl,
)
from ..functions.vectors import norm

__all__ = [
    "PQCodebooks",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "pq_topk_rerank",
]


@dataclass(frozen=True)
class PQCodebooks:
    """Trained PQ codebooks: ``books[s][c]`` is centroid ``c`` of
    subspace ``s`` (a list of ``dsub`` floats).  Plain lists so the
    object is picklable into task closures and JSON-serializable for
    catalog persistence; materialized to numpy once per task."""

    books: tuple  # (m_subspaces, n_codes, dsub) nested tuples
    n_dims: int

    @property
    def m_subspaces(self) -> int:
        return len(self.books)

    @property
    def n_codes(self) -> int:
        return len(self.books[0])

    def as_array(self):
        import numpy as np

        return np.asarray(self.books, dtype=np.float64)


def _subspace_slices(n_dims: int, m_subspaces: int):
    """Contiguous subspace bounds; widths differ by at most one when
    m doesn't divide n_dims (same convention as simhash band widths)."""
    w = n_dims // m_subspaces
    widths = [
        w + (1 if i < n_dims % m_subspaces else 0)
        for i in range(m_subspaces)
    ]
    offs = [sum(widths[:i]) for i in range(m_subspaces)]
    return [(o, o + ww) for o, ww in zip(offs, widths)]


def pq_train(
    corpus: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    sample_rows: int = 65_536,
    n_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int = 64,
) -> PQCodebooks:
    """Train PQ codebooks on a BOUNDED deterministic sample.

    The sample is the ``sample_rows`` lowest-id vectors (no RNG),
    collected once to the driver: k-means over a bounded sample is the
    standard PQ training regime (codebook quality saturates long before
    the corpus is exhausted), and the collect is O(sample), never
    O(corpus).  Per subspace: Lloyd iterations seeded by the first
    ``n_codes`` sample subvectors, empty cells keep their previous
    centroid (the :func:`.ann_index.kmeans_centroids` rule).

    Two-phase sample (r10): a single ``orderBy(id).limit(K).collect()``
    plans as TakeOrdered, which ships each partition's local top-K to
    the driver — K vectors PER PARTITION, measured 1.04 GB (over
    ``spark.driver.maxResultSize``) at 10 M rows × 29 partitions on the
    crossover run.  Phase 1 ships only the ID column to find the K-th
    smallest id; phase 2 re-reads with ``id <= cutoff`` pushed to the
    scan, so the vector collect is truly O(sample).
    """
    import numpy as np

    if not 1 <= m_subspaces <= n_dims:
        raise ValueError(f"need 1 <= m_subspaces <= n_dims={n_dims}")
    cut_row = (
        corpus.select(F.col(id_col))
        .orderBy(F.col(id_col).asc())
        .limit(sample_rows)
        .agg(F.max(F.col(id_col)).alias("c"))
        .first()
    )
    cut = cut_row["c"] if cut_row is not None else None
    base = corpus.select(F.col(id_col), F.col(vec_col))
    if cut is not None:
        # nulls sort first under asc, so they belong in the sample too
        base = base.where(
            F.col(id_col).isNull() | (F.col(id_col) <= F.lit(cut))
        )
    rows = (
        base.orderBy(F.col(id_col).asc()).limit(sample_rows).collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"pq_train needs >= n_codes={n_codes} sample vectors, "
            f"got {len(rows)}"
        )
    mat = pad_matrix([r[vec_col] for r in rows], n_dims)
    books = []
    for lo, hi in _subspace_slices(n_dims, m_subspaces):
        sub = mat[:, lo:hi]
        cent = sub[:n_codes].copy()  # deterministic lowest-id seed
        for _ in range(n_iters):
            # assign: argmin L2 == argmax (dot - |c|^2/2)
            d2 = (
                (sub**2).sum(axis=1)[:, None]
                - 2.0 * (sub @ cent.T)
                + (cent**2).sum(axis=1)[None, :]
            )
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                pts = sub[assign == c]
                if len(pts):  # empty cell keeps previous centroid
                    cent[c] = pts.mean(axis=0)
        books.append(tuple(tuple(float(x) for x in c) for c in cent))
    return PQCodebooks(books=tuple(books), n_dims=n_dims)


def pq_encode(
    corpus: DataFrame,
    cb: PQCodebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: dict[str, str] | None = None,
) -> DataFrame:
    """``[vec_id, codes array<int>, vnorm double]`` — one narrow
    Arrow-batched pass, no shuffle.  ``vnorm`` is the EXACT vector norm
    (cosine denominators are not quantized; only the dot is), so a
    zero vector stays exactly representable (scores 0 downstream); a
    NULL source vector encodes with ``vnorm = NaN`` so serving can tell
    it from a genuine zero vector (r9 ADVICE).

    ``extra_cols`` ({name: ddl_type}) passes input columns through
    unchanged — the IVF-PQ augmentation keeps the ``cell`` partition
    key beside each code row so the codes sidecar prunes identically
    to the float cells.

    r10: ``mapInArrow`` — this is the build-side corpus pass, and the
    pandas bridge's per-row vector objects measured ~2 s per million
    rows (see ann_index._assign_cells); the Arrow list column decodes
    with one ``flatten().reshape()`` and the code rows are emitted as
    one ListArray built from a flat buffer."""
    slices = _subspace_slices(cb.n_dims, cb.m_subspaces)
    books = cb.books
    n_dims = cb.n_dims
    extra = dict(extra_cols or {})
    schema = "vec_id long, codes array<long>, vnorm double" + "".join(
        f", {name} {ddl}" for name, ddl in extra.items()
    )
    out_pa_schema = arrow_schema(schema)
    dec = by_value(decode_list_matrix)  # canonical decode (r12; this
    # closure inlined its own copy r10–r11), shipped by value

    def _enc(batches):
        # SELF-CONTAINED worker closure (repo convention): referencing
        # a module-level helper here would make cloudpickle serialize
        # it BY REFERENCE and the executor-side Python worker would
        # try `import polars_w_inverted_index_spark` — which only
        # resolves when the driver's cwd happens to be the repo root.
        # Everything this touches is an import or a closure VALUE.
        guard_import_caches()
        import numpy as np
        import pyarrow as pa

        cents = [np.asarray(b, dtype=np.float64) for b in books]
        cent_sq = [(c**2).sum(axis=1) for c in cents]
        m = len(slices)
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            col = rb.column(1)
            mat, live, _lens = dec(col, n, width=n_dims)
            codes = np.empty((n, m), dtype=np.int64)
            for s, (lo, hi) in enumerate(slices):
                sub = mat[:, lo:hi]
                d2 = cent_sq[s][None, :] - 2.0 * (sub @ cents[s].T)
                codes[:, s] = d2.argmin(axis=1)  # |x|^2 const per row
            vnorm = np.linalg.norm(mat, axis=1)
            # NaN vnorm marks "never a candidate": NULL vectors, and
            # (r12) any undefined-norm row — NULL/NaN elements already
            # norm to NaN; an ±inf element norms to inf, so force it —
            # the codes path quantizes honest geometry only (the
            # gated index can't contain such rows anyway; bare
            # pq_encode callers get the documented drop)
            vnorm[~live | ~np.isfinite(vnorm)] = np.nan
            # (zero vectors stay exactly 0.0 — scored 0 downstream)
            codes_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * m, m, dtype=np.int32)
                ),
                pa.array(codes.ravel(), type=pa.int64()),
            )
            arrays = [
                rb.column(0).cast(out_pa_schema.field(0).type),
                codes_arr.cast(out_pa_schema.field(1).type),
                pa.array(vnorm, type=out_pa_schema.field(2).type),
            ]
            for i in range(len(extra)):
                arrays.append(rb.column(2 + i))
            yield pa.RecordBatch.from_arrays(arrays, schema=out_pa_schema)

    sel = [F.col(id_col), F.col(vec_col)] + [F.col(n) for n in extra]
    return corpus.select(*sel).mapInArrow(_enc, schema)


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    cb: PQCodebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Approximate cosine top-k by ADC over PQ codes:
    ``[query_id, neighbor_id, cos_sim, rank]`` (``cos_sim`` is the
    QUANTIZED estimate — rerank via :func:`pq_topk_rerank` for exact
    scores).  Each query precomputes an (m × n_codes) dot-product
    lookup table; a code row scores in m table reads — the corpus scan
    never touches float vectors.  Same bounded-query contract and
    per-batch local top-k shuffle shape as ``brute_force_topk_gemm``
    (functions/topk.py)."""
    import numpy as np

    q_rows = collect_queries(
        queries, id_col, vec_col, max_query_rows, "pq_topk"
    )
    if not q_rows:
        return empty_topk(encoded.sparkSession, "long")
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    q_mat, q_norm, q_zero = prep_queries(
        [r["qv"] for r in q_rows], cb.n_dims
    )
    slices = _subspace_slices(cb.n_dims, cb.m_subspaces)
    books = cb.books

    scan_ddl = topk_ddl("long")
    scan_pa_schema = arrow_schema(scan_ddl)
    dec = by_value(decode_list_matrix)  # codes are small ints, exact
    # through its float64 matrix
    cos = by_value(cosine_block)
    hup = by_value(half_up)
    emit = by_value(local_topk)

    def _scan(batches):
        # Arrow-native: codes decode to the (batch × m) int matrix with
        # one flatten+reshape, no per-row Python
        guard_import_caches()
        import numpy as np

        cents = [np.asarray(b, dtype=np.float64) for b in books]
        # luts[s]: (n_codes, n_queries) — approx_dot(x, q) =
        # sum_s luts[s][code_s(x), q]
        luts = [
            cents[s] @ q_mat[:, lo:hi].T
            for s, (lo, hi) in enumerate(slices)
        ]
        m = len(slices)
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            c_ids = rb.column(0).to_numpy(zero_copy_only=False)
            codes = dec(rb.column(1), n, width=m)[0].astype(np.int64)
            vnorm = rb.column(2).to_numpy(zero_copy_only=False)
            dots = luts[0][codes[:, 0]]
            for s in range(1, m):
                dots = dots + luts[s][codes[:, s]]
            # NaN vnorm is pq_encode's "never a candidate" marker (NULL
            # or undefined-norm source vector); only genuine zeros take
            # the otherwise-0 branch
            sims = cos(dots, vnorm, q_norm, vnorm == 0, q_zero)
            live = ~np.isnan(vnorm)
            yield from emit(
                [(hup(sims, round_digits), c_ids, live, q_ids)],
                k,
                scan_pa_schema,
            )

    scored = encoded.select("vec_id", "codes", "vnorm").mapInArrow(
        _scan, scan_ddl
    )
    return rank_topk(scored, k)


def pq_topk_rerank(
    corpus: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    cb: PQCodebooks,
    k: int = 5,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """PQ-recall + exact re-rank: ADC proposes ``k·rerank_factor``
    candidates per query, ONE corpus join (broadcast candidate ids —
    |Q|·k·factor rows, tiny by the bounded-query contract) fetches the
    true vectors, exact cosine re-scores, window keeps the final top-k.
    With ``k·rerank_factor >= |corpus|`` this equals brute force exactly
    — the property the tests pin.  The corpus is scanned once for the
    candidate fetch; the ADC scan reads only the compressed codes."""
    cand = pq_topk(
        encoded,
        queries,
        cb,
        k=max(k * rerank_factor, k),
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
        max_query_rows=max_query_rows,
    ).select("query_id", "neighbor_id")
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    return exact_rerank(cv, cand, queries, id_col, vec_col, k, round_digits)
