"""Similarity search over embedding columns.

Two tiers (SURVEY.md scope directive):

- :func:`brute_force_topk` — exact cosine top-k: query set × corpus, built
  entirely from ``zip_with``/``aggregate`` expressions + a ranking window.
  Correct at any scale but O(|Q|·|C|); the baseline and the verifier for
  the approximate path.
- :func:`lsh_bucketed_topk` — random-hyperplane LSH (sign sketch): each
  vector gets a ``n_planes``-bit signature; candidates are vectors sharing
  a signature prefix bucket; exact cosine re-ranks within buckets.  The
  hyperplanes are deterministic pseudo-random (hash of (plane, dim)), so
  signatures are reproducible across engines and runs — no RNG state.

Scale shape: brute force is a broadcast of the (small) query set against a
map-side cosine + per-partition top-k (the window does partial top-k before
the final shuffle since Spark pushes rank filters into sort-based partial
aggregation via TakeOrdered); LSH replaces the full corpus scan per query
with a bucket-equi-join — the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrow_batches import decode_list_matrix
from ..functions.pickling import by_value, guard_import_caches
from ..functions.topk import (
    arrow_schema,
    collect_queries,
    cosine_block,
    empty_topk,
    half_up,
    local_topk,
    prep_queries,
    rank_topk,
    topk_ddl,
)
from ..functions.vectors import cosine_with_norms, norm
from ..plans.distribution import plan_size_bytes


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Exact cosine top-k: ``[query_id, neighbor_id, cos_sim, rank]``.

    Self-matches (same id) are excluded.  Ranking is deterministic:
    (rounded sim DESC, neighbor_id ASC) — rounding before ranking keeps
    tie order identical across engines whose float sums differ in ulps.

    This is the ground-truth TWIN (cost O(|queries|·|corpus|)), meant
    for bounded corpora — recall measurement, tests, small serving
    sets.  When the corpus side's optimizer size estimate exceeds the
    broadcast threshold the call raises unless ``allow_full_scan=True``
    (the interval_join raise-loudly discipline): a corpus that merely
    LOOKS small must not silently become a shuffled cartesian.  The
    scale paths are :func:`ivf_topk` / :func:`lsh_bucketed_topk` /
    ``ann_index.ann_search``.
    """
    # ONE smallness probe per call, reused for both the guard and the
    # broadcast choice: for stats-less python/RDD-backed frames each
    # _is_small is a limit(N+1).count() Spark job, so evaluating it
    # twice doubled the probe cost on every serve.  (The corpus
    # estimate is >= the projected-c estimate, so deciding broadcast on
    # it is the conservative direction.)
    small = _is_small(corpus)
    if not allow_full_scan and not small:
        try:
            est = f"{plan_size_bytes(corpus)} bytes"
        except Exception:  # pragma: no cover - stats access failed
            est = "unavailable"
        raise ValueError(
            "brute_force_topk is an exact O(|queries|*|corpus|) scan and "
            f"the corpus side's optimizer estimate ({est}) exceeds "
            "the broadcast threshold - at scale this is a shuffled "
            "cartesian. Pass allow_full_scan=True to acknowledge the "
            "cost (ground-truth/recall runs), or use ivf_topk / "
            "lsh_bucketed_topk / ann_index.ann_search."
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    # NULL corpus vectors are never neighbors (the family-wide rule,
    # r9 ADVICE): without this filter the cosine's zero-norm fallback
    # fabricates 0.0 for a NULL vector, which would outrank genuine
    # negative-sim matches — the exact bug fixed in ann_search; the
    # LSH twins (lsh/pairs) drop NULLs via their null-bucket joins,
    # ivf_topk filters them explicitly (its all-NULL centroid cosines
    # would otherwise still earn a row_number), and the GEMM twin
    # live-masks them (r11 fuzz).
    c = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        q.crossJoin(F.broadcast(c) if small else c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("qv", "cv", F.col("qn"), F.col("cn")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return rank_topk(scored, k)


_PROBE_ROWS = 10_000


def _is_small(df: DataFrame) -> bool:
    # Corpus side of the cross join: small = the optimizer's size
    # estimate fits the session broadcast threshold (the same heuristic
    # the planner itself would apply).  Frames with UNKNOWN stats (the
    # defaultSizeInBytes Long.Max sentinel, no file inputs — python- or
    # RDD-backed plans) get a BOUNDED row probe instead: limit(N+1)
    # reads at most N+1 rows however large the frame is, so an
    # arbitrarily large RDD-backed corpus cannot fail OPEN into a
    # broadcast (the r8 review finding) while tiny createDataFrame
    # test corpora still count as small.  Any estimate failure counts
    # as NOT small — the guard must fail loud, not open.
    try:
        thresh = int(
            df.sparkSession._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold()
        )
        size = plan_size_bytes(df)
        if size >= (1 << 62) and not df.inputFiles():
            return df.limit(_PROBE_ROWS + 1).count() <= _PROBE_ROWS
        return 0 <= size <= max(thresh, 0)
    except Exception:
        return False


def plane_weights(p: int, n_dims: int) -> list[int]:
    """H_p[d] ∈ {-1,+1} from the parity of md5(f"plane{p}:{d}") —
    deterministic, data-independent, identical in every engine.  Computed
    driver-side ONCE and embedded as literals: per-row cost drops from
    n_planes·n_dims md5 string pipelines to pure multiply-adds."""
    import hashlib

    return [
        (int(hashlib.md5(f"plane{p}:{d}".encode()).hexdigest()[:15], 16) & 1)
        * 2
        - 1
        for d in range(n_dims)
    ]


def hyperplane_signature(
    df: DataFrame,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int = 64,
) -> DataFrame:
    """``[vec_id, sig: long, embedding]`` — bit p of sig = sign of
    <v, H_p> with H_p a literal ±1 weight vector (:func:`plane_weights`).
    A ±1 hyperplane family is distribution-free and needs no stored model;
    signature computation is a narrow map.  Vectors interact with the
    planes over the PREFIX ``min(len(v), n_dims)`` — both zip sides are
    sliced because ``zip_with`` null-pads the shorter array (it does not
    stop) and one null poisons the fold; the prefix rule matches the
    GEMM path's ``[:n_dims]`` truncation and the DuckDB twin's
    ``least(length(v), n_dims)``, so an embedding-width drift degrades
    all three engines identically instead of null-ing one of them.
    """
    # ONE nested array<array<double>> literal instead of n_planes
    # separate 64-literal array expressions: the per-plane formulation
    # built a ~1024-node tree whose analysis/optimization dominated
    # small-batch wall time (measured 2× on the signature job); the
    # single-literal + transform form is equal output, half the cost.
    v = F.col(vec_col)
    planes = [
        [float(x) for x in plane_weights(p, n_dims)]
        for p in range(n_planes)
    ]
    vp = F.slice(v, 1, n_dims)
    wlen = F.least(F.size(v), F.lit(n_dims))
    proj = F.transform(
        F.lit(planes),
        lambda w: F.aggregate(
            F.zip_with(
                vp, F.slice(w, 1, wlen), lambda x, h: x.cast("double") * h
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    powers = F.lit([int(1 << p) for p in range(n_planes)])
    sig = F.aggregate(
        F.zip_with(
            proj,
            powers,
            lambda pr, pw: F.when(pr > 0, pw.cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return df.select(
        F.col(id_col).alias("vec_id"), sig.alias("sig"), v.alias(vec_col)
    )


def brute_force_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k via per-partition numpy GEMM (``mapInArrow``).

    Same result contract as :func:`brute_force_topk`; different engine
    path.  The expression form evaluates an interpreted higher-order dot
    per (query, candidate) pair; here each Arrow batch of corpus vectors
    becomes one matrix, queries are collected once to the driver (they are
    small by contract — this is the k-NN-against-query-set shape) and
    shipped in the closure, and scoring is one C·Qᵀ GEMM per batch —
    the one hot path where Python beats built-in expressions because it
    buys BLAS.  Per-batch local top-k keeps the shuffle tiny: only
    |Q|·k rows per batch reach the final global rank
    (functions/topk.py holds the serve's shared rules).
    """
    import numpy as np

    q_rows = collect_queries(
        queries, id_col, vec_col, max_query_rows, "brute_force_topk_gemm"
    )
    if not q_rows:
        return empty_topk(corpus.sparkSession, "long")
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    q_lists = [r["qv"] for r in q_rows]
    widths = sorted({len(v) for v in q_lists if v is not None})
    if len(widths) > 1:
        raise ValueError(
            f"brute_force_topk_gemm queries carry mixed widths "
            f"{widths}: the GEMM contract is ONE query width (the "
            "corpus decodes to it) — project the queries to a fixed "
            "width first, or use brute_force_topk (whose zip_with "
            "null-pad semantics define the ragged case)."
        )
    nd = widths[0] if widths else 1
    q_mat, q_norm, q_zero = prep_queries(q_lists, nd)

    score_ddl = topk_ddl("long")
    score_pa_schema = arrow_schema(score_ddl)
    dec = by_value(decode_list_matrix)
    cos = by_value(cosine_block)
    hup = by_value(half_up)
    emit = by_value(local_topk)

    def _score(batches):
        # Arrow-native: one flatten+reshape decodes each batch with
        # zero per-row Python (ann_index._assign_cells has the
        # pattern's rationale)
        guard_import_caches()
        import numpy as np

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            c_mat, live, _lens, c_nullelem = dec(
                rb.column(1), n, width=nd, with_null_elem=True
            )
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = cos(
                c_mat @ q_mat.T, c_norm, q_norm,
                c_nullelem | (c_norm == 0), q_zero,
            )
            c_ids = rb.column(0).to_numpy(zero_copy_only=False)
            yield from emit(
                [(hup(sims, round_digits), c_ids, live, q_ids)],
                k,
                score_pa_schema,
            )

    scored = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("cv")
    ).mapInArrow(_score, score_ddl)
    return rank_topk(scored, k)


def _ivf_assign_gemm(
    df: DataFrame,
    cent_rows: list,
    keep_n: int,
    out_id: str,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """GEMM twin of ``ivf_topk``'s expression ``_cells``: per input row,
    the ``keep_n`` best centroids by rounded cosine — ``[out_id, cid,
    vec_col]`` (norms are recomputed as expressions downstream so the
    re-rank stays byte-identical to the JVM form).

    Replaces a crossJoin(broadcast centroids) + per-pair interpreted
    cosine fold + ranking WINDOW (a shuffle on the row id) with one
    narrow ``mapInArrow``: batch matrix × centroidᵀ GEMM, half-up
    round, then a per-row argmax (``keep_n`` = 1, the corpus-assign
    hot path — columns pass through untouched, the ann_index
    ``_assign_cells`` discipline) or lexsort (probe side).  Edge
    semantics replicate the expression form exactly (fuzz-pinned by
    ``test_ivf_assign_gemm_twin``):

    - zero-norm / NULL / NULL-ELEMENT vector (or centroid) → ccos
      0.0: Spark's guard falls to otherwise-0 when the norm is NULL (a
      NULL element poisons the fold) or fails ``> 0`` (zero norm) —
      the GEMM mask is ``null_elem | (norm == 0)``, with ``null_elem``
      from the Arrow validity bitmap because the decoded matrix can't
      tell a NULL element from a NaN one (r12 bad-element fuzz);
    - a NaN-ELEMENT vector is the OTHER branch: its NaN norm PASSES
      Spark's ``> 0`` (NaN is Spark's largest double, unlike numpy),
      ccos is NaN, and NaN ranks FIRST under DESC — tiered below;
    - width mismatch with both norms > 0 → NULL ccos (``zip_with``
      null-pads, one null poisons the fold) — ranks AFTER every
      non-null ccos, ties by cid ascending;
    - ranking key is the ROUNDED ccos (F.round's BigDecimal HALF_UP —
      ``functions.topk.half_up``, shipped by value like the decode; both
      twins pass NaN/±inf through the round, matching Spark's
      non-finite special case in ``Round``), cid breaks ties
      (``cent_rows`` is sorted by cid, so argmax-first-hit == lowest
      cid, the _collect_centroids convention);
    - an INF-element vector (r11 ADVICE) has norm inf, passes the
      ``norm > 0`` live mask in BOTH twins, and its cosines come out
      NaN (inf/inf) identically in both — the divergence was ORDER:
      Spark sorts NaN above every double (DESC → rank first) while a
      plain lexsort/argmax ranks NaN last, so the sort key is tiered
      ``NaN < value < NULL`` to replicate Spark exactly.
    """
    import numpy as np

    dec = by_value(decode_list_matrix)
    hup = by_value(half_up)
    cent_rows = sorted(cent_rows, key=lambda r: int(r[0]))
    cids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    cvecs = [np.asarray(r[1], dtype=np.float64) for r in cent_rows]
    # NULL-element flags from the RAW rows: np.asarray turns None into
    # NaN, indistinguishable from a NaN element, but Spark branches
    # them apart (NULL norm → otherwise-0; NaN norm → scored NaN)
    c_nullelem = np.array(
        [any(x is None for x in r[1]) for r in cent_rows], dtype=bool
    )
    clens = np.array([len(v) for v in cvecs], dtype=np.int64)
    cw = max((int(x) for x in clens), default=1)
    cmat_base = np.zeros((len(cvecs), cw), dtype=np.float64)
    for i, v in enumerate(cvecs):
        cmat_base[i, : len(v)] = v
    cnorms = np.linalg.norm(cmat_base, axis=1)
    keep = min(int(keep_n), len(cids)) if len(cids) else 0

    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_ddl = (
        f"{out_id} {in_fields[id_col]}, cid long, "
        f"{vec_col} {in_fields[vec_col]}"
    )
    pa_schema = arrow_schema(out_ddl)
    rdigits = int(round_digits)

    def _assign(batches):
        guard_import_caches()
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n or not keep:
                continue
            col = rb.column(1)
            mat, _live, lens, null_e = dec(
                col, n, min_width=cw, with_null_elem=True
            )
            w = mat.shape[1]
            cmat = (
                cmat_base
                if cw == w
                else np.pad(cmat_base, ((0, 0), (0, w - cw)))
            )
            norms = np.linalg.norm(mat, axis=1)
            safe_n = np.where(norms > 0, norms, 1.0)
            safe_c = np.where(cnorms > 0, cnorms, 1.0)
            cos = hup(
                (mat @ cmat.T) / np.outer(safe_n, safe_c), rdigits
            )  # NaN/inf pass through, like Spark Round's non-finite case
            # Spark's otherwise-0 branch: NULL norm (a NULL ELEMENT —
            # from null_e, the decode's NaN can't tell it apart) or a
            # genuine zero norm.  A NaN norm (NaN/±inf elements) PASSES
            # Spark's `> 0` (NaN is its largest double) and scores NaN
            # — ranked first by the tiers below (r12 bad-element fuzz;
            # the old `norms > 0` mask replicated numpy, not Spark)
            zero_pair = (null_e | (norms == 0))[:, None] | (
                c_nullelem | (cnorms == 0)
            )[None, :]
            cos[zero_pair] = 0.0
            # width mismatch (both norms > 0): the expression fold is
            # NULL — sorts after all non-null ccos
            null_pair = (lens[:, None] != clens[None, :]) & ~zero_pair
            # NaN cosines (inf-element vectors): Spark ranks NaN ABOVE
            # every double and NULLS LAST under DESC, so the full Spark
            # order is NaN, values desc, NULL — the tiers below.
            nan_cos = np.isnan(cos)
            if keep == 1 and not (
                nan_cos.any() or (np.isneginf(cos) & ~null_pair).any()
            ):
                # argmax fast path (the corpus-assign full scan):
                # first max == lowest cid because cids are sorted.
                # Guarded: a NaN cos must rank FIRST (argmax ranks it
                # by propagation order, not Spark's rule) and a true
                # -inf cos must beat the NULL sentinel — both fall to
                # the tiered lexsort below.
                best = np.argmax(np.where(null_pair, -np.inf, cos), axis=1)
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0).cast(pa_schema.field(0).type),
                        pa.array(
                            cids[best], type=pa_schema.field(1).type
                        ),
                        col.cast(pa_schema.field(2).type),
                    ],
                    schema=pa_schema,
                )
                continue
            # tiered primary: 0 = NaN (Spark's largest double, first
            # under DESC), 1 = ordinary value, 2 = NULL (NULLS LAST);
            # secondary: ccos desc; tertiary: cid asc (np.lexsort:
            # LAST key is primary)
            order = np.lexsort(
                (
                    np.broadcast_to(cids, cos.shape),
                    np.where(null_pair | nan_cos, 0.0, -cos),
                    np.where(null_pair, 2, np.where(nan_cos, 0, 1)),
                ),
                axis=1,
            )[:, :keep]
            if keep == 1:
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0).cast(pa_schema.field(0).type),
                        pa.array(
                            cids[order[:, 0]],
                            type=pa_schema.field(1).type,
                        ),
                        col.cast(pa_schema.field(2).type),
                    ],
                    schema=pa_schema,
                )
                continue
            row_idx = np.repeat(np.arange(n, dtype=np.int64), keep)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0)
                    .take(pa.array(row_idx))
                    .cast(pa_schema.field(0).type),
                    pa.array(
                        cids[order.ravel()], type=pa_schema.field(1).type
                    ),
                    col.take(pa.array(row_idx)).cast(
                        pa_schema.field(2).type
                    ),
                ],
                schema=pa_schema,
            )

    return df.select(
        F.col(id_col).alias(out_id), F.col(vec_col)
    ).mapInArrow(_assign, out_ddl)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    assign: str = "gemm",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) partition.

    - **Centroids**: the ``n_centroids`` lowest-id corpus vectors —
      deterministic seeding, no RNG and no training job (a k-means
      refinement is a drop-in replacement: it only changes the centroid
      frame).  Centroids are tiny and broadcast.
    - **Assign**: every corpus vector scores against every centroid and
      keeps its argmax-cosine cell — one narrow pass over the corpus,
      output is an (id, cell) inverted file.  At 100 TB this is the one
      full scan, and it's reusable across queries (materialize like an
      index).  ``assign="gemm"`` (default) runs it as one Arrow-batched
      GEMM per input batch (:func:`_ivf_assign_gemm` — the crossJoin ×
      interpreted-cosine × ranking-window form measured 1.40 s at
      sf0.1, the GEMM form replaces both the per-pair folds AND the
      window shuffle); ``assign="expr"`` keeps the pure-JVM expression
      form as the equality twin.
    - **Probe**: each query ranks centroids, searches only its ``nprobe``
      best cells via an equi-join on cell id, exact cosine re-ranks —
      the re-rank cosine stays an expression in BOTH modes, so the
      emitted cos_sim is byte-identical to the DuckDB oracle's.

    Recall dial = (n_centroids, nprobe): cost per query ~ |corpus| ·
    nprobe / n_centroids candidates.  Complements LSH bucketing: IVF
    adapts to the data's actual directions (with trained centroids) where
    hyperplane LSH is distribution-free.
    """
    # NULL vectors are never neighbors (family rule): without this
    # filter a NULL row's all-NULL centroid cosines still get a
    # row_number (ties), landing it in a cell and — when the probed
    # cells hold < k real candidates — emitting it with NULL cos_sim
    # where brute_force_topk omits it (r11 review finding).
    corpus = corpus.where(F.col(vec_col).isNotNull())
    cent = corpus.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("centv"),
        norm(F.col(vec_col)).alias("centn"),
    )

    def _cells(df: DataFrame, out_id: str, keep_n: int) -> DataFrame:
        scored = (
            df.select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).alias("v"),
                norm(F.col(vec_col)).alias("vn"),
            )
            .crossJoin(F.broadcast(cent))
            .select(
                out_id,
                "v",
                "vn",
                "cid",
                F.round(
                    cosine_with_norms("v", "centv", F.col("vn"), F.col("centn")),
                    round_digits,
                ).alias("ccos"),
            )
        )
        w = Window.partitionBy(out_id).orderBy(
            F.col("ccos").desc(), F.col("cid").asc()
        )
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .where(F.col("crank") <= keep_n)
            .select(out_id, "cid", "v", "vn")
        )

    if assign == "gemm":
        # Bounded collect with a LOUD guard (the _collect_centroids
        # discipline): `id < n_centroids` caps the row count only for
        # dense non-negative id spaces — with negative/offset ids every
        # low-id row qualifies, and an unguarded collect would pull an
        # arbitrary corpus slice to the driver (r11 review finding).
        cent_rows = [
            (r["cid"], r["centv"])
            for r in cent.select("cid", "centv")
            .limit(int(n_centroids) + 1)
            .collect()
        ]
        if len(cent_rows) > int(n_centroids):
            raise ValueError(
                f"ivf_topk centroid seeding matched more than "
                f"n_centroids={n_centroids} rows: the seed rule "
                f"`{id_col} < n_centroids` assumes a dense non-negative "
                "id space. Re-id the corpus (or pass assign='expr', "
                "which keeps the seed frame executor-side)."
            )
        inv_file = _ivf_assign_gemm(
            corpus, cent_rows, 1, "neighbor_id", id_col, vec_col,
            round_digits,
        ).select(
            "neighbor_id",
            "cid",
            F.col(vec_col).alias("cv"),
            norm(F.col(vec_col)).alias("cn"),  # expression norm — the
            # re-rank below stays byte-identical to the "expr" mode
        )
        probes = _ivf_assign_gemm(
            queries, cent_rows, nprobe, "query_id", id_col, vec_col,
            round_digits,
        ).select(
            "query_id",
            "cid",
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
        )
    else:
        inv_file = _cells(corpus, "neighbor_id", 1).withColumnRenamed(
            "v", "cv"
        ).withColumnRenamed("vn", "cn")
        probes = _cells(queries, "query_id", nprobe).withColumnRenamed(
            "v", "qv"
        ).withColumnRenamed("vn", "qn")
    scored = (
        probes.join(inv_file, "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("qv", "cv", F.col("qn"), F.col("cn")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return rank_topk(scored, k)


def hyperplane_signature_gemm(
    df: DataFrame,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int = 64,
) -> DataFrame:
    """GEMM engine path for :func:`hyperplane_signature` — same
    ``[vec_id, sig, embedding]`` contract, same values, Arrow-batched
    numpy instead of interpreted folds.

    The expression form's per-plane ``aggregate``/``zip_with`` never
    codegens, so the signature pass costs n_planes·n_dims interpreted
    lambda evals PER ROW (~1k/row at the defaults — it dominated
    ``lsh_bucketed_topk`` wall time, measured 2.97 s of which the two
    signature passes were most at sf0.1).  Here each Arrow batch decodes
    to one (rows × n_dims) matrix (``flatten().reshape()``, the r10
    vector-family pattern) and all signatures are one M·Wᵀ GEMM + one
    sign-bit pack.

    Value parity with the expression form and the DuckDB twin
    (``registry_ext._hyperplane_sig_sql``) holds because the ±1 weights
    make each projection a signed SUM of vector elements: summation
    order can differ only by float rounding, and a sign flip needs
    |proj| within ulp-reordering distance of 0 (measured margin on the
    test embeddings: ≥6.7e-5 at every SF, ~8 orders above the
    reordering error; the dedup GEMM bucketing — same math, same oracle
    family — has been driver-green since r9).  Edge semantics are the
    expression form's exactly, fuzz-pinned by
    ``test_dedup_similarity.test_hyperplane_signature_gemm_twin``:
    NULL / empty / all-zero vectors sign to 0 (a zero matrix row),
    NULL-ELEMENT vectors sign to 0 (NULL-poisoned fold, every plane's
    otherwise-0 branch), NaN-ELEMENT vectors set EVERY NaN plane's bit
    (Spark's ``NaN > 0`` is TRUE — r12 bad-element fuzz), short
    vectors zero-pad (== the prefix-slice rule), wide vectors truncate
    at ``n_dims``.
    """
    import numpy as np

    dec = by_value(decode_list_matrix)
    w_mat = np.array(
        [plane_weights(p, n_dims) for p in range(n_planes)],
        dtype=np.float64,
    )
    bits_vec = 1 << np.arange(n_planes, dtype=np.int64)

    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    sig_ddl = (
        f"vec_id {in_fields[id_col]}, sig long, "
        f"{vec_col} {in_fields[vec_col]}"
    )
    sig_pa_schema = arrow_schema(sig_ddl)

    def _sign(batches):
        guard_import_caches()
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            col = rb.column(1)
            # NULL rows stay all-zero → proj 0 → sig 0, the expression
            # form's value (its NULL-poisoned fold lands in when()'s
            # otherwise-0 branch per plane).  A NULL ELEMENT poisons
            # the expression fold to NULL → bit 0 on EVERY plane →
            # sig 0 (null_e rows forced below — the decode's NaN can't
            # tell NULL from NaN elements).  A NaN ELEMENT is the
            # OTHER branch (r12 bad-element fuzz): the fold value is
            # NaN and Spark's `NaN > 0` is TRUE (NaN is its largest
            # double), so every NaN plane sets its bit — hence the
            # isnan term, where plain numpy `> 0` would leave it 0.
            mat, _live, _lens, null_e = dec(
                col, n, width=n_dims, with_null_elem=True
            )
            proj = mat @ w_mat.T
            bits = (proj > 0) | np.isnan(proj)
            bits[null_e] = False
            sig = bits @ bits_vec
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0).cast(sig_pa_schema.field(0).type),
                    pa.array(sig, type=sig_pa_schema.field(1).type),
                    col.cast(sig_pa_schema.field(2).type),
                ],
                schema=sig_pa_schema,
            )

    return df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col)
    ).mapInArrow(_sign, sig_ddl)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 16,
    prefix_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    n_dims: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: candidates share a ``prefix_bits`` LSH
    bucket, exact cosine re-ranks.  Returns the same shape as
    :func:`brute_force_topk` (ranks may differ — it's approximate).

    The bucket join key has ~2^prefix_bits values; at 100 TB increase
    n_planes/prefix_bits so per-bucket candidate counts stay bounded
    (bucket size scales as corpus / 2^prefix_bits for near-uniform data).

    Signatures come from :func:`hyperplane_signature_gemm` (one GEMM per
    Arrow batch; the expression form stays the pure-JVM twin, equality
    fuzz-pinned); the candidate cosine re-rank stays in expressions —
    it touches only bucket-mates, so the interpreted fold cost is
    bounded by the bucket dial, and keeping it JVM-side leaves the
    rounding/ordering contract byte-identical to the DuckDB oracle.
    """
    mask = (1 << prefix_bits) - 1
    cs = hyperplane_signature_gemm(corpus, n_planes, id_col, vec_col, n_dims).select(
        F.col("vec_id").alias("neighbor_id"),
        (F.col("sig").bitwiseAND(mask)).alias("bucket"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    qs = hyperplane_signature_gemm(queries, n_planes, id_col, vec_col, n_dims).select(
        F.col("vec_id").alias("query_id"),
        (F.col("sig").bitwiseAND(mask)).alias("bucket"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        qs.join(cs, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("qv", "cv", F.col("qn"), F.col("cn")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return rank_topk(scored, k)


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall of an approximate top-k result against the exact one:
    ``[n_queries, mean_recall, min_recall]`` (1 row).

    Per query, recall = |approx ∩ exact| / |exact|; queries the exact
    result knows but the approximate result missed entirely count as 0
    (an LSH/IVF path can lose a whole query when its bucket/probe set is
    empty — exactly the failure this metric must surface).  This is the
    tuning loop for the recall dials (``prefix_bits``, ``nprobe``,
    band count): measure against :func:`brute_force_topk` on a sample,
    then turn the dial — don't guess.

    Cost: one join on (query, neighbor) + two small aggregations —
    usable at evaluation-sample scale by construction.
    """
    e = exact.select(
        F.col(query_col).alias("q"), F.col(neighbor_col).alias("n")
    )
    a = approx.select(
        F.col(query_col).alias("q"), F.col(neighbor_col).alias("n")
    )
    truth = e.groupBy("q").agg(F.count("*").alias("n_exact"))
    hits = (
        e.join(a, ["q", "n"], "left_semi")
        .groupBy("q")
        .agg(F.count("*").alias("n_hit"))
    )
    per_q = truth.join(hits, "q", "left").select(
        "q",
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias(
            "recall"
        ),
    )
    return per_q.agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.round(F.min("recall"), 6).alias("min_recall"),
    )
