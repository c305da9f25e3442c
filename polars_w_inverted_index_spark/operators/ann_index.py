"""Materialized ANN index: trained IVF centroids + cell-partitioned
inverted file, persisted as parquet artifacts and served with ZERO
corpus scans per query.

The inline :func:`..operators.similarity.ivf_topk` re-derives its
inverted file on every call (since r11 through the same GEMM assign
shape as this module; ``assign="expr"`` keeps its pure-expression twin)
— correct, but at 100 TB the corpus assignment pass is the dominant
cost and it is a pure function of the corpus content, so it belongs in
a reusable artifact exactly like the postings index
(`plans/catalog.py`, SURVEY.md §4's "one custom piece"; the reference
likewise rebuilds its postings map per query, main.rs:325-385 —
materialization is the same fix applied to vectors).

Layout under ``root``::

    centroids/                 parquet [cid int, centv array<double>, centn double]
    cells/cell=<c>/ingest_batch=<g>/  base: parquet [vec_id long, cv array<double>, cn double]
    deltas/ingest_batch=<b>/   one ingest commit: parquet [cell, vec_id, cv, cn], sorted by cell
    _ann_meta.json             {n_centroids, n_iters, dims, id_col, vec_col}
    _cells_manifest.json       live (cell, ingest_batch) pairs (snapshot manifest)

``ingest_batch`` tags WHICH write produced each file.  The base tree
``cells`` is **partition-by-cell**: the build writes ``ingest_batch=-1``
and each fold a fresh generation ``-<gen>``, so a probe of ``nprobe``
cells prunes to those directories at the file-listing level (static
partition pruning — the probe cell set is collected from the tiny
centroid ranking, never from the corpus), and per-query base I/O is
O(corpus · nprobe / n_centroids) regardless of corpus size.

Each streaming micro-batch is **commit-major**: one directory
``deltas/ingest_batch=<batch id>`` holding every touched cell's rows,
with ``cell`` a data column and the rows sorted by it, so a commit
writes a few files instead of one per touched cell and a reader names
one path per live commit instead of one per (cell, commit).  A batch
whose append committed but whose marker write crashed is removed
exactly (delete its commit directory) before the replay re-appends,
making streaming ingest idempotent (streaming/ann_ingest.py).  Folds
move a cell's delta rows back into its base leaf.

Centroid training is Lloyd's refinement written as DataFrame ops:

- assignment: one narrow Arrow-batched GEMM pass (collected bounded
  centroid matrix in the closure, per-batch numpy matmul + argmax —
  zero shuffle; see ``_assign_cells``), the only corpus-wide work per
  iteration;
- update: ``posexplode`` the assigned vectors, average per (cell, dim),
  re-assemble — shuffle keys bounded by n_centroids × dims, independent
  of corpus size;
- seeding: the ``n_centroids`` lowest-id vectors (deterministic, no RNG —
  same discipline as the LSH hyperplanes / minhash family: reproducible
  across engines and runs).

``localCheckpoint`` truncates lineage between iterations (iterative
plans otherwise stack one join+agg per round until analysis cost
explodes — same lesson as dedup_clusters' label propagation).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.arrow_batches import decode_list_matrix
from ..functions.atomic_json import read_json, write_json_atomic
from ..functions.pickling import by_value, guard_import_caches
from ..functions.topk import (
    arrow_schema,
    collect_queries,
    cosine_block,
    empty_topk,
    exact_rerank,
    half_up,
    local_topk,
    prep_queries,
    rank_topk,
    topk_ddl,
)
from ..functions.vectors import norm


def _centroid_frame(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("centv"),
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
) -> DataFrame:
    """``[cid, centv array<double>, centn double]`` after ``n_iters``
    Lloyd refinements of the deterministic lowest-id seed.

    Spherical-ish k-means: assignment by cosine, update by coordinate
    mean (cosine scoring is norm-invariant, so the un-normalized mean
    centroid ranks cells identically to the normalized one).  A cell
    that captures no vectors keeps its previous centroid (classic empty-
    cluster rule), so the centroid count is stable across iterations.
    ``n_iters=0`` returns the seed — on a dense-id NULL-free corpus
    exactly the inline ``ivf_topk`` centroid set (ids < n_centroids),
    making that operator the verifier twin there; with sparse ids or
    NULL vectors the seeds differ (this takes the n lowest-id non-NULL
    rows, ivf keeps its value-based id cut).
    """
    # seed from the lowest-id NON-NULL vectors: NULL vecs are masked
    # out of the Lloyd update (r10 ADVICE), so letting one seed a
    # centroid would crash _collect_centroids (iterating None) — the
    # same never-a-candidate rule applies to seeding (r11 fuzz)
    seed = (
        corpus.where(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col).asc())
        .limit(n_centroids)
    )
    cent = _centroid_frame(seed, id_col, vec_col)
    # cid values are the seed vectors' ids (not 0..n-1): stable,
    # deterministic labels — renumbering would break nothing but adds a
    # window pass for no benefit.
    for it in range(n_iters):
        c = cent.select(
            "cid", "centv", norm(F.col("centv")).alias("centn")
        )
        # Update step (r9): per-PARTITION partial sums instead of
        # exploding the assigned corpus.  The pre-r9 form posexploded
        # |corpus| × dims rows into the (cell, pos) shuffle — at 10⁹
        # rows × 64 dims that is a 64-billion-row exchange per Lloyd
        # iteration.  _cell_partial_sums accumulates (cell → Σvec, n)
        # across every Arrow batch of a partition and emits ≤
        # n_centroids rows per partition, so the shuffle carries
        # partitions × cells × dims rows pre-combine (map-side combine
        # collapses further) — independent of corpus row count.
        sums = _cell_partial_sums(
            corpus, c, vec_col, round_digits=round_digits
        )
        counts = sums.groupBy("cell").agg(F.sum("n").alias("cnt"))
        means = (
            sums.select("cell", F.posexplode("psum").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("sx"))
            .join(counts, "cell")
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                (F.col("sx") / F.col("cnt")).alias("m"),
                            )
                        )
                    ),
                    lambda s: s.getField("m"),
                ).alias("centv")
            )
            .select(F.col("cell").alias("cid"), "centv")
        )
        # empty-cluster rule: keep the old centroid where no vector landed
        cent = (
            cent.alias("old")
            .join(means.alias("new"), "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("new.centv"), F.col("old.centv")).alias(
                    "centv"
                ),
            )
        )
        if it < n_iters - 1:
            # truncate lineage BETWEEN iterations only (the standard
            # iterative pattern); the LAST iteration's eager checkpoint
            # was a wasted Spark job (r15, guide §1.2/§5): the single
            # caller (build_ann_index) executes the returned frame
            # exactly once — the centroids write — and reads the
            # parquet back, which severs lineage by construction.
            cent = cent.localCheckpoint(eager=True)
    return cent.select("cid", "centv", norm(F.col("centv")).alias("centn"))


_MAX_COLLECTED_CENTROIDS = 65_536


def _collect_centroids(centroids: DataFrame):
    """Bounded driver-side centroid matrix for the GEMM closures:
    ``(cids, cmat, cns, n_dims)`` sorted by cid (argmax first-hit ==
    lowest cid).  Loud guard — 4096 × 64-dim doubles is 2 MB."""
    cent_rows = (
        centroids.select("cid", "centv", "centn")
        .limit(_MAX_COLLECTED_CENTROIDS + 1)
        .collect()
    )
    if len(cent_rows) > _MAX_COLLECTED_CENTROIDS:
        raise ValueError(
            f"centroid frame collected for GEMM scoring exceeds "
            f"{_MAX_COLLECTED_CENTROIDS} rows — shard the index."
        )
    if not cent_rows:
        raise ValueError("empty centroid frame")
    cent_rows.sort(key=lambda r: r["cid"])
    cids = [r["cid"] for r in cent_rows]
    cmat = [[float(x) for x in r["centv"]] for r in cent_rows]
    cns = [float(r["centn"]) for r in cent_rows]
    n_dims = max(len(c) for c in cmat)
    # ragged seed widths (mixed-dim corpora) must still form one dense
    # GEMM matrix: zero-pad to the max width — padding changes neither
    # dots nor the stored norms (r11 fuzz)
    cmat = [c + [0.0] * (n_dims - len(c)) for c in cmat]
    return cids, cmat, cns, n_dims


# (centroids dir) -> (file-listing key, (cids, cmat, cns, n_dims,
# cell_ddl)).  Process-wide, like the fingerprint cache.
_CENTROID_CACHE: dict[str, tuple[tuple, tuple]] = {}


def _centroids_listing_key(cdir: str):
    """Exact data-file listing of the centroids dir — (name, size,
    mtime_ns) per part-file — or None (don't cache) when unreadable or
    empty.  Spark writes UNIQUE part-file names on every overwrite, so
    any rebuild changes the key; no race window is needed (the
    listing-token cache's 2 s guard exists for same-name in-place
    rewrites, which parquet writers never produce)."""
    try:
        entries = tuple(sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(cdir)
            if not e.name.startswith((".", "_"))
        ))
        return entries or None
    except OSError:
        return None


def _load_centroids(spark: SparkSession, root: str):
    """``(cids, cmat, cns, n_dims, cell_ddl)`` for the persisted
    centroids table, memoized on the exact file listing (r15, guide
    §1.2/§5): every serve AND every guarded ingest re-read + re-collected
    the (≤ 65,536-row, typically KB-sized) centroids per action — one
    relation setup plus one Spark job each, on rows whose cost is the
    per-action constant, not data.  The key is computed BEFORE the read
    (a write landing in between costs one later recompute, never a
    stale hit), and the single-writer maintenance contract means no
    concurrent rebuild races a serve's read."""
    cdir = os.path.join(root, "centroids")
    key = _centroids_listing_key(cdir)
    hit = _CENTROID_CACHE.get(cdir)
    if key is not None and hit is not None and hit[0] == key:
        return hit[1]
    cent = spark.read.parquet(cdir)
    cids, cmat, cns, n_dims = _collect_centroids(cent)
    out = (
        cids, cmat, cns, n_dims,
        cent.schema["cid"].dataType.simpleString(),
    )
    if key is not None:
        _CENTROID_CACHE[cdir] = (key, out)
    else:
        _CENTROID_CACHE.pop(cdir, None)
    return out


def _cell_partial_sums(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    round_digits: int = 5,
) -> DataFrame:
    """``[cell, psum array<double>, n long]`` — the Lloyd update's
    map side: assign each row to its best cell (same GEMM + tie rule
    as ``_assign_cells`` keep_n=1) and accumulate per-cell vector sums
    ACROSS every Arrow batch of the partition, emitting at most
    ``n_centroids`` rows per partition.  The reduce side then sums ≤
    partitions × cells × dims rows — independent of corpus size.
    Arrow-native decode (``mapInArrow``) like :func:`_assign_cells` —
    this is the per-Lloyd-iteration corpus pass, so the per-row pandas
    object cost it avoids is paid ``n_iters`` times otherwise."""
    cids, cmat, cns, n_dims = _collect_centroids(centroids)
    cell_ddl = centroids.schema["cid"].dataType.simpleString()
    rd = int(round_digits)
    out_ddl = f"cell {cell_ddl}, psum array<double>, n long"
    out_pa_schema = arrow_schema(out_ddl)
    dec = by_value(decode_list_matrix)  # canonical decode (r12)
    hup = by_value(half_up)

    def _sums(batches):
        # SELF-CONTAINED worker closure (repo convention)
        guard_import_caches()
        import numpy as np
        import pyarrow as pa

        C = np.zeros((len(cmat), n_dims), dtype=np.float64)
        for i, c in enumerate(cmat):
            C[i, : len(c)] = c[:n_dims]
        cn = np.asarray(cns, dtype=np.float64)
        cn_safe = np.where(cn > 0, cn, 1.0)
        acc = np.zeros((len(cmat), n_dims), dtype=np.float64)
        cnt = np.zeros(len(cmat), dtype=np.int64)
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            col = rb.column(0)
            # NULL vecs are EXCLUDED from the Lloyd update (numerator
            # AND denominator) — the pre-r9 posexplode form emitted no
            # rows for them, and counting a zero row dilutes the
            # lowest-cid centroid's mean toward zero (r9 ADVICE).
            # Genuine zero VECTORS still count (they did pre-r9 too).
            full, live, _lens = dec(col, n, width=n_dims)
            if not live.any():
                continue
            mat = full[live]  # compact to live rows for the accumulate
            vn = np.linalg.norm(mat, axis=1)
            vn_safe = np.where(vn > 0, vn, 1.0)
            cos = (mat @ C.T) / np.outer(vn_safe, cn_safe)
            # gate-clean inputs (the lifecycle refuses NULL/NaN/inf
            # elements), so norms are finite and ~(>0) == (== 0) —
            # genuine zero vectors take the guard's zero branch
            cos[~(vn > 0), :] = 0.0
            cos[:, ~(cn > 0)] = 0.0
            cos = hup(cos, rd)
            best = cos.argmax(axis=1)
            np.add.at(acc, best, mat)
            np.add.at(cnt, best, 1)
        hit = np.nonzero(cnt > 0)[0]
        if len(hit):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        [cids[i] for i in hit],
                        type=out_pa_schema.field(0).type,
                    ),
                    pa.array(
                        [acc[i].tolist() for i in hit],
                        type=out_pa_schema.field(1).type,
                    ),
                    pa.array(cnt[hit], type=out_pa_schema.field(2).type),
                ],
                schema=out_pa_schema,
            )

    return df.select(F.col(vec_col).alias("v")).mapInArrow(
        _sums, out_ddl
    )


def _assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    keep_n: int,
    round_digits: int = 5,
    width_flags: bool = False,
    _collected=None,
) -> DataFrame:
    """``[<id>, cell, crank, v, vn]`` — each vector's ``keep_n`` best
    centroids by cosine (ties → lowest cid, rounding before ranking for
    tie stability — same discipline as similarity.py).

    ONE vectorized Arrow pass: the centroid matrix is collected once
    (bounded — a loud guard at 65,536; 4096 × 64-dim doubles is 2 MB)
    and each batch scores as a single numpy GEMM,
    ``(batch × dims) @ (dims × n_centroids)``.  ZERO shuffle —
    the previous form crossJoined the corpus against the broadcast
    centroid frame and folded every pair through interpreted
    ``zip_with``/``aggregate`` lambdas (higher-order expressions never
    enter whole-stage codegen), which measured out at tens of MINUTES
    for 1M rows × 32 centroids on local[32] (r9 crossover run) and
    then still paid a |corpus|-row shuffle for the argmax.  The inline
    ``similarity.ivf_topk`` defaults to the same GEMM assign shape
    since r11 (its ``assign="expr"`` mode keeps the pure-expression
    twin that cross-engine fuzz compares against); this operator stays
    the scale path because its assignment is a REUSABLE artifact.

    r10: ``mapInArrow``, not ``mapInPandas`` — the pandas bridge
    materializes every vector as its own numpy OBJECT and the pad loop
    touches each row in Python, which measured ~2 s per million rows
    (the dominant serve/assign cost at 10 M rows, r10 crossover run);
    the Arrow list column decodes to the (batch × dims) matrix with one
    ``flatten().reshape()`` — zero per-row Python — and the id/vector
    columns pass through as Arrow arrays untouched.

    Vectors are zero-pad/truncated to the centroid width (the
    ``pad_matrix`` contract); zero-norm rows/centroids score 0.0.

    ``width_flags`` (r15, guide §4 / r14 VERDICT task 1): appends three
    per-row columns ``_wlo int, _whi int, _bad int`` — the batch-local
    width range over live rows and a has-NULL/NaN/±inf-element flag
    over the FULL (untruncated) vector — so the ingest path's
    ``_uniform_width`` gate folds into this same GEMM pass instead of
    paying its own Spark job per batch (the lifecycle row is
    action-count-bound).  The caller aggregates the flags in its
    existing counts collect and raises the gate's exact errors
    driver-side BEFORE any write.
    """
    if _collected is not None:
        # the _load_centroids memo: centroids may be None in this mode
        cids, cmat, cns, n_dims, cell_ddl = _collected
    else:
        cids, cmat, cns, n_dims = _collect_centroids(centroids)
        cell_ddl = centroids.schema["cid"].dataType.simpleString()
    id_ddl = df.schema[id_col].dataType.simpleString()
    vec_ddl = df.schema[vec_col].dataType.simpleString()
    kn, rd = int(keep_n), int(round_digits)
    wf = bool(width_flags)
    out_ddl = (
        f"_id {id_ddl}, cell {cell_ddl}, crank int, v {vec_ddl}, vn double"
    )
    if wf:
        out_ddl += ", _wlo int, _whi int, _bad int"
    out_pa_schema = arrow_schema(out_ddl)
    dec = by_value(decode_list_matrix)  # the canonical list→matrix
    # decode (functions/arrow_batches, r12 consolidation — this closure
    # inlined its own copy r10–r11), shipped by value per the
    # self-contained pickling convention
    hup = by_value(half_up)  # one rounding implementation (r12)

    def _gemm(batches):
        # SELF-CONTAINED worker closure (repo convention: imports inside,
        # everything else a closure VALUE — a module-level helper would
        # pickle by reference and executors would need the repo on path)
        guard_import_caches()
        import numpy as np
        import pyarrow as pa

        C = np.zeros((len(cmat), n_dims), dtype=np.float64)
        for i, c in enumerate(cmat):
            C[i, : len(c)] = c[:n_dims]
        cn = np.asarray(cns, dtype=np.float64)
        cn_safe = np.where(cn > 0, cn, 1.0)
        cell_t = out_pa_schema.field(1).type
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            id_arr = rb.column(0)
            v_arr = rb.column(1)
            # NULL vec -> zero row (scores 0); width pins to n_dims
            # (truncate/zero-pad, the pad_matrix contract)
            mat, _live, _lens = dec(v_arr, n, width=n_dims)
            vn = np.linalg.norm(mat, axis=1)
            vn_safe = np.where(vn > 0, vn, 1.0)
            cos = (mat @ C.T) / np.outer(vn_safe, cn_safe)
            # gate-clean inputs (the lifecycle refuses NULL/NaN/inf
            # elements), so norms are finite and ~(>0) == (== 0) —
            # genuine zero vectors take the guard's zero branch
            cos[~(vn > 0), :] = 0.0
            cos[:, ~(cn > 0)] = 0.0
            cos = hup(cos, rd)
            extra = []
            if wf:
                # batch-local width-gate flags over the FULL vectors:
                # lens are untruncated lengths; flatten() skips NULL
                # rows, and NULL ELEMENTS arrive as NaN in numpy, so
                # one isfinite sweep covers NULL/NaN/±inf alike
                ll = _lens[_live]
                wlo = int(ll.min()) if ll.size else None
                whi = int(ll.max()) if ll.size else None
                flat = v_arr.flatten().to_numpy(zero_copy_only=False)
                bad = int(flat.size and not np.isfinite(flat).all())
                i32 = out_pa_schema.field(-1).type
                extra = [
                    pa.array([wlo] * n, type=i32),
                    pa.array([whi] * n, type=i32),
                    pa.array([bad] * n, type=i32),
                ]
            if kn == 1:
                best = cos.argmax(axis=1)  # first max == lowest cid
                yield pa.RecordBatch.from_arrays(
                    [
                        id_arr,
                        pa.array([cids[i] for i in best], type=cell_t),
                        pa.array(
                            np.ones(n, dtype=np.int32),
                            type=out_pa_schema.field(2).type,
                        ),
                        v_arr,
                        pa.array(vn, type=out_pa_schema.field(4).type),
                    ] + extra,
                    schema=out_pa_schema,
                )
                continue
            k = min(kn, len(cids))
            # stable sort on -cos keeps index (== cid) order on ties
            top = np.argsort(-cos, axis=1, kind="stable")[:, :k]
            take = pa.array(np.repeat(np.arange(n, dtype=np.int64), k))
            yield pa.RecordBatch.from_arrays(
                [
                    id_arr.take(take),
                    pa.array(
                        [cids[i] for i in top.ravel()], type=cell_t
                    ),
                    pa.array(
                        np.tile(np.arange(1, k + 1, dtype=np.int32), n),
                        type=out_pa_schema.field(2).type,
                    ),
                    v_arr.take(take),
                    pa.array(
                        np.repeat(vn, k), type=out_pa_schema.field(4).type
                    ),
                ] + [a.take(take) for a in extra],
                schema=out_pa_schema,
            )

    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("v")
    )
    return base.mapInArrow(_gemm, out_ddl)


def _uniform_width(
    df: DataFrame, vec_col: str, where: str, want: int | None = None
) -> int | None:
    """The index-lifecycle width contract (r11 fuzz): every non-NULL
    vector entering a materialized index must share ONE width (the
    recorded ``dims``), validated with a single column-pruned aggregate.

    Before this guard, a mixed-width corpus was scored at the CENTROID
    matrix width while the query guard pinned the FIRST row's width —
    two different projections of the same row (fuzz counterexample: a
    w3 row in a w2 index served cos 0.8165 where every consistent
    projection gives 1.0).  Low-level kernels keep their pad/truncate
    fallback (they score whatever width they are told, e.g. pq_encode
    against an explicit codebook); the LIFECYCLE refuses ragged input
    loudly — same discipline as the query-width identity gate below
    ("a silent truncation would return plausible nonsense").

    r11.5 (inf added r12): the same aggregate also refuses NULL, NaN
    and ±inf ELEMENTS
    inside vectors — all make cosine undefined (a NULL element
    decodes to NaN in every GEMM kernel), and the float serve would
    rank such a row ARBITRARILY: Spark's window `ORDER BY cos_sim
    DESC` sorts NaN above every double, so a NaN-element row serves at
    rank 1 from the float path while the PQ path's `~isnan(vnorm)`
    mask drops it — the two serving paths the driver row pins against
    one oracle would disagree (r11.5 review, verified by running it).
    Both checks are codegen collection functions, NOT interpreted
    per-element lambdas (`array_compact` size comparison for NULLs;
    `array_contains(c, NaN)` for NaNs — Spark SQL defines NaN = NaN as
    TRUE, unlike IEEE, so array_contains finds it), so the guard pass
    stays cheap at crossover-scale builds.  The inline similarity
    paths (ivf_topk / lsh / brute twins) stay lenient: they define and
    fuzz-pin an exact NULL/NaN-element semantics instead, because they
    score transient frames, not a persisted artifact.

    Returns the width (or ``want``; None for an all-NULL/empty frame).
    """
    c = F.col(vec_col)
    row = (
        df.where(c.isNotNull())
        .select(
            F.min(F.size(c)).alias("lo"),
            F.max(F.size(c)).alias("hi"),
            F.max(
                (
                    (F.size(F.array_compact(c)) != F.size(c))
                    | F.array_contains(c, F.lit(float("nan")))
                    # r12: ±inf elements are the same failure class —
                    # norm inf makes every cosine NaN (inf/inf), so the
                    # float serve would rank the row FIRST while the PQ
                    # serve's ~isnan(vnorm) mask drops it (vnorm = inf
                    # survives that mask, but the ADC sims are NaN) —
                    # refuse at the gate like NULL/NaN elements
                    | F.array_contains(c, F.lit(float("inf")))
                    | F.array_contains(c, F.lit(float("-inf")))
                ).cast("int")
            ).alias("bad_elem"),
        )
        .first()
    )
    if row is None or row["lo"] is None:
        return want
    return _width_gate_verdict(
        where, vec_col, int(row["lo"]), int(row["hi"]),
        bool(row["bad_elem"]), want,
    )


def _width_gate_verdict(
    where: str, vec_col: str, lo: int, hi: int, bad_elem: bool,
    want: int | None,
) -> int:
    """The width-gate refusal rules over ALREADY-aggregated stats —
    shared verbatim by the standalone :func:`_uniform_width` aggregate
    and the fold into the ingest assign GEMM (r15), so both paths
    refuse with identical errors."""
    if bad_elem:
        raise ValueError(
            f"{where}: vector column {vec_col!r} contains NULL, NaN or "
            "infinite elements inside vectors — cosine over them is "
            "undefined (an inf element makes the norm inf and every "
            "cosine NaN) and a materialized index must never rank such "
            "a row (the float serve would emit it at rank 1: NaN sorts "
            "above every double in Spark). Filter those rows (or impute "
            "the elements) before build/ingest."
        )
    if lo != hi:
        raise ValueError(
            f"{where}: vector column {vec_col!r} has mixed widths "
            f"({lo}..{hi}); a materialized ANN index is defined over ONE "
            "dimensionality — project the corpus to a fixed width first "
            "(functions.vectors.random_projection, or slice/pad "
            "explicitly)."
        )
    if want is not None and lo != want:
        raise ValueError(
            f"{where}: batch vectors are {lo}-dim but the index records "
            f"dims={want}; project the batch to the index width."
        )
    return lo


def _measure_cold_bandwidth_mbps(
    cells_dir: str,
    budget_bytes: int = 64 << 20,
    min_bytes: int = 4 << 20,
) -> tuple[float, int] | None:
    """One bounded cold-read probe of the index's own cell files:
    ``(MB/s, bytes_read)`` or None when unmeasurable.

    r11 VERDICT Missing #3: ``ann_serving_policy``'s bandwidth default
    was this dev box's measured 344 MB/s — a deployment that never
    passes ``bandwidth_mbps`` silently inherited the wrong disk.  The
    build now stamps a measured number into ``_ann_meta.json`` so the
    policy is portable by default.

    Method (r14, r13 VERDICT task 6): copy a bounded byte budget of the
    LARGEST cell files into a scratch file beside the tree, fsync +
    evict THE COPY (``posix_fadvise(POSIX_FADV_DONTNEED)``), one timed
    sequential read of the copy, delete it.  The pre-r14 probe evicted
    the largest LIVE files — under hot-skew ingest exactly the cells
    the next serve probes, so every fold trigger deliberately cooled
    the hottest data right before the serve; the scratch copy leaves
    live files' page cache alone (the copy pass even warms them) and
    still times the same device.  Bounded to ``budget_bytes`` so a
    100 TB build pays a fixed ~64 MB probe; refuses to stamp under
    ``min_bytes`` (a few-MB read times syscall overhead, not the disk)
    and on any OSError / non-POSIX platform — the policy then falls
    back to its documented literal."""
    if not hasattr(os, "posix_fadvise"):  # non-POSIX: nothing to evict
        return None
    import time

    scratch = os.path.join(
        os.path.dirname(cells_dir) or ".", "_bw_probe_scratch"
    )
    try:
        sizes = []
        for dirpath, _dirs, files in os.walk(cells_dir):
            for name in files:
                if name.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, name)
                sizes.append((os.path.getsize(p), p))
        sizes.sort(reverse=True)  # largest first: fewest opens per byte
        acc = 0
        with open(scratch, "wb") as out:
            for _sz, p in sizes:
                with open(p, "rb") as f:
                    while acc < budget_bytes:
                        b = f.read(1 << 22)
                        if not b:
                            break
                        out.write(b)
                        acc += len(b)
                if acc >= budget_bytes:
                    break
            if acc < min_bytes:
                return None
            out.flush()
            os.fsync(out.fileno())
        fd = os.open(scratch, os.O_RDONLY)
        try:
            # only the scratch copy is evicted — never a live cell file
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
        finally:
            os.close(fd)
        n = 0
        t0 = time.perf_counter()
        with open(scratch, "rb") as f:
            while True:
                b = f.read(1 << 22)
                if not b:
                    break
                n += len(b)
        dt = time.perf_counter() - t0
        if dt <= 0:
            return None
        return round(n / dt / 1e6, 1), n
    except OSError:
        return None
    finally:
        try:
            os.remove(scratch)
        except OSError:
            pass


# Readings above this are page cache / tmpfs, not a disk: DONTNEED only
# evicts on filesystems with a real page-cache-backed store — on
# tmpfs/overlay it is a no-op and the probe times RAM (r12 ADVICE).  The
# fastest shipping NVMe reads ~14 GB/s; RAM streams are 20+ GB/s, so
# 16 GB/s separates the populations.  Refusing (rather than clamping)
# keeps the policy on its documented literal — the conservative
# direction, same as the min_bytes refusal.
_MAX_PLAUSIBLE_DISK_MBPS = 16_000.0


def _stamp_bandwidth_once(root: str) -> None:
    """:func:`_stamp_bandwidth` unless ``_ann_meta.json`` already
    records ``bandwidth_mbps``: a root whose build could not measure
    gets its stamp from the first maintenance pass that can (a fold or
    an augment), and every later pass skips the probe's tree walk,
    copy and fsync."""
    meta = read_json(os.path.join(root, "_ann_meta.json"))
    if meta is None or "bandwidth_mbps" in meta:
        return  # no meta to stamp into, or stamped already
    _stamp_bandwidth(root)


def _stamp_bandwidth(root: str) -> None:
    """Measure and record ``bandwidth_mbps`` (+ ``bandwidth_probe_bytes``
    and ``bandwidth_probe_method``) in ``_ann_meta.json`` — best-effort:
    an unmeasurable tree leaves the meta untouched and the policy on its
    documented default.  A reading above ``_MAX_PLAUSIBLE_DISK_MBPS`` is
    a cache-tainted probe (fadvise-DONTNEED is a no-op on tmpfs/NFS/
    overlay mounts) and is refused rather than stamped — stamping it
    would bias :func:`ann_serving_policy` toward the float path at sizes
    where PQ wins.  The method string lets operators of exotic mounts
    spot a tainted stamp in the meta (r12 ADVICE)."""
    measured = _measure_cold_bandwidth_mbps(os.path.join(root, "cells"))
    if measured is None:
        return
    mbps, probed = measured
    if mbps > _MAX_PLAUSIBLE_DISK_MBPS:
        return
    meta_path = os.path.join(root, "_ann_meta.json")
    meta = read_json(meta_path)
    if meta is None:
        return
    meta["bandwidth_mbps"] = mbps
    meta["bandwidth_probe_bytes"] = probed
    meta["bandwidth_probe_method"] = (
        "scratch_copy+fsync+fadvise_dontneed+seqread"
    )
    try:
        write_json_atomic(meta_path, meta)
    except OSError:
        pass


def build_ann_index(
    corpus: DataFrame,
    root: str,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Train centroids, assign the corpus, persist both; returns root.

    One corpus-wide pass per training iteration plus one for the final
    assignment — all reusable across every future query.  The cells
    write partitions by cell id so serving can prune at file level.
    The meta sidecar carries a measured cold-read bandwidth stamp
    (:func:`_measure_cold_bandwidth_mbps`) so :func:`ann_serving_policy`
    resolves its float-vs-PQ tie from THIS deployment's disk, not the
    dev box's literal.

    ``root`` must not hold a live index: a root whose manifest
    :func:`_load_manifest` accepts is refused before anything is
    written, since the build would overwrite directories that manifest
    names under a running serve.  Retrain into a fresh root, or through
    ``operators/ann_deploy.ann_deployment_rebuild``.  A root whose
    manifest is missing, torn or in an older format is built over: that
    is the repair :func:`_load_manifest` names.
    """
    try:
        _load_manifest(root)
    except ValueError:
        pass  # no live index here: build one
    else:
        raise ValueError(
            f"build_ann_index: {root} already holds a live ANN index — "
            "retrain it with ann_deployment_rebuild, or build into a "
            "fresh root."
        )
    spark = corpus.sparkSession
    dims = _uniform_width(corpus, vec_col, f"build_ann_index({root})")
    cent = kmeans_centroids(
        corpus, n_centroids, n_iters, id_col, vec_col
    )
    # centroids are n_centroids rows (hard-capped at 65,536 by the
    # collect guard) — ONE file, explicitly: the frame's partition
    # count is whatever the Lloyd join's last shuffle left, and every
    # later ingest/serve re-reads this directory
    cent.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(root, "centroids")
    )
    # read-back via the memoized loader: collects once here and seeds
    # the cache, so the guarded ingests/serves that follow a build skip
    # their own centroid relation setup + collect job (r15)
    collected = _load_centroids(spark, root)
    assigned = _assign_cells(
        corpus, None, id_col, vec_col, keep_n=1, _collected=collected
    )
    cells = _cells_rows(assigned, -1)
    cells.write.mode("overwrite").options(**_CV_PLAIN).partitionBy(
        "cell", "ingest_batch"
    ).parquet(os.path.join(root, "cells"))
    write_json_atomic(
        os.path.join(root, "_ann_meta.json"),
        {
            "n_centroids": n_centroids,
            "n_iters": n_iters,
            "dims": dims,
            "id_col": id_col,
            "vec_col": vec_col,
        },
    )
    # the root's first manifest, from one listing of the fresh cells
    # tree.  A damaged root's leftover ``deltas/`` and ``pq_codes/``
    # directories are named by no manifest, so the orphan sweep that
    # precedes every maintenance write removes them before a write
    # could reuse their names (:func:`_sweep_orphan_dirs`).
    _write_manifest(
        root,
        {
            "format": _MANIFEST_FORMAT,
            "gen": 1,
            "batch_id": None,
            "cells": _list_tree_tags(os.path.join(root, "cells")),
            "codes": {},
            "code_fps": {},
            "books_id": None,
            "retired": [],
            # the cells tree's schema (cell typed like the centroid ids),
            # so its readers skip the schema-inference job
            "cells_schema": ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in cells.schema.fields
            ),
        },
    )
    _stamp_bandwidth(root)
    return root


def _recorded_dims(root: str) -> int | None:
    """The vector width ``_ann_meta.json`` records, or None when there
    is no meta or it records none (an empty-corpus build).  A torn meta
    raises naming it (:func:`read_json`)."""
    meta = read_json(os.path.join(root, "_ann_meta.json"))
    return None if meta is None else meta.get("dims")


def _assign_batch_checkpoint(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
):
    """Width-gate + GEMM-assign one batch against the frozen centroids;
    returns ``(assigned_df, touched, n)`` where ``assigned_df`` is
    localCheckpointed (one GEMM pass serves both the parquet write and
    the touched-cell collect — bounded: micro-batch sized), ``touched``
    is the sorted cell values (dir-name strings) the batch lands in,
    and ``n`` the row count.  The touched set is what makes every
    downstream ingest decision O(touched cells) instead of an
    O(#cells) tree walk (r13 VERDICT task 4)."""
    recorded = _recorded_dims(root)
    # r15 (guide §4 / r14 VERDICT task 1): the _uniform_width gate rides
    # the assign GEMM as per-batch flag columns instead of paying its
    # own Spark job — the ingest leg is action-count-bound.  The gate's
    # verdict is raised HERE, after the checkpoint materializes but
    # before any parquet/manifest write, with the exact standalone
    # errors (_width_gate_verdict); a refused batch writes nothing.
    # Centroids come from the file-listing memo (frozen per root).
    # The per-cell collect groups a single-partition view of the
    # checkpoint, so it needs no Exchange and runs as one job (grouping
    # the checkpoint's own partitions paid a shuffle map stage too).
    # (Observed metrics on the checkpoint would fold that job into it,
    # but a pyspark ``Observation`` leaves its session unable to
    # serialize a fitted Spark ML model.)
    assigned = _assign_cells(
        batch, None, id_col, vec_col, keep_n=1, width_flags=True,
        _collected=_load_centroids(spark, root),
    ).localCheckpoint(eager=True)
    rows = assigned.coalesce(1).groupBy("cell").agg(
        F.count("*").alias("count"),
        F.min("_wlo").alias("lo"),
        F.max("_whi").alias("hi"),
        F.max("_bad").alias("bad"),
    ).collect()
    los = [r["lo"] for r in rows if r["lo"] is not None]
    his = [r["hi"] for r in rows if r["hi"] is not None]
    if los:
        _width_gate_verdict(
            f"ann_ingest_batch({root})", vec_col,
            min(los), max(his),
            any(r["bad"] for r in rows),
            recorded,
        )
    assigned = assigned.drop("_wlo", "_whi", "_bad")
    touched = sorted(str(r["cell"]) for r in rows)
    n = int(sum(r["count"] for r in rows))
    return assigned, touched, n


def _cells_rows(assigned: DataFrame, batch_tag: int) -> DataFrame:
    """``_assign_cells`` output as cells-tree rows
    ``[cell, ingest_batch, vec_id, cv, cn]``."""
    return assigned.select(
        "cell",
        F.lit(int(batch_tag)).alias("ingest_batch"),
        F.col("_id").alias("vec_id"),
        F.col("v").alias("cv"),
        F.col("vn").alias("cn"),
    )


# Per-write parquet option: the vectors are written PLAIN.  Float
# vectors almost never repeat, so the writer's dictionary attempt on
# ``cv`` always falls back after building a page's dictionary; skipping
# it cut a 12,000 × 64 fold-sized write from 431 to 346 ms with
# identical file bytes (4-core VM).  Column-scoped, so ``cell`` and
# ``cn`` keep their dictionaries.
_CV_PLAIN = {"parquet.enable.dictionary#cv.list.element": "false"}


def _commit_dir(root: str, tag: int) -> str:
    return os.path.join(root, "deltas", f"ingest_batch={int(tag)}")


def _append_assigned(
    root: str, assigned: DataFrame, batch_tag: int
) -> None:
    """Write the batch's assigned rows as one commit directory
    ``deltas/ingest_batch=<tag>``: the rows are rebalanced without a
    key and sorted by ``cell`` inside each file, so the commit is a few
    files whatever the number of touched cells, and a probe's ``cell``
    filter prunes row groups by their min/max."""
    (
        _cells_rows(assigned, batch_tag)
        .drop("ingest_batch")
        .hint("rebalance")
        .sortWithinPartitions("cell")
        .write.mode("append")
        .options(**_CV_PLAIN)
        .parquet(_commit_dir(root, batch_tag))
    )


# ---------------------------------------------------------------------------
# Snapshot manifest: serves overlap maintenance
# ---------------------------------------------------------------------------
#
# Every index root carries `_cells_manifest.json`, and every reader and
# writer goes through it — MANIFEST INDIRECTION, the same discipline the
# postings LSM's per-bucket segment lists approximate.  At 100 TB with
# continuous ingest, serve windows are the norm, so no maintenance step
# ever renames or deletes a path a serve may be reading:
#
# - `_cells_manifest.json` (atomic tmp+replace) maps every cell to its
#   LIVE `ingest_batch` tags for BOTH trees (`cells` and `codes`), and
#   records the per-cell code fingerprints, a `books_id` pairing the
#   codes with the codebooks in `_pq_meta.json`, and the schemas of the
#   cells and codes trees;
# - a cells tag names a directory by its sign (`_tag_dir`): a negative
#   tag is the cell's base leaf `cells/cell=<c>/ingest_batch=<tag>`, a
#   tag >= 0 an ingest's commit directory `deltas/ingest_batch=<tag>`,
#   shared by every cell that commit touched.  Codes keep one
#   `pq_codes/cell=<c>/ingest_batch=<tag>` directory per pair;
# - readers resolve the manifest ONCE per serve and read those explicit
#   directories (never partition discovery over the physical tree),
#   keeping from a commit directory only the cells whose live set still
#   lists it (`_read_cells`), so a pinned snapshot stays self-consistent
#   at every instant;
# - folds APPEND the folded cell's rows (and its re-encoded codes) under
#   a fresh generation tag `ingest_batch=-<gen>` — never touching a live
#   path — then swap the manifest once: live set, codes set, and
#   fingerprint move together, so even the PQ gate stays green through a
#   fold;
# - superseded directories are RETIRED (timestamped in the manifest) and
#   pruned only after `retire_grace_seconds`, so a serve that resolved
#   the previous manifest keeps its files; the grace bounds how long a
#   serve may run after resolving its snapshot.  A commit directory
#   retires only once no live cell lists its tag;
# - a crashed fold's directories are never referenced by any manifest:
#   they are orphans, and every fold first runs an O(touched-cells)
#   sweep of its cells' unreferenced directories, so a retry (which
#   takes the same generation number) never appends beside them.  The
#   sweep also removes commit directories no manifest references (a
#   crashed ingest attempt);
# - the manifest records the last committed streaming ingest
#   `batch_id`, so the swap that publishes a batch's rows is also the
#   one that makes its replay a no-op.
#
# MAINTENANCE jobs (ingest commits, folds, re-encodes, augments) still
# must not overlap EACH OTHER — one maintenance writer at a time, the
# normal single-writer rule — but serves need no coordination at all.
# `build_ann_index` writes a root's first manifest and refuses a root
# that already has one (a retrain builds a fresh root:
# `operators/ann_deploy.ann_deployment_rebuild`); every other entry
# point refuses a root whose manifest is missing, torn or lacks the
# cells schema (`_load_manifest`), so per-batch decisions are always
# O(touched cells) reads of the manifest, never a tree walk.

# v3: the manifest records the committed ingest `batch_id` (v2 kept it in
# a separate marker file, a second visibility point); v2 and older
# roots are refused by `_load_manifest`
_MANIFEST_FORMAT = 3

# How long a pinned snapshot's retired directories stay on disk.  A
# serve must finish within this window of resolving its manifest; the
# default comfortably covers interactive top-k serves (sub-second to
# seconds) while keeping a streaming index's disk overhead to one
# superseded generation per fold cycle.
DEFAULT_RETIRE_GRACE_SECONDS = 300.0


def _manifest_path(root: str) -> str:
    return os.path.join(root, "_cells_manifest.json")


def _load_manifest(root: str) -> dict:
    """The root's manifest.  Raises ValueError, naming the root and the
    repair, when it is missing, torn (the writer is atomic, so only a
    hand-damaged root has one) or records no ``cells_schema``."""
    try:
        m = read_json(_manifest_path(root))
        if m is None:
            raise FileNotFoundError(_manifest_path(root))
    except (OSError, ValueError) as e:
        raise ValueError(
            f"ANN index at {root} has no readable _cells_manifest.json "
            f"({type(e).__name__}) — rebuild it with build_ann_index."
        ) from e
    if m.get("format") != _MANIFEST_FORMAT:
        raise ValueError(
            f"index manifest at {root} has format {m.get('format')!r}; "
            f"this engine writes v{_MANIFEST_FORMAT} — rebuild the index "
            "with build_ann_index or upgrade the engine."
        )
    if not m.get("cells_schema"):
        raise ValueError(
            f"ANN index at {root} has a manifest without cells_schema — "
            "rebuild it with build_ann_index."
        )
    return m


def _write_manifest(root: str, m: dict) -> None:
    write_json_atomic(_manifest_path(root), m)


def _books_id(books) -> str:
    """Content id pairing a codes tree with the codebooks that encoded
    it: a serve that would mix new codes with old books (or vice versa,
    mid-augment) sees the mismatch and refuses loudly."""
    import hashlib

    return hashlib.sha256(
        json.dumps(books).encode()
    ).hexdigest()[:16]


def _list_tree_tags(tree_dir: str) -> dict[str, list[int]]:
    """``{cell value (dir-name string) → sorted ingest_batch tags}`` from
    one physical listing — build-time only; every other path reads the
    manifest instead."""
    out: dict[str, list[int]] = {}
    try:
        entries = os.listdir(tree_dir)
    except OSError:
        return out
    for entry in entries:
        if not entry.startswith("cell="):
            continue
        d = os.path.join(tree_dir, entry)
        if not os.path.isdir(d):
            continue
        tags = []
        for sub in os.listdir(d):
            if not sub.startswith("ingest_batch="):
                continue
            try:
                tags.append(int(sub[len("ingest_batch="):]))
            except ValueError:
                continue
        if tags:
            out[entry[len("cell="):]] = sorted(tags)
    return out


def _tag_dir(root: str, cell, tag: int) -> str:
    """The directory holding ``cell``'s rows of cells tag ``tag``: the
    commit directory of an ingest (``tag >= 0``), the cell's base leaf
    otherwise (the build's -1 and the folds' ``-<gen>``)."""
    if int(tag) >= 0:
        return _commit_dir(root, tag)
    return os.path.join(root, "cells", f"cell={cell}", f"ingest_batch={tag}")


def _live_items(m: dict, key: str, cells=None) -> list[tuple[str, list]]:
    """``(cell, live tags)`` of the manifest map ``key`` (``"cells"`` or
    ``"codes"``), restricted to ``cells`` (partition VALUES) when
    given."""
    want = None if cells is None else {str(c) for c in cells}
    return [
        (c, tags) for c, tags in m[key].items()
        if want is None or c in want
    ]


def _cell_dirs(root: str, m: dict, cells=None) -> list[str]:
    """The distinct live directories holding the rows of ``cells``
    (every cell when None) under the manifest snapshot."""
    return sorted({
        _tag_dir(root, c, t)
        for c, tags in _live_items(m, "cells", cells)
        for t in tags
    })


def _code_paths(root: str, m: dict, cells=None) -> list[str]:
    """The live ``pq_codes/cell=<c>/ingest_batch=<t>`` directories of
    ``cells`` (every cell when None) under the manifest snapshot."""
    return [
        os.path.join(root, "pq_codes", f"cell={c}", f"ingest_batch={t}")
        for c, tags in _live_items(m, "codes", cells)
        for t in tags
    ]


def _codes_missing(root: str, m: dict, cell) -> bool:
    """Whether a live codes directory of ``cell`` is gone from disk (a
    hand-deleted sidecar): its rows have no codes, so the cell is not
    fresh whatever its recorded fingerprint says."""
    return not all(map(os.path.isdir, _code_paths(root, m, [cell])))


def _sql_literal(value: str, ddl: str) -> str:
    """A cell value (its directory-name string) as a typed SQL literal,
    so a ``cell`` predicate pushes down as a plain comparison."""
    quoted = value.replace("\\", "\\\\").replace("'", "\\'")
    return f"CAST('{quoted}' AS {ddl})"


def _cells_types(m: dict) -> dict[str, str]:
    """``{column → DDL type}`` of the cells tree the manifest records."""
    return dict(f.split(" ", 1) for f in m["cells_schema"].split(", "))


def _cell_in(m: dict, cells) -> str:
    """SQL predicate ``cell IN (...)`` over cell values (directory-name
    strings), typed like the recorded ``cell`` column."""
    ddl = _cells_types(m)["cell"]
    return "cell IN (" + ", ".join(
        _sql_literal(c, ddl) for c in sorted(cells)
    ) + ")"


def _read_cells(
    spark: SparkSession,
    root: str,
    m: dict,
    cells=None,
    skip_missing: bool = False,
) -> DataFrame | None:
    """The live rows of ``cells`` (partition VALUES; every cell when
    None) under the manifest snapshot ``m``, or None when none is live.

    The base leaves are read under basePath ``cells`` and the live
    commit directories under basePath ``deltas``, one path each, both
    with the schema the build recorded (no schema-inference job).  A
    commit directory keeps only the rows of the cells whose live set
    still lists it: a fold drops the commit's tag from the cells it
    folded while their siblings still serve it.  Naming one path per
    commit instead of one per (cell, commit) keeps a fold of 16 cells ×
    2 commits under Spark's 32-path threshold, past which the listing
    runs as a Spark job of its own.  ``skip_missing`` drops directories
    that are gone from disk: maintenance tolerates a hand-removed
    directory, while a serve fails on it."""
    base: list[str] = []
    commits: dict[int, list[str]] = {}
    for c, tags in _live_items(m, "cells", cells):
        for t in tags:
            if t < 0:
                base.append(_tag_dir(root, c, t))
            else:
                commits.setdefault(int(t), []).append(c)
    if skip_missing:
        base = [p for p in base if os.path.isdir(p)]
        commits = {
            t: cs for t, cs in commits.items()
            if os.path.isdir(_commit_dir(root, t))
        }
    schema = m["cells_schema"]
    frames = []
    if base:
        frames.append(
            spark.read.option("basePath", os.path.join(root, "cells"))
            .schema(schema)
            .parquet(*base)
        )
    if commits:
        keep = " OR ".join(
            f"(ingest_batch = {t} AND {_cell_in(m, cs)})"
            for t, cs in sorted(commits.items())
        )
        frames.append(
            spark.read.option("basePath", os.path.join(root, "deltas"))
            .schema(schema)
            .parquet(*(_commit_dir(root, t) for t in sorted(commits)))
            .where(keep)
        )
    if not frames:
        return None
    return frames[0] if len(frames) == 1 else frames[0].unionByName(
        frames[1]
    )


def _manifest_walk(cdir: str, tags) -> str | None:
    """The live-set digest walk behind :func:`_manifest_cell_digest`:
    sha256 over sorted (path relative to the cell dir, size) of every
    visible file under the given tags' directories.  ``cdir`` is the
    cell's base directory ``<root>/cells/cell=<c>``; a commit tag
    resolves to ``<root>/deltas/ingest_batch=<tag>`` and contributes all
    of that commit's files (shared with the other cells it touched, and
    never changed once written).  Hidden (``.``/``_``) entries are
    skipped — they are markers or in-flight writer state, and the
    listing cache's mtime token (functions/listing.py) does not descend
    into hidden directories.  Module-level so tests can interpose it
    (warm serves must not re-walk — the r8 staleness-cache
    discipline)."""
    import hashlib

    root = os.path.dirname(os.path.dirname(cdir))
    entries = []
    for t in sorted(tags):
        d = (
            _commit_dir(root, t) if t >= 0
            else os.path.join(cdir, f"ingest_batch={t}")
        )
        if not os.path.isdir(d):
            continue
        for dirpath, dirnames, files in os.walk(d):
            dirnames[:] = [
                x for x in dirnames if not x.startswith((".", "_"))
            ]
            for name in files:
                if name.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, name)
                entries.append(
                    (os.path.relpath(p, cdir), os.path.getsize(p))
                )
    if not entries:
        return None
    h = hashlib.sha256()
    for rel, size in sorted(entries):
        h.update(f"{rel}\x00{size}\n".encode())
    return h.hexdigest()


def _manifest_cell_digest(
    root: str, m: dict, cell: str, extra_tags=(), use_cache: bool = True
) -> str | None:
    """Digest of one cell's LIVE content under the manifest snapshot.
    ``extra_tags`` lets an ingest commit compute the post-append digest
    before the manifest swap makes the tag live.  None when the live
    set is empty (consistent-empty: an empty probed cell has no codes
    either).

    Serving memoizes the walk behind the O(#dirs) mtime token of the
    cell's base directory (functions/listing.py), keyed by the live tag
    set and the mtimes of its commit directories — a fold or prune
    moves the base directory's mtime and a replay rewrites a commit
    directory, so the cache can never serve a digest for a superseded
    live set; maintenance passes ``use_cache=False`` so recorded
    fingerprints always come from a real walk."""
    from ..functions.listing import cached_listing_digest

    tags = sorted(
        set(m["cells"].get(str(cell), [])) | {int(t) for t in extra_tags}
    )
    stamps = []
    for t in tags:
        if t >= 0:
            try:
                ns = os.stat(_commit_dir(root, t)).st_mtime_ns
            except OSError:
                ns = "-"
            stamps.append(f"{t}@{ns}")
    cdir = os.path.join(root, "cells", f"cell={cell}")
    return cached_listing_digest(
        cdir,
        lambda src: _manifest_walk(src, tags),
        "mcell:" + ",".join(map(str, tags)) + ";" + ",".join(stamps),
        use_cache=use_cache,
    )


def _live_tree_bytes(root: str, m: dict, cells=None) -> int:
    """On-disk bytes of the LIVE directories of ``cells`` only — retired
    (but not yet pruned) generations must not inflate the serving
    policy's probed-bytes estimate.  A commit directory counts whole:
    its other cells' rows are skipped by row-group statistics at best."""
    total = 0
    for d in _cell_dirs(root, m, cells):
        if os.path.isdir(d):
            total += _tree_bytes(d)
    return total


def _prune_retired(root: str, m: dict, grace_seconds: float) -> None:
    """Delete retired directories older than the grace window and drop
    them from the list.  rmtree runs BEFORE the manifest swap that
    removes the entries: a crash in between leaves entries naming
    missing paths, which the next prune re-ignores (ignore_errors) —
    never an unreferenced orphan.  Readers never resolve retired paths;
    the grace only protects serves still reading a PREVIOUS manifest's
    live set."""
    import shutil
    import time

    now = time.time()
    keep = []
    for rel, ts in m.get("retired", []):
        if now - float(ts) >= float(grace_seconds):
            shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
        else:
            keep.append([rel, ts])
    m["retired"] = keep


def _retire_cells_tags(m: dict, superseded: dict, now: float) -> None:
    """Retire the directories of the cells tags in ``superseded`` (``{cell:
    tags}``, already replaced in ``m["cells"]``): each base leaf, and
    each commit directory that no live cell lists any more."""
    live_commits = {t for ts in m["cells"].values() for t in ts if t >= 0}
    rels = set()
    for c, tags in superseded.items():
        for t in tags:
            if t < 0:
                rels.add(f"cells/cell={c}/ingest_batch={t}")
            elif t not in live_commits:
                rels.add(f"deltas/ingest_batch={t}")
    m["retired"].extend([rel, now] for rel in sorted(rels))


def _tag_of(name: str) -> int | None:
    """The tag of an ``ingest_batch=<tag>`` directory name, else None."""
    if not name.startswith("ingest_batch="):
        return None
    try:
        return int(name[len("ingest_batch="):])
    except ValueError:
        return None


def _sweep_orphan_dirs(root: str, m: dict, cells) -> None:
    """Remove the directories no manifest references (not live, not
    retired): ``ingest_batch=`` leaves of the given cells in both trees
    and commit directories under ``deltas/`` — a crashed fold's
    generation dirs, a crashed-then-abandoned ingest attempt's commit
    and codes dirs (invisible: the attempt never swapped the manifest)
    and a damaged root's leftovers after ``build_ann_index`` rebuilt
    it.  A fold takes its generation from the manifest without writing
    it first, so its retry reuses the crashed attempt's tag: this sweep,
    run before every maintenance write, is what keeps the retry from
    appending beside the crashed files.  No reader can hold an
    unreferenced path, and MAINTENANCE is single-writer (an in-flight
    ingest append cannot overlap this fold), so the sweep is safe.
    O(touched cells + live commits) listings."""
    import shutil

    retired_paths = {rel for rel, _ in m.get("retired", [])}

    def sweep(tree: str, live) -> None:
        try:
            subs = os.listdir(os.path.join(root, tree))
        except OSError:
            return
        for sub in subs:
            t = _tag_of(sub)
            if t is None or t in live or f"{tree}/{sub}" in retired_paths:
                continue
            shutil.rmtree(os.path.join(root, tree, sub), ignore_errors=True)

    for c in cells:
        c = str(c)
        sweep(f"cells/cell={c}", set(m["cells"].get(c, [])))
        sweep(f"pq_codes/cell={c}", set(m["codes"].get(c, [])))
    sweep("deltas", {t for ts in m["cells"].values() for t in ts if t >= 0})


def _sidecar_books(root: str, m: dict):
    """The sidecar's :class:`PQCodebooks` when the manifest can maintain
    codes — meta present, books recorded, and the manifest's
    ``books_id`` pairs with them.  A mid-retrain (or crashed-augment)
    state mismatches and reads as None: not maintainable, and serving
    refuses loudly rather than mixing codes with foreign books."""
    meta = read_json(os.path.join(root, "_pq_meta.json")) or {}
    books = meta.get("books")
    if not books:
        return None
    bid = meta.get("books_id") or _books_id(books)
    if m.get("books_id") != bid:
        return None
    from .pq import PQCodebooks

    return PQCodebooks(
        books=tuple(tuple(tuple(x) for x in b) for b in books),
        n_dims=meta["n_dims"],
    )


def _write_codes(cells: DataFrame, cb, root: str, tag: int) -> str:
    """Encode cells-tree rows with the codebooks ``cb`` and append them
    under ``pq_codes/cell=<c>/ingest_batch=<tag>``; returns the written
    schema, which the manifest records as ``codes_schema`` so the codes
    read in :func:`ann_search_pq` runs no schema-inference job."""
    from .pq import pq_encode

    codes = pq_encode(
        cells,
        cb,
        id_col="vec_id",
        vec_col="cv",
        extra_cols={"cell": cells.schema["cell"].dataType.simpleString()},
    ).withColumn("ingest_batch", F.lit(int(tag)))
    codes.write.mode("append").partitionBy("cell", "ingest_batch").parquet(
        os.path.join(root, "pq_codes")
    )
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in codes.schema.fields
    )


def ann_index_compact(
    spark: SparkSession,
    root: str,
    retire_grace_seconds: float = DEFAULT_RETIRE_GRACE_SECONDS,
) -> int:
    """Fold EVERY cell's accumulated ingest commits into a fresh base
    generation; returns the NUMBER OF (CELL, COMMIT) DELTAS FOLDED (0
    when no cell holds a delta).

    This is :func:`ann_index_compact_cells` over every cell the manifest
    names, with the same snapshot isolation (see the section comment
    above): serves may run concurrently; only other MAINTENANCE must
    not."""
    m = _load_manifest(root)
    return ann_index_compact_cells(
        spark, root, sorted(m["cells"]), retire_grace_seconds
    )


def ann_index_compact_cells(
    spark: SparkSession,
    root: str,
    cells,
    retire_grace_seconds: float = DEFAULT_RETIRE_GRACE_SECONDS,
) -> int:
    """Fold ONLY the given cells' ingest commits into a fresh base
    generation; returns the number of (cell, commit) deltas folded.

    The selective counterpart of :func:`ann_index_compact` (r12 VERDICT
    task 1): under skewed ingest the hot cell crosses the fragmentation
    dial while cold cells hold 1–2 commits, and folding the WHOLE
    index on the hot cell's schedule is a corpus-scale synchronous
    stall inside a micro-batch — the same problem the postings LSM
    solved with per-bucket segment lists (streaming/index_maintenance).
    The fold reads the requested cells' base leaves and the live
    commits that hold their rows (keeping only those cells' rows), and
    rewrites ONLY the requested cells: cost is O(requested cells' bytes
    + their live commits' bytes), never O(index).

    ``cells`` is an iterable of cell partition VALUES (the ``<c>`` of
    ``cell=<c>``); values whose live set is delta-free are skipped.

    Snapshot isolation (r14 — see the manifest section comment): the
    folded rows land under a fresh ``ingest_batch=-<gen>`` base leaf
    per cell (append — no live path is touched), a PQ sidecar's folded
    cells are re-encoded from that SAME folded content in the same
    commit (which also heals any pre-existing staleness in those cells
    — the re-encode is the cell's full content by construction), and
    ONE atomic manifest swap moves live set + codes set + fingerprints
    together, so concurrent serves — float AND PQ — stay consistent at
    every instant.  Superseded base leaves retire behind
    ``retire_grace_seconds``, and so does a commit directory once the
    fold leaves no live cell listing it.  Concurrent MAINTENANCE is
    still single-writer."""
    m = _load_manifest(root)
    want = [str(c) for c in cells]
    todo = [
        c
        for c in want
        if any(t >= 0 for t in m["cells"].get(c, []))
    ]
    # collect crashed folds' never-referenced generation dirs in the
    # requested cells (single maintenance writer; O(touched))
    _sweep_orphan_dirs(root, m, want)
    folded = _fold_cells(spark, root, m, todo) if todo else 0
    _prune_retired(root, m, retire_grace_seconds)
    _write_manifest(root, m)
    if todo:
        _stamp_bandwidth_once(root)
    return folded


def _fold_cells(
    spark: SparkSession,
    root: str,
    m: dict,
    cells,
    batch: DataFrame | None = None,
) -> int:
    """Write the live rows of ``cells`` — plus ``batch``, cells-tree rows
    of those cells that no directory holds yet — as ONE fresh base
    generation ``ingest_batch=-<gen>`` per cell, re-encode their PQ
    codes from that generation when the sidecar is maintainable, and
    apply the fold to ``m`` in memory (live set, codes set,
    fingerprints, retirees, ``gen``); returns the number of (cell,
    commit) deltas folded.  The caller sweeps ``cells``' unreferenced
    directories first (:func:`_sweep_orphan_dirs`), so a crashed
    fold's generation directories never mix with a retry's, and
    publishes the result with its one manifest swap: the fold is
    invisible until then.  A cell that ends up with no row (empty
    delta files only) keeps its old live set."""
    import time as _time

    g = int(m["gen"]) + 1
    tag = -g
    rows = _read_cells(spark, root, m, cells, skip_missing=True)
    if batch is not None:
        kinds = _cells_types(m)
        batch = batch.select(
            *(F.col(c).cast(kinds[c]) for c in ("cell", "vec_id", "cv", "cn"))
        )
        rows = batch if rows is None else rows.select(
            "cell", "vec_id", "cv", "cn"
        ).unionByName(batch)
    if rows is not None:
        # one file per cell: rebalanced on ``cell`` before the
        # partitioned write (AQE still splits a cell above the advisory
        # partition size)
        (
            rows.select(
                "cell", F.lit(tag).alias("ingest_batch"), "vec_id", "cv",
                "cn",
            )
            .hint("rebalance", "cell")
            .write.mode("append")
            .options(**_CV_PLAIN)
            .partitionBy("cell", "ingest_batch")
            .parquet(os.path.join(root, "cells"))
        )
    folded_cells = [
        c for c in cells if os.path.isdir(_tag_dir(root, c, tag))
    ]
    if not folded_cells:
        return 0
    m["gen"] = g
    codes_updates: dict[str, str] = {}
    cb = _sidecar_books(root, m)
    if cb is not None:
        folded_df = _read_cells(
            spark, root, {**m, "cells": {c: [tag] for c in folded_cells}}
        ).select("cell", "vec_id", "cv", "cn")
        _write_codes(folded_df, cb, root, tag)
        for c in folded_cells:
            dg = _manifest_cell_digest(
                root, {"cells": {c: [tag]}}, c, use_cache=False
            )
            if dg is not None:
                codes_updates[c] = dg
    now = _time.time()
    superseded = {c: m["cells"].get(c, []) for c in folded_cells}
    folded_deltas = sum(
        1 for tags in superseded.values() for t in tags if t >= 0
    )
    for c in folded_cells:
        m["cells"][c] = [tag]
        if c in codes_updates:
            for t in m["codes"].get(c, []):
                m["retired"].append(
                    [f"pq_codes/cell={c}/ingest_batch={t}", now]
                )
            m["codes"][c] = [tag]
            m["code_fps"][c] = codes_updates[c]
    _retire_cells_tags(m, superseded, now)
    return folded_deltas


def _probe(
    spark: SparkSession,
    root: str,
    q_rows: list,
    vec_col: str,
    nprobe: int,
    round_digits: int,
    max_probe_cells: int,
    caller: str,
):
    """Driver-side probe of a collected query set:
    ``(q, probes, cell_qidx, cell_ddl)`` — ``q`` the
    :func:`prep_queries` triple at the centroid width, ``probes[j]`` the
    ``nprobe`` cells query ``j`` probes, ``cell_qidx`` each probed
    cell's query indices, ``cell_ddl`` the cell column's type.

    Identity gate first (the IndexCatalog discipline): an index built
    over d-dim vectors must not score d'-dim queries — a silent
    truncation would return plausible nonsense.  The width is read off
    the collected rows, and the probe ranks over the collected matrix,
    so the query plan never runs twice (a nondeterministic query frame
    would otherwise probe for different ids than it scores).  Cells
    rank by the serve's rounded cosine with ``_assign_cells``' tie rule
    (stable sort: the lowest cid wins), NaN first."""
    import numpy as np

    vecs = [r["qv"] for r in q_rows]
    want = _recorded_dims(root)
    widths = [len(v) for v in vecs if v is not None]
    if want is not None and widths and widths[0] != want:
        raise ValueError(
            f"{caller}: index at {root} was built over {want}-dim "
            f"vectors; query column {vec_col!r} has {widths[0]} dims."
        )
    cids, cmat, cns, n_dims, cell_ddl = _load_centroids(spark, root)
    q = prep_queries(vecs, n_dims)
    cn = np.asarray(cns, dtype=np.float64)
    cos = half_up(
        cosine_block(q[0] @ np.asarray(cmat).T, q[1], cn, q[2], cn == 0),
        round_digits,
    )
    # argsort ranks NaN last: map it to +inf to rank those cells first
    order = np.argsort(-np.where(np.isnan(cos), np.inf, cos), axis=1,
                       kind="stable")
    probes = [[cids[int(ci)] for ci in r[: int(nprobe)]] for r in order]
    cell_qidx: dict = {}
    for j, cells in enumerate(probes):
        for c in cells:
            cell_qidx.setdefault(c, []).append(j)
    if len(cell_qidx) > max_probe_cells:
        raise ValueError(
            f"{caller} probes > max_probe_cells={max_probe_cells} cells; "
            "shrink the query set / nprobe or raise the cap explicitly"
        )
    return q, probes, cell_qidx, cell_ddl


def _cell_groups(cells, cell_qidx):
    """Worker-side: ``(rows, qidx)`` per probed cell present in one
    Arrow batch — the batch's row indices of that cell and the indices
    of the queries that probe it (rows of unprobed cells are skipped)."""
    import numpy as np

    order = np.argsort(cells, kind="stable")
    uniq, starts = np.unique(cells[order], return_index=True)
    for u, s0, e0 in zip(uniq, starts, np.r_[starts[1:], len(cells)]):
        qidx = cell_qidx.get(u.item() if hasattr(u, "item") else u)
        if qidx:
            yield order[s0:e0], np.asarray(qidx, dtype=np.int64)


def ann_search(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    max_probe_cells: int = 10_000,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Serve cosine top-k from a materialized index: zero corpus I/O.

    ``[query_id, neighbor_id, cos_sim, rank]`` — the contract of
    ``similarity.brute_force_topk`` / ``ivf_topk``, with ``query_id``
    of the query column's type.  Per query the ``nprobe`` best cells
    are searched; the union of probe cells across the query set is
    collected (bounded by ``max_probe_cells``) and pushed as a literal
    partition predicate, so the cells read prunes to the probed
    directories at file-listing time.  With ``nprobe >= n_centroids``
    every cell is probed and the result is EXACTLY brute force (same
    rounding, same tie order) — the equivalence tests pin that.

    Scoring is one vectorized Arrow pass over the probed cells: the
    BOUNDED query set is collected (``max_query_rows`` guard) and each
    cells batch scores as a numpy GEMM against the queries probing its
    cell, keeping a per-batch local top-k so only |Q|·k rows per batch
    reach the global rank (functions/topk.py).  The earlier per-pair
    ``zip_with`` cosine was interpreted (higher-order exprs skip
    codegen) and measured 122 s for 40 queries × 1 M rows at nprobe=4
    on local[32] — this form serves the same query set in well under a
    tenth of that (see SCALE.md's crossover table).
    """
    # snapshot resolve: ONE manifest read pins this serve's live
    # directory set — concurrent ingest/folds swap the manifest and
    # retire (never delete-in-grace) directories, so the pinned snapshot
    # stays readable and self-consistent throughout the serve
    manifest = _load_manifest(root)
    q_rows = collect_queries(
        queries, id_col, vec_col, max_query_rows, "ann_search"
    )
    q_id_ddl = queries.schema[id_col].dataType.simpleString()
    if not q_rows:
        return empty_topk(spark, q_id_ddl)
    (q_mat, q_norm, q_zero), _, cell_qidx, _ = _probe(
        spark, root, q_rows, vec_col, nprobe, round_digits,
        max_probe_cells, "ann_search",
    )
    q_ids = [r["qid"] for r in q_rows]
    n_dims = q_mat.shape[1]

    score_ddl = topk_ddl(q_id_ddl)
    score_pa_schema = arrow_schema(score_ddl)
    dec = by_value(decode_list_matrix)
    groups = by_value(_cell_groups)
    cos = by_value(cosine_block)
    hup = by_value(half_up)
    emit = by_value(local_topk)

    def _score(batches):
        # Arrow-native: one flatten+reshape decodes each batch with
        # zero per-row Python (see _assign_cells).
        guard_import_caches()
        import numpy as np

        for rb in batches:
            nrows = rb.num_rows
            if not nrows:
                continue
            ids = rb.column(1).to_numpy(zero_copy_only=False)
            mat, live, _lens = dec(rb.column(2), nrows, width=n_dims)
            vn = np.linalg.norm(mat, axis=1)

            def block(sel, qi):
                # corpus norms are gate-clean: only real zeros take the
                # otherwise-0 branch
                sims = cos(
                    mat[sel] @ q_mat[qi].T, vn[sel], q_norm[qi],
                    vn[sel] == 0, q_zero[qi],
                )
                return (
                    hup(sims, round_digits),
                    ids[sel],
                    live[sel],
                    [q_ids[j] for j in qi],
                )

            row_cells = rb.column(0).to_numpy(zero_copy_only=False)
            yield from emit(
                (block(sel, qi) for sel, qi in groups(row_cells, cell_qidx)),
                k,
                score_pa_schema,
            )

    # the pinned live set: static pruning with snapshot isolation
    cells = _read_cells(spark, root, manifest, sorted(cell_qidx))
    if cells is None:  # every probed cell is empty under this snapshot
        return empty_topk(spark, q_id_ddl)
    cells = cells.select("cell", "vec_id", "cv")
    return rank_topk(cells.mapInArrow(_score, score_ddl), k)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized codes sidecar over the cell layout
# ---------------------------------------------------------------------------

def _tree_bytes(d: str) -> int:
    """Visible-file bytes under ``d`` (hidden ``.``/``_`` entries are
    markers, not data).  Raises OSError on any listing failure —
    os.walk SUPPRESSES errors by default (onerror=None), and a silent 0
    from a non-listable tree reads as "small", the wrong direction for
    every caller (they must assume LARGE when they cannot list)."""

    def _raise(err: OSError):
        raise err

    total = 0
    for dirpath, dirnames, files in os.walk(d, onerror=_raise):
        dirnames[:] = [x for x in dirnames if not x.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _probed_cell_bytes(root: str, probe_cells, manifest: dict) -> int | None:
    """On-disk bytes of the probed cells' LIVE float directories, or None
    when the root is not a locally-listable path (object stores) —
    callers treat None as 'assume large', the scale-safe direction.  One
    os.walk per live directory: metadata-only, never data I/O, and
    retired-but-unpruned generations do not inflate the estimate."""
    if not os.path.isdir(os.path.join(root, "cells")):
        return None
    try:
        return _live_tree_bytes(root, manifest, probe_cells)
    except OSError:
        return None


def pq_augment_ann_index(
    spark: SparkSession,
    root: str,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 4,
    sample_rows: int = 65_536,
    n_dims: int | None = None,
) -> str:
    """Train PQ codebooks on the index's live cells and encode every
    live cell into the codes sidecar (``pq_codes/cell=<c>/``); returns
    root.

    One corpus pass (narrow — the encode keeps each row's cell key, no
    shuffle), after which :func:`ann_search_pq` serves the ADC scan
    from the 64×-smaller codes and touches float vectors only for the
    re-rank candidates.  Each cell's codes are pinned to that cell's
    live content by a per-cell fingerprint in the manifest: a later
    ingest or fold that changes a cell without re-encoding it makes its
    codes stale, and a serve probing it raises loudly.

    ``n_dims`` defaults to the dims recorded in ``_ann_meta.json`` at
    build time — NOT a fixed constant, or a >64-dim index would be
    silently encoded over a 64-dim prefix (``pad_matrix`` truncates)
    and ADC ranking would quietly degrade.  Raises if the meta is
    missing dims and no explicit override is given.

    Snapshot-isolated and crash-safe: new codes land under a fresh
    generation tag (invisible), the meta (books) write opens a
    milliseconds-wide loud-refusal window (``books_id`` mismatch), and
    one manifest swap makes the new codes + fingerprints + pairing live
    together — a crash anywhere leaves a state that either serves the
    OLD sidecar consistently or refuses loudly, never a wrong answer.
    Superseded codes directories retire behind
    ``DEFAULT_RETIRE_GRACE_SECONDS``.
    """
    import time as _time

    from .pq import pq_train

    m = _load_manifest(root)
    if n_dims is None:
        recorded = _recorded_dims(root)
        if recorded is None:
            raise ValueError(
                f"pq_augment_ann_index: {root}/_ann_meta.json does not "
                "record the index dims (empty-corpus build or pre-dims "
                "index) — pass n_dims explicitly so PQ covers the full "
                "vector width."
            )
        n_dims = int(recorded)
    codes_dir = os.path.join(root, "pq_codes")
    _sweep_orphan_dirs(root, m, sorted(m["cells"]))
    g = int(m["gen"]) + 1
    m["gen"] = g
    _write_manifest(root, m)
    tag = -g
    cells = _read_cells(spark, root, m, skip_missing=True)
    if cells is None:
        raise ValueError(
            f"pq_augment_ann_index: no live cells to encode at {root}."
        )
    cells = cells.select("cell", "vec_id", "cv", "cn")
    cb = pq_train(
        cells,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        sample_rows=sample_rows,
        n_iters=n_iters,
        id_col="vec_id",
        vec_col="cv",
        n_dims=n_dims,
    )
    codes_schema = _write_codes(cells, cb, root, tag)
    encoded = [
        c
        for c in m["cells"]
        if os.path.isdir(
            os.path.join(codes_dir, f"cell={c}", f"ingest_batch={tag}")
        )
    ]
    digests = {}
    for c in encoded:
        dg = _manifest_cell_digest(root, m, c, use_cache=False)
        if dg is not None:
            digests[c] = dg
    bid = _books_id(cb.books)
    # books swap: from here until the manifest swap, PQ serves refuse
    # via books_id mismatch — a file-write-wide window, loud, healed by
    # re-running this augmentation
    write_json_atomic(
        os.path.join(root, "_pq_meta.json"),
        {
            "books": cb.books,
            "n_dims": cb.n_dims,
            "books_id": bid,
            # training dials recorded so maintenance re-augments replay
            # the operator's geometry AND training budget instead of
            # silently reverting to defaults (r12 ADVICE)
            "m_subspaces": m_subspaces,
            "n_codes": n_codes,
            "n_iters": n_iters,
            "sample_rows": sample_rows,
        },
    )
    now = _time.time()
    for c in list(m["codes"]):
        for t in m["codes"][c]:
            m["retired"].append([f"pq_codes/cell={c}/ingest_batch={t}", now])
        del m["codes"][c]
    for c in encoded:
        m["codes"][c] = [tag]
    m["code_fps"] = digests
    m["books_id"] = bid
    m["codes_schema"] = codes_schema
    _prune_retired(root, m, DEFAULT_RETIRE_GRACE_SECONDS)
    _write_manifest(root, m)
    # an index whose build-time bandwidth probe failed gets a second
    # chance here — augmentation is the moment a deployment opts into
    # the float-vs-PQ choice the stamp informs
    _stamp_bandwidth_once(root)
    return root


def pq_reencode_stale_cells(
    spark: SparkSession,
    root: str,
    retire_grace_seconds: float = DEFAULT_RETIRE_GRACE_SECONDS,
) -> int:
    """Re-encode ONLY the cells whose recorded per-cell fingerprint no
    longer matches the cells tree, reusing the sidecar's EXISTING
    codebooks (no retrain); returns the number of cells refreshed.

    The selective counterpart of :func:`pq_augment_ann_index` (r12
    VERDICT task 1): after a selective fold — or plain ingest — only
    the touched cells' codes are stale, and re-encoding the whole
    corpus (plus re-training) to fix them is the same O(index) stall
    the selective fold exists to avoid.  Codebooks are a SAMPLE-trained
    artifact: reusing them over refreshed rows keeps ADC ranking
    quality on the drift monitor's rebuild cadence, exactly like the
    frozen centroids (streaming/ann_ingest.py's rebuild recipe).

    Self-healing by construction: staleness is diffed from the live
    manifest snapshot (not from "what the caller folded"), so cells
    left stale by a prior crash — or by an ingest into a cell that
    was already stale — are refreshed on the next call, which also keeps
    :func:`ann_search_pq` AVAILABLE instead of raising between full
    augments.

    Snapshot-isolated and crash-safe (r14, r13 ADVICE medium: the old
    swap was ``rmtree(live)`` + ``rename(staged)`` with no recovery —
    a crash between the two permanently deleted the cell's codes):
    refreshed codes land under a fresh generation tag (append — no live
    path is touched) and ONE manifest swap moves codes set +
    fingerprints together; a crash anywhere leaves the old state
    serving (stale cells keep refusing) and the new generation's dirs
    orphaned for the next maintenance sweep.

    A cell whose live codes directories were deleted by hand counts as
    stale too (:func:`_codes_missing`): its rows have no codes, whatever
    the recorded fingerprint says, so it is re-encoded whole."""
    import time as _time

    m = _load_manifest(root)
    cb = _sidecar_books(root, m)
    if cb is None:
        raise ValueError(
            f"pq_reencode_stale_cells: no usable PQ sidecar at {root} "
            "(missing meta, or codes/books pairing broken by a crashed "
            "retrain) — run pq_augment_ann_index(spark, root) first."
        )
    codes_dir = os.path.join(root, "pq_codes")
    current = {
        c: _manifest_cell_digest(root, m, c, use_cache=False)
        for c in set(m["cells"]) | set(m["code_fps"]) | set(m["codes"])
    }
    refresh = sorted(
        c
        for c, d in current.items()
        if d is not None
        and (m["code_fps"].get(c) != d or _codes_missing(root, m, c))
    )
    dropped = sorted(
        c
        for c, d in current.items()
        if d is None and (c in m["code_fps"] or m["codes"].get(c))
    )
    if not refresh and not dropped:
        return 0
    _sweep_orphan_dirs(root, m, refresh)
    g = int(m["gen"]) + 1
    m["gen"] = g
    _write_manifest(root, m)  # generation allocation commit
    tag = -g
    encoded: list[str] = []
    if refresh:
        cells = _read_cells(spark, root, m, refresh, skip_missing=True)
        # a refreshed cell's codes are rewritten WHOLE under the new
        # generation — the refresh doubles as that cell's codes
        # defragmentation (tagged per-batch code dirs retire with it)
        _write_codes(
            cells.select("cell", "vec_id", "cv", "cn"), cb, root, tag
        )
        encoded = [
            c
            for c in refresh
            if os.path.isdir(
                os.path.join(codes_dir, f"cell={c}", f"ingest_batch={tag}")
            )
        ]
    now = _time.time()
    for c in refresh:
        for t in m["codes"].get(c, []):
            m["retired"].append([f"pq_codes/cell={c}/ingest_batch={t}", now])
        # a refreshed cell whose encode emitted no rows (live dirs hold
        # only zero-row files) serves zero codes consistently
        m["codes"][c] = [tag] if c in encoded else []
        m["code_fps"][c] = current[c]
    for c in dropped:
        for t in m["codes"].get(c, []):
            m["retired"].append([f"pq_codes/cell={c}/ingest_batch={t}", now])
        m["codes"].pop(c, None)
        m["code_fps"].pop(c, None)
        # manual surgery (re-shard) can remove a cell's directories out
        # from under the manifest: drop the phantom live tags too, so
        # later snapshot readers don't resolve paths that cannot exist
        tags = m["cells"].get(c, [])
        if tags and not any(
            os.path.isdir(_tag_dir(root, c, t)) for t in tags
        ):
            del m["cells"][c]
    _prune_retired(root, m, retire_grace_seconds)
    _write_manifest(root, m)
    return len(refresh) + len(dropped)


def _encode_batch_codes(
    spark: SparkSession, root: str, m: dict, batch_tag: int, touched
) -> dict[str, str]:
    """Encode ONE appended batch's rows for the PRE-APPEND-FRESH
    touched cells with the sidecar's existing codebooks and append them
    under the same tag in the codes tree; returns ``{cell →
    post-append fingerprint}`` for exactly the cells refreshed, WITHOUT
    writing the manifest — the caller commits cells tags + codes tags +
    fingerprints in ONE swap, so snapshot readers never see a
    half-committed batch.

    ``m`` must be the PRE-APPEND manifest view (the new tag not yet in
    ``m["cells"]``), because the freshness guard (r13 ADVICE, high)
    compares each cell's RECORDED fingerprint against its pre-append
    live digest: a cell that was already stale — an ingest committed
    while a crashed retrain left the codes unpaired, or hand surgery
    on its directories — stays stale, so the gate keeps refusing it until
    :func:`pq_reencode_stale_cells` (or a fold) re-encodes its FULL
    content.  Refreshing unconditionally would launder that staleness
    into a passing gate over rows that have no codes — silently wrong
    top-k, the exact failure the fail-closed contract exists to
    prevent.  A cell whose live codes directories are gone (deleted by
    hand) is not fresh either: its base rows have no codes.  A brand-new
    cell (no live dirs, no recorded fingerprint) counts as fresh: all
    of its rows ARE this batch.
    """
    cb = _sidecar_books(root, m)
    fresh = [
        str(c)
        for c in touched
        if m["code_fps"].get(str(c))
        == _manifest_cell_digest(root, m, str(c), use_cache=False)
        and not _codes_missing(root, m, c)
    ]
    if not fresh:
        return {}
    batch = _read_cells(
        spark, root, {**m, "cells": {c: [int(batch_tag)] for c in fresh}},
        skip_missing=True,
    )
    if batch is not None:
        _write_codes(
            batch.select("cell", "vec_id", "cv", "cn"), cb, root, batch_tag
        )
    updates: dict[str, str] = {}
    for c in fresh:
        dg = _manifest_cell_digest(
            root, m, str(c), extra_tags=[int(batch_tag)], use_cache=False
        )
        if dg is not None:
            updates[str(c)] = dg
    return updates


def ann_search_pq(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    max_probe_cells: int = 10_000,
    max_query_rows: int = 100_000,
    max_pushdown_candidates: int = 10_000,
    min_pushdown_bytes: int = 256 << 20,
    _stop_after: str | None = None,
) -> DataFrame:
    """Serve cosine top-k from the PQ sidecar: probe-pruned ADC scan
    over codes, exact re-rank over candidates only.

    ``_stop_after`` is bench instrumentation (phase decomposition, r8
    VERDICT task 6): ``"probe"`` returns the per-query probed-cell
    frame (centroid ranking only), ``"adc"`` returns the ADC candidate
    frame (probe + codes scan + candidate top-k, no float fetch).
    Phase costs read as deltas: rerank = full − adc, adc-scan = adc −
    probe.  Not part of the serving contract.

    Same contract as :func:`ann_search` (``[query_id, neighbor_id,
    cos_sim, rank]``, exact scores — the ADC estimate only RANKS the
    candidate pool).  I/O per query: the probed cells' CODES
    (~9 B/row vs 512 B/row of floats) plus the k·rerank_factor
    candidates' float vectors — at 100 TB of embeddings that is the
    difference between re-reading the corpus slice and reading 2 % of
    it.  With ``nprobe >= n_centroids`` and ``k·rerank_factor >=
    |corpus|`` the result EQUALS :func:`ann_search`'s full probe ==
    brute force (pinned by test).  Raises if the sidecar is missing or
    stale (cells tree changed since :func:`pq_augment_ann_index`).
    """
    from .pq import PQCodebooks, _subspace_slices

    # snapshot resolve: the manifest pins live sets AND recorded
    # fingerprints in one atomic read, so a serve concurrent with an
    # ingest commit or fold pairs codes, cells and fingerprints from
    # the SAME snapshot at every instant (see the manifest section)
    manifest = _load_manifest(root)
    meta = read_json(os.path.join(root, "_pq_meta.json"))
    if meta is None:
        raise ValueError(
            f"ann_search_pq: no PQ sidecar at {root} — run "
            "pq_augment_ann_index(spark, root) first."
        )
    # codes/books pairing: a mid-retrain (or crashed-augment) state
    # mismatches — refuse loudly rather than rank ADC sims computed from
    # foreign codebooks
    meta_bid = meta.get("books_id") or _books_id(meta.get("books", []))
    if manifest.get("books_id") != meta_bid:
        raise ValueError(
            f"ann_search_pq: the PQ sidecar at {root} is mid-retrain "
            "(or a retrain crashed): the manifest's codes were not "
            "written by the codebooks in _pq_meta.json — re-run "
            "pq_augment_ann_index(spark, root)."
        )
    cb = PQCodebooks(
        books=tuple(tuple(tuple(c) for c in b) for b in meta["books"]),
        n_dims=meta["n_dims"],
    )
    q_rows = collect_queries(
        queries, id_col, vec_col, max_query_rows, "ann_search_pq"
    )
    q_id_ddl = queries.schema[id_col].dataType.simpleString()
    if not q_rows:
        return empty_topk(spark, q_id_ddl)
    _, probes, cell_qidx, cell_ddl = _probe(
        spark, root, q_rows, vec_col, nprobe, round_digits,
        max_probe_cells, "ann_search_pq",
    )
    probe_cells = sorted(cell_qidx)
    # per PROBED cell gate: ingest into cell A must not block serves
    # probing only untouched cell B
    stale = [
        c
        for c in probe_cells
        if _manifest_cell_digest(root, manifest, str(c))
        != manifest["code_fps"].get(str(c))
    ]
    if stale:
        raise ValueError(
            f"ann_search_pq: probed cells {stale} at {root} changed "
            "since their PQ codes were written (ingest/fold) — those "
            "codes are STALE. Run pq_reencode_stale_cells(spark, "
            "root) (or pq_augment_ann_index to retrain)."
        )
    missing = [c for c in probe_cells if _codes_missing(root, manifest, c)]
    if missing:
        raise ValueError(
            f"ann_search_pq: the live PQ codes of probed cells {missing} "
            f"at {root} are missing from disk. Run "
            "pq_augment_ann_index(spark, root) (or "
            "pq_reencode_stale_cells to re-encode just those cells)."
        )
    if _stop_after == "probe":
        return spark.createDataFrame(
            [
                (r["qid"], c)
                for r, cells in zip(q_rows, probes)
                for c in cells
            ],
            f"query_id {q_id_ddl}, cell {cell_ddl}",
        )
    code_paths = _code_paths(root, manifest, probe_cells)
    floats = (
        _read_cells(spark, root, manifest, probe_cells) if code_paths
        else None
    )
    if floats is None:
        # every probed cell is empty under this snapshot (the per-cell
        # gate passed, so codes and cells agree)
        return empty_topk(spark, q_id_ddl)

    # -- compact query shipment: the closure carries q_mat/books/q_norm
    # (n_queries × n_dims floats + the tiny codebooks), NOT the expanded
    # per-query (m × n_codes) LUT dict — at max_query_rows=100k that
    # dict is ~100+ MB serialized into EVERY task.  LUTs are built once
    # per worker from the compact arrays (the pq_topk._scan shape).
    # The ADC scan is JOIN-FREE: one Arrow pass over the pruned codes
    # scores each batch against the queries probing its cell and keeps
    # a LOCAL top-(k·factor), so only |Q|·k·factor rows per batch reach
    # the global rank.
    slices = _subspace_slices(cb.n_dims, cb.m_subspaces)
    books = cb.books
    q_mat, q_norm, q_zero = prep_queries(
        [r["qv"] for r in q_rows], cb.n_dims
    )
    q_ids = [r["qid"] for r in q_rows]
    n_cand = max(k * rerank_factor, k)

    adc_ddl = topk_ddl(q_id_ddl)
    adc_pa_schema = arrow_schema(adc_ddl)
    dec = by_value(decode_list_matrix)  # codes are small ints, exact
    # through its float64 matrix
    groups = by_value(_cell_groups)
    cos = by_value(cosine_block)
    hup = by_value(half_up)
    emit = by_value(local_topk)

    def _adc(batches):
        # Arrow-native: codes decode to the (batch × m) int matrix with
        # one flatten+reshape, no per-row Python
        guard_import_caches()
        import numpy as np

        cents = [np.asarray(b, dtype=np.float64) for b in books]
        # luts[s]: (n_codes, n_queries) — built once per worker;
        # approx_dot(x, q) = sum_s luts[s][code_s(x), j]
        luts = [
            cents[s] @ q_mat[:, lo:hi].T
            for s, (lo, hi) in enumerate(slices)
        ]
        m = len(luts)
        for rb in batches:
            nrows = rb.num_rows
            if not nrows:
                continue
            ids = rb.column(1).to_numpy(zero_copy_only=False)
            codes = dec(rb.column(2), nrows, width=m)[0].astype(np.int64)
            vnorm = rb.column(3).to_numpy(zero_copy_only=False)

            def block(sel, qi):
                # slice each LUT to this cell's probing queries BEFORE
                # the code gather: gathering first materializes a
                # (batch × |Q_total|) temporary per subspace — 8 GB at
                # the documented max_query_rows
                dots = luts[0][:, qi][codes[sel, 0]]
                for s in range(1, m):
                    dots = dots + luts[s][:, qi][codes[sel, s]]
                # NaN vnorm is pq_encode's "never a candidate" marker;
                # only genuine zeros take the otherwise-0 branch
                vn = vnorm[sel]
                sims = cos(dots, vn, q_norm[qi], vn == 0, q_zero[qi])
                return (
                    hup(sims, round_digits),
                    ids[sel],
                    ~np.isnan(vn),
                    [q_ids[j] for j in qi],
                )

            row_cells = rb.column(0).to_numpy(zero_copy_only=False)
            yield from emit(
                (block(sel, qi) for sel, qi in groups(row_cells, cell_qidx)),
                n_cand,
                adc_pa_schema,
            )

    codes_df = (
        spark.read.option("basePath", os.path.join(root, "pq_codes"))
        .schema(manifest["codes_schema"])
        .parquet(*code_paths)  # pinned snapshot, static pruning
        .select("cell", "vec_id", "codes", "vnorm")
    )
    cand = rank_topk(codes_df.mapInArrow(_adc, adc_ddl), n_cand).select(
        "query_id", "neighbor_id"
    )
    if _stop_after == "adc":
        return cand

    # -- exact re-rank: floats fetched for candidates only -------------
    # Candidate-ID pushdown: joining the float cells against the
    # broadcast candidate frame still SCANS every probed cell's float
    # column — the PQ serve once read ~2 GB of floats to fetch 20
    # candidate rows, erasing the codes' entire byte advantage (PQ cold
    # 12.1 s vs float 11.3 s at full probe).  The candidate set is
    # bounded (|Q| × k·rerank_factor), so when small enough for a
    # literal In filter it is collected ONCE (also reused as a literal
    # frame for the pairing join — the ADC scan must not execute twice)
    # and pushed into the parquet scan, where row-group vec_id stats
    # prune the float read to the candidates' groups.  Above the cap
    # (huge query batches) the join-only shape remains.  The pushdown
    # costs one EXTRA bounded Spark job (the eager candidate collect),
    # so it only engages when the probed float bytes are big enough to
    # out-cost that job — a cheap local listing decides; non-local
    # filesystems (listing fails) default to pushdown, the scale-safe
    # direction.
    floats = floats.select(
        F.col("vec_id").alias("neighbor_id"), F.col("cv"), F.col("cn")
    )
    probed_bytes = _probed_cell_bytes(root, probe_cells, manifest)
    if len(q_rows) * n_cand <= max_pushdown_candidates and (
        probed_bytes is None or probed_bytes >= min_pushdown_bytes
    ):
        pairs = cand.collect()  # bounded by the gate above
        cand = spark.createDataFrame(pairs, cand.schema)
        cand_ids = sorted({r["neighbor_id"] for r in pairs})
        floats = floats.where(F.col("neighbor_id").isin(cand_ids))
    return exact_rerank(
        floats, cand, queries, id_col, vec_col, k, round_digits
    )


def ann_serving_policy(
    root: str,
    nprobe: int,
    bandwidth_mbps: float | None = None,
    pq_tie_seconds: float = 6.0,
) -> dict:
    """The measured float-vs-PQ crossover rule as an executable policy
    (SCALE.md "Cold-cache run of the rule", r10–r11): returns
    ``{"path": "float"|"pq", "probed_bytes_est": int|None,
    "tie_bytes": int, "reason": str}`` from index METADATA only (one
    pointer/meta read + one file-size listing, never data I/O) — the
    same should_rebuild-style wiring that turned the drift monitor's
    prose recipe into code.

    The measured facts this encodes:

    - the tie sits where cold float probe I/O costs ≈ PQ's serve
      constant: ~2.0 GB probed at ~344 MB/s ≈ 6 s (r10 measured tie;
      ``pq_tie_seconds``), so ``tie_bytes = bandwidth × 6 s``;
    - PQ WINS on SELECTIVE probes past the tie: 150 M × 64 d quarter
      probe = 5.6 GB probed → float 51.8 s (scattered pruned reads
      reach only ~1/3 of sequential bandwidth) vs PQ 14.0 s (r11
      measured, 3.7×);
    - FULL sweeps (``nprobe ≥ n_centroids``) stay float at local-disk
      bandwidth: one parallel sequential scan reaches ~490 MB/s while
      the ADC gather over every code row is itself O(corpus) compute
      (r11 measured: 45.6 s float vs 55.0 s PQ at 22.4 GB).

    Bandwidth resolution (r12, r11 VERDICT Missing #3): an explicit
    ``bandwidth_mbps`` argument wins; otherwise the ``bandwidth_mbps``
    stamp :func:`build_ann_index` measured into ``_ann_meta.json`` (a
    bounded cold-read probe of the index's own cells — the policy is
    portable by default); only then the 344 MB/s dev-box literal.
    ``bandwidth_source`` in the result names which applied.  Object
    stores are often 100–200 MB/s per node, moving the tie down to
    0.6–1.2 GB.  An unlistable root assumes large (``"pq"`` when the
    sidecar exists), the same fail direction as the rerank pushdown
    gate."""
    meta = read_json(os.path.join(root, "_ann_meta.json")) or {}
    if bandwidth_mbps is not None:
        bw, bw_src = float(bandwidth_mbps), "argument"
    elif meta.get("bandwidth_mbps"):
        bw, bw_src = float(meta["bandwidth_mbps"]), "index_stamp"
    else:
        bw, bw_src = 344.0, "default"
    tie_bytes = int(bw * 1e6 * pq_tie_seconds)
    out = {
        "tie_bytes": tie_bytes,
        "probed_bytes_est": None,
        "bandwidth_mbps": bw,
        "bandwidth_source": bw_src,
    }
    if not os.path.isdir(root):
        # non-local root (object store): the sidecar check below is a
        # LOCAL stat, so falling through would misreport "no PQ
        # sidecar" — assume large instead (the documented fail
        # direction; note ann_search_pq still raises if the sidecar
        # genuinely does not exist at serve time)
        out.update(
            path="pq",
            reason="root not locally listable — assume probed bytes "
            "large (serve raises if the PQ sidecar is missing)",
        )
        return out
    if not os.path.exists(os.path.join(root, "_pq_meta.json")):
        out.update(
            path="float",
            reason="no PQ sidecar at this root (pq_augment_ann_index "
            "to enable the codes path)",
        )
        return out
    n_centroids = meta.get("n_centroids")
    if n_centroids is not None and int(nprobe) >= int(n_centroids):
        out.update(
            path="float",
            reason=f"full sweep (nprobe={nprobe} >= n_centroids="
            f"{n_centroids}): sequential float scan beats an O(corpus) "
            "ADC gather at local-disk bandwidth (r11 measured)",
        )
        return out
    m = _load_manifest(root)
    try:
        cells_bytes = _live_tree_bytes(root, m)
    except OSError:
        cells_bytes = None
    if cells_bytes is None or not n_centroids:
        out.update(
            path="pq",
            reason="cells not locally listable — assume probed bytes "
            "large (the pushdown gate's fail direction)",
        )
        return out
    probed = int(cells_bytes * min(int(nprobe), n_centroids) / n_centroids)
    out["probed_bytes_est"] = probed
    if probed >= tie_bytes:
        out.update(
            path="pq",
            reason=f"selective probe reads ~{probed >> 20} MiB of float "
            f"cells > tie {tie_bytes >> 20} MiB at {bw:.0f} MB/s",
        )
    else:
        out.update(
            path="float",
            reason=f"probed float bytes ~{probed >> 20} MiB under the "
            f"tie {tie_bytes >> 20} MiB — PQ's serve constant would "
            "dominate",
        )
    return out


def ann_search_auto(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    bandwidth_mbps: float | None = None,
    **kwargs,
) -> DataFrame:
    """Serve top-k through whichever path :func:`ann_serving_policy`
    recommends for this index + probe width.  Same result contract as
    both underlying paths (with full-coverage dials they are EXACTLY
    equal and otherwise differ only in recall, fuzz- and test-pinned);
    ``kwargs`` pass through to the chosen serve."""
    policy = ann_serving_policy(root, nprobe, bandwidth_mbps)
    if policy["path"] == "pq":
        return ann_search_pq(
            spark, root, queries, k=k, nprobe=nprobe, **kwargs
        )
    kwargs.pop("rerank_factor", None)  # PQ-only dial
    return ann_search(spark, root, queries, k=k, nprobe=nprobe, **kwargs)
