"""Materialized ANN index (operators/ann_index.py).

Evidence ladder:
- full-probe equivalence: nprobe >= n_centroids makes ann_search EXACTLY
  brute_force_topk (same rounding, same tie order) — the strongest
  correctness statement an approximate index can make;
- recall: the approximate (nprobe < n_centroids) path keeps high recall
  against the exact result, measured with similarity.recall_at_k — the
  same tuning loop a 100 TB deployment runs on a sample;
- refinement sanity: Lloyd iterations do not worsen the mean assignment
  cosine (monotone non-decreasing objective up to rounding);
- serving I/O: the cells read prunes to the probed partitions (file-level
  pruning is THE point of the partition-by-cell layout);
- determinism: two builds from the same corpus produce identical
  centroids (no RNG anywhere).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.operators.ann_index import (
    _assign_cells,
    ann_search,
    build_ann_index,
    kmeans_centroids,
)
from polars_w_inverted_index_spark.operators.similarity import (
    brute_force_topk,
    recall_at_k,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") % 50 == 0)  # 10 queries


@pytest.fixture(scope="module")
def index_root(tmp_path_factory, emb):
    root = str(tmp_path_factory.mktemp("ann_index"))
    build_ann_index(emb, root, n_centroids=8, n_iters=2)
    return root


def _key(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in df.collect()
    )


def _stored_rows(spark, root):
    """``vec_id`` of every vector row on disk: the base leaves plus the
    ingest commit directories."""
    rows = spark.read.parquet(os.path.join(root, "cells")).select("vec_id")
    deltas = os.path.join(root, "deltas")
    if os.path.isdir(deltas) and os.listdir(deltas):
        rows = rows.unionByName(spark.read.parquet(deltas).select("vec_id"))
    return rows


def _live_deltas(root, cell=None):
    """Live ingest-commit tags (>= 0) of ``cell`` (of every cell when
    None) under the manifest; negative tags are base generations."""
    import polars_w_inverted_index_spark.operators.ann_index as ai

    cells = ai._load_manifest(root)["cells"]
    return [
        t for c, tags in cells.items() for t in tags
        if t >= 0 and (cell is None or c == str(cell))
    ]


def test_full_probe_equals_brute_force(spark, emb, queries, index_root):
    exact = brute_force_topk(emb, queries, k=5)
    served = ann_search(spark, index_root, queries, k=5, nprobe=8)
    assert _key(served) == _key(exact)


def test_approximate_recall(spark, emb, queries, index_root):
    """Corpus-derived recall bound — no fixed threshold to drift when
    the driver regenerates the embeddings.

    Under the deterministic total order (rounded cos DESC, id ASC), an
    exact top-k neighbor that lies in a probed cell is ALWAYS served:
    fewer than k corpus vectors precede it in the order, hence fewer
    than k candidates do.  Conversely a neighbor outside every probed
    cell can never be served.  So mean recall must EQUAL the measured
    probe-coverage of the exact neighbors — an equality on the actual
    corpus, not a guess about its geometry."""
    k, nprobe = 5, 3
    exact = brute_force_topk(emb, queries, k=k)
    approx = ann_search(spark, index_root, queries, k=k, nprobe=nprobe)
    row = recall_at_k(approx, exact).first()
    assert row["n_queries"] == queries.count()

    cent = spark.read.parquet(os.path.join(index_root, "centroids"))
    cells = _assign_cells(
        emb, cent, "vec_id", "embedding", keep_n=1
    ).select(F.col("_id").alias("neighbor_id"), F.col("cell").alias("ncell"))
    probed = _assign_cells(
        queries, cent, "vec_id", "embedding", keep_n=nprobe
    ).select(F.col("_id").alias("query_id"), F.col("cell").alias("ncell"))
    n_exact = exact.count()
    n_covered = (
        exact.join(cells, "neighbor_id")
        .join(probed, ["query_id", "ncell"], "left_semi")
        .count()
    )
    coverage = n_covered / n_exact
    assert abs(row["mean_recall"] - coverage) < 5e-6, (
        row["mean_recall"],
        coverage,
    )
    # candidate sets grow with nprobe, so recall is monotone in it
    more = recall_at_k(
        ann_search(spark, index_root, queries, k=k, nprobe=5), exact
    ).first()
    assert more["mean_recall"] >= row["mean_recall"]


def test_partition_pruning(spark, emb, queries, index_root):
    # nprobe=1 with a single query: the serve must read ONLY the probed
    # cell's live directories.  Since r14 pruning happens at
    # path-listing time (the manifest snapshot hands the scan the exact
    # live set — stronger than a PartitionFilters predicate over a
    # whole-tree listing): every input file sits under exactly one
    # cell= partition.
    one_q = queries.limit(1)
    served = ann_search(spark, index_root, one_q, k=3, nprobe=1)
    files = served.inputFiles()
    assert files, "serve must scan the probed cell's files"
    probed_cells = {
        part
        for f in files
        for part in f.split("/")
        if part.startswith("cell=")
    }
    assert len(probed_cells) == 1, probed_cells
    assert served.count() > 0


def test_refinement_does_not_worsen_objective(emb):
    def mean_best_cos(cent):
        a = _assign_cells(emb, cent, "vec_id", "embedding", keep_n=1)
        scored = a.join(
            cent.select(F.col("cid").alias("cell"), "centv", "centn"),
            "cell",
        )
        from polars_w_inverted_index_spark.functions.vectors import (
            cosine_with_norms,
        )

        return scored.agg(
            F.avg(
                cosine_with_norms(
                    "v", "centv", F.col("vn"), F.col("centn")
                )
            ).alias("m")
        ).first()["m"]

    seed = kmeans_centroids(emb, n_centroids=8, n_iters=0)
    refined = kmeans_centroids(emb, n_centroids=8, n_iters=2)
    assert mean_best_cos(refined) >= mean_best_cos(seed) - 1e-6


def test_deterministic_build(emb):
    a = kmeans_centroids(emb, n_centroids=4, n_iters=1).collect()
    b = kmeans_centroids(emb, n_centroids=4, n_iters=1).collect()
    assert sorted(r["cid"] for r in a) == sorted(r["cid"] for r in b)
    av = {r["cid"]: r["centv"] for r in a}
    bv = {r["cid"]: r["centv"] for r in b}
    assert av == bv


def test_probe_cap_guard(spark, emb, queries, index_root):
    with pytest.raises(ValueError, match="max_probe_cells"):
        ann_search(
            spark, index_root, queries, k=3, nprobe=2, max_probe_cells=1
        )


def test_add_batch_then_full_probe_exact(spark, emb, tmp_path):
    """Index built on half the corpus + add_batch of the other half ==
    brute force over the WHOLE corpus at full probe (the incremental
    path changes nothing about served results)."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_add_batch,
    )

    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    root = str(tmp_path / "ann_incr")
    build_ann_index(old, root, n_centroids=6, n_iters=1)
    n = ann_index_add_batch(spark, root, new)
    assert n == new.count()
    queries = emb.where(F.col("vec_id") % 100 == 0)
    served = ann_search(spark, root, queries, k=5, nprobe=6)
    exact = brute_force_topk(emb, queries, k=5)
    assert _key(served) == _key(exact)


def test_streaming_ingest_replay_guard(spark, emb, tmp_path):
    """Two guarded micro-batches extend the index; a replayed committed
    batch_id is a no-op (no double-insert); a behind batch_id fails
    loudly (checkpoint reset)."""
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    first = emb.where(F.col("vec_id") < 200)
    b1 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 350))
    b2 = emb.where(F.col("vec_id") >= 350)
    root = str(tmp_path / "ann_stream")
    build_ann_index(first, root, n_centroids=6, n_iters=1)

    assert ann_ingest_batch(b1, root, batch_id=0) == b1.count()
    assert ann_ingest_batch(b2, root, batch_id=1) == b2.count()
    assert _stored_rows(spark, root).count() == emb.count()

    # committed replay: no-op, stored rows unchanged
    assert ann_ingest_batch(b2, root, batch_id=1) == 0
    assert _stored_rows(spark, root).count() == emb.count()
    # behind the committed id: loud failure
    with pytest.raises(ValueError, match="behind committed"):
        ann_ingest_batch(b1, root, batch_id=0)

    # the streamed-in index serves exactly like a batch-built one
    queries = emb.where(F.col("vec_id") % 100 == 0)
    served = ann_search(spark, root, queries, k=5, nprobe=6)
    exact = brute_force_topk(emb, queries, k=5)
    assert _key(served) == _key(exact)


def test_ingest_crash_window_replay(spark, emb, tmp_path):
    """The crash window AFTER the parquet append lands but BEFORE the
    manifest swap: the replay must remove the orphaned batch files
    (they're isolated in the batch's commit directory) and re-append
    exactly once — no double-insert, no lost rows."""
    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    first = emb.where(F.col("vec_id") < 300)
    b0 = emb.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b1 = emb.where(F.col("vec_id") >= 400)
    root = str(tmp_path / "ann_crash")
    build_ann_index(first, root, n_centroids=6, n_iters=1)
    assert ann_ingest_batch(b0, root, batch_id=0) == b0.count()

    # simulate the crashed attempt: files land, the manifest does not
    assigned, _touched, _n = ai._assign_batch_checkpoint(
        spark, root, b1, "vec_id", "embedding"
    )
    ai._append_assigned(root, assigned, 1)
    # replay of batch 1 cleans the orphan and appends exactly once
    assert ann_ingest_batch(b1, root, batch_id=1) == b1.count()
    cells = _stored_rows(spark, root)
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()


def test_compaction_folds_deltas_and_preserves_serving(spark, emb, tmp_path):
    """After several guarded micro-batches, compaction folds the
    ingest commits into the base layout with identical served
    results (full-probe == brute force before and after), and a second
    compaction is a no-op."""
    import glob

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_compact,
    )
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    root = str(tmp_path / "ann_compact")
    build_ann_index(emb.where(F.col("vec_id") < 200), root,
                    n_centroids=6, n_iters=1)
    for i, lo, hi in [(0, 200, 300), (1, 300, 400), (2, 400, 10**9)]:
        b = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        assert ann_ingest_batch(b, root, batch_id=i) == b.count()
    assert len(glob.glob(f"{root}/deltas/ingest_batch=*")) == 3

    queries = emb.where(F.col("vec_id") % 100 == 0)
    before = _key(ann_search(spark, root, queries, k=5, nprobe=6))
    # grace=0: the superseded directories prune inside the same fold,
    # so the physical tree collapses to the live set immediately (the
    # default grace keeps them for in-flight snapshot readers)
    folded = ann_index_compact(spark, root, retire_grace_seconds=0)
    assert folded >= 3
    import polars_w_inverted_index_spark.operators.ann_index as ai

    m = ai._load_manifest(root)
    # every cell folded to ONE live generation directory, no deltas
    assert all(
        len(tags) == 1 and tags[0] < 0 for tags in m["cells"].values()
    ), m["cells"]
    after_dirs = glob.glob(f"{root}/cells/cell=*/ingest_batch=*")
    per_cell: dict = {}
    for d in after_dirs:
        per_cell.setdefault(d.rsplit("/", 2)[-2], []).append(d)
    assert per_cell and all(len(v) == 1 for v in per_cell.values()), per_cell
    assert os.listdir(f"{root}/deltas") == []  # every commit retired
    assert _key(ann_search(spark, root, queries, k=5, nprobe=6)) == before
    assert before == _key(brute_force_topk(emb, queries, k=5))
    assert ann_index_compact(spark, root) == 0  # idempotent no-op


def test_argmax_assignment_equals_window_path(emb):
    """The keep_n=1 max(struct) fast path returns exactly what the
    ranking-window path would (same tie rule), and its plan carries a
    partial aggregation (map-side collapse) instead of a window over
    the scored cross product."""
    from pyspark.sql import Window

    cent = kmeans_centroids(emb, n_centroids=8, n_iters=0)
    fast = _assign_cells(emb, cent, "vec_id", "embedding", keep_n=1)
    got = {r["_id"]: r["cell"] for r in fast.collect()}

    # independent window-path reference
    from polars_w_inverted_index_spark.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    scored = (
        emb.select(
            F.col("vec_id").alias("_id"),
            F.col("embedding").alias("v"),
            norm(F.col("embedding")).alias("vn"),
        )
        .crossJoin(F.broadcast(cent))
        .select(
            "_id",
            F.col("cid").alias("cell"),
            F.round(
                cosine_with_norms("v", "centv", F.col("vn"), F.col("centn")),
                5,
            ).alias("ccos"),
        )
    )
    w = Window.partitionBy("_id").orderBy(
        F.col("ccos").desc(), F.col("cell").asc()
    )
    ref = {
        r["_id"]: r["cell"]
        for r in scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    }
    assert got == ref

    plan = fast._jdf.queryExecution().executedPlan().toString()
    # r9: the corpus-wide assignment is ONE narrow Arrow GEMM pass —
    # no shuffle at all (the pre-r9 argmax aggregation still exchanged
    # |corpus| rows, and its zip_with scoring was interpreted per pair);
    # the banned shapes are any Exchange and the Window over the scored
    # cross product.  r10: MapInArrow, not MapInPandas — the pandas
    # bridge's per-row vector objects cost ~2 s per million rows.
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Window" not in plan


def test_dim_mismatch_fails_loudly(spark, emb, index_root):
    """A query set whose embedding width differs from the index's
    build-time width is rejected (zip_with would otherwise silently
    score on the shared prefix)."""
    from polars_w_inverted_index_spark.functions.vectors import (
        random_projection,
    )

    narrow = emb.select(
        "vec_id", random_projection("embedding", 64, 8).alias("embedding")
    ).limit(2)
    with pytest.raises(ValueError, match="64-dim"):
        ann_search(spark, index_root, narrow, k=3, nprobe=2)


# ---------------------------------------------------------------------------
# IVF-PQ sidecar
# ---------------------------------------------------------------------------

def test_pq_sidecar_full_probe_full_rerank_equals_brute_force(
    spark, emb, queries, index_root
):
    """nprobe >= n_centroids probes every cell and k*factor covering
    the corpus reranks every candidate exactly — the PQ path's answer
    must EQUAL ann_search's full probe == brute force, row for row."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    pq_augment_ann_index(spark, index_root, m_subspaces=8, n_codes=16)
    n = emb.count()
    exact = brute_force_topk(emb, queries, k=5)
    served = ann_search_pq(
        spark, index_root, queries, k=5, nprobe=8,
        rerank_factor=(n // 5) + 1,
    )
    assert _key(served) == _key(exact)


def test_pq_sidecar_modest_rerank_recall(spark, emb, queries, index_root):
    """At a realistic candidate width the exact re-rank must (a) return
    only true cosine scores (every served row matches brute force's
    score for that pair) and (b) recall a usable fraction of the exact
    top-k.  Floor is conservative: random gaussian embeddings are the
    PQ-adversarial case and the corpus regenerates between rounds."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    pq_augment_ann_index(spark, index_root, m_subspaces=8, n_codes=16)
    k = 5
    exact = brute_force_topk(emb, queries, k=k)
    served = ann_search_pq(
        spark, index_root, queries, k=k, nprobe=8, rerank_factor=8
    )
    exact_pairs = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in exact.collect()
    }
    served_rows = served.collect()
    n_queries = queries.count()
    assert 0 < len(served_rows) <= n_queries * k
    hits = sum(
        1 for r in served_rows
        if (r["query_id"], r["neighbor_id"]) in exact_pairs
    )
    # scores of true hits are EXACT (re-rank is never the ADC estimate)
    for r in served_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_pairs:
            assert r["cos_sim"] == exact_pairs[key]
    assert hits / len(exact_pairs) >= 0.3, hits / len(exact_pairs)


def test_pq_cells_fingerprint_cached_on_warm_serve(
    spark, emb, tmp_path, monkeypatch
):
    """The cells-tree staleness fingerprint must not re-walk the cells
    listing on every warm serve (same r9 listing-cache contract as the
    postings gate); ingest still flips it to STALE through the cache."""
    import time

    import pytest as _pytest

    from polars_w_inverted_index_spark.functions.listing import (
        invalidate_listing_cache,
    )
    from polars_w_inverted_index_spark.operators import ann_index as ai

    root = str(tmp_path / "pq_cache")
    ai.build_ann_index(
        emb.where(F.col("vec_id") < 300), root, n_centroids=4
    )
    ai.pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    t = time.time() - 10.0
    for dp, _dn, _fn in os.walk(root):
        os.utime(dp, (t, t))

    invalidate_listing_cache()
    walks: list[str] = []
    real_walk = ai._manifest_walk
    monkeypatch.setattr(
        ai,
        "_manifest_walk",
        lambda p, tags: (walks.append(p), real_walk(p, tags))[1],
    )
    q = emb.where(F.col("vec_id") < 3)
    assert ai.ann_search_pq(spark, root, q, k=3, nprobe=4).count() > 0
    cold = list(walks)
    # per-cell gate (r13; manifest live-set digests since r14): one cold
    # walk PER PROBED CELL dir (never a whole-tree walk), each a
    # distinct cell=* path
    assert cold and all(
        os.path.basename(p).startswith("cell=") for p in cold
    )
    assert len(set(cold)) == len(cold)
    for _ in range(2):
        assert ai.ann_search_pq(spark, root, q, k=3, nprobe=4).count() > 0
    assert walks == cold, walks  # warm serves: token hits, no re-walk

    # ingest moves a cell dir mtime: the gate flips THROUGH the cache
    ai.ann_index_add_batch(
        spark, root, emb.where(F.col("vec_id").between(300, 310)),
        batch_tag=1,
    )
    with _pytest.raises(ValueError, match="STALE"):
        ai.ann_search_pq(spark, root, q, k=3)


def test_pq_augment_covers_recorded_dims(spark, emb, tmp_path):
    """r8 ADVICE (medium): pq_augment_ann_index used pq_train's default
    n_dims=64, silently PQ-encoding only the first 64 dims of a wider
    index (_pad_matrix truncates) — ADC ranking degraded with no error.
    It must read dims from _ann_meta.json.  Adversarial corpus: the
    FIRST 64 dims are a shared constant, so prefix-only codes collapse
    to ONE code for every row."""
    import json as _json

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        build_ann_index,
        pq_augment_ann_index,
    )

    wide = emb.where(F.col("vec_id") < 200).select(
        "vec_id",
        F.concat(
            F.array(*[F.lit(0.5)] * 64).cast("array<double>"),
            F.slice("embedding", 1, 32).cast("array<double>"),
        ).alias("embedding"),
    )
    root = str(tmp_path / "pq_wide")
    build_ann_index(wide, root, n_centroids=4, n_iters=1)
    pq_augment_ann_index(spark, root, m_subspaces=8, n_codes=8)
    with open(os.path.join(root, "_pq_meta.json")) as f:
        assert _json.load(f)["n_dims"] == 96
    codes = spark.read.parquet(os.path.join(root, "pq_codes"))
    # truncated-to-prefix codes would be identical for every row
    assert codes.select("codes").distinct().count() > 1
    q = wide.where(F.col("vec_id") < 2)
    exact = brute_force_topk(wide, q, k=3)
    served = ann_search_pq(
        spark, root, q, k=3, nprobe=4, rerank_factor=1000
    )
    assert _key(served) == _key(exact)


def test_pq_augment_missing_dims_raises(spark, emb, tmp_path):
    """An index whose meta lacks dims must refuse augmentation rather
    than guess a width; an explicit n_dims override unblocks it."""
    import json as _json

    import pytest as _pytest

    from polars_w_inverted_index_spark.operators.ann_index import (
        build_ann_index,
        pq_augment_ann_index,
    )

    root = str(tmp_path / "pq_nodims")
    build_ann_index(emb.where(F.col("vec_id") < 100), root, n_centroids=2)
    meta_path = os.path.join(root, "_ann_meta.json")
    with open(meta_path) as f:
        meta = _json.load(f)
    meta.pop("dims")
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    with _pytest.raises(ValueError, match="dims"):
        pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8, n_dims=64)
    with open(os.path.join(root, "_pq_meta.json")) as f:
        assert _json.load(f)["n_dims"] == 64


def test_pq_sidecar_staleness_and_missing_gates(spark, emb, tmp_path):
    """Missing sidecar raises with the augment instruction; ingest
    after augmentation makes the sidecar STALE (fingerprint gate);
    re-augmenting serves again."""
    import pytest as _pytest

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_add_batch,
        ann_search_pq,
        build_ann_index,
        pq_augment_ann_index,
    )

    root = str(tmp_path / "pq_stale")
    build_ann_index(emb.where(F.col("vec_id") < 300), root, n_centroids=4)
    q = emb.where(F.col("vec_id") < 3)
    with _pytest.raises(ValueError, match="pq_augment_ann_index"):
        ann_search_pq(spark, root, q, k=3)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    assert ann_search_pq(spark, root, q, k=3, nprobe=4).count() > 0
    ann_index_add_batch(
        spark, root, emb.where(F.col("vec_id").between(300, 320)),
        batch_tag=1,
    )
    with _pytest.raises(ValueError, match="STALE"):
        ann_search_pq(spark, root, q, k=3)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    served = ann_search_pq(
        spark, root, q, k=3, nprobe=4,
        rerank_factor=1000,
    )
    # full probe + full rerank over the INGESTED corpus: the appended
    # vectors are servable
    got_ids = {r["neighbor_id"] for r in served.collect()}
    exact = brute_force_topk(
        emb.where(F.col("vec_id") <= 320), q, k=3
    )
    assert _key(served) == _key(exact)
    assert got_ids  # non-empty


def test_null_vectors_degrade_to_zero_not_crash(spark, emb, tmp_path):
    """r9 review: a NULL embedding row must not crash the GEMM closures
    (np.asarray(None) raises).  r10 (r9 ADVICE): a NULL corpus vector is
    never EMITTED as a neighbor — the SQL twin scores it NULL (sorted
    last under desc), so a 0.0 emission would outrank genuine
    negative-sim matches."""
    rows = emb.where(F.col("vec_id") < 100).select("vec_id", "embedding")
    with_null = rows.unionByName(
        spark.createDataFrame([(99999, None)], schema=rows.schema)
    )
    root = str(tmp_path / "ann_null")
    build_ann_index(with_null, root, n_centroids=4, n_iters=1)
    q = emb.where(F.col("vec_id") < 3)
    served = ann_search(spark, root, q, k=3, nprobe=4)
    got = served.collect()
    assert len(got) > 0
    # the null row is excluded from candidates entirely
    assert all(r["neighbor_id"] != 99999 for r in got)
    # a NULL query vector also degrades (scores 0) instead of crashing
    qn = spark.createDataFrame(
        [(77777, None)], schema=q.select("vec_id", "embedding").schema
    )
    out = ann_search(spark, root, qn, k=2, nprobe=4).collect()
    assert all(r["cos_sim"] == 0.0 for r in out)


def test_pq_empty_query_schema_matches_nonempty(spark, emb, tmp_path):
    """r9 review: the empty-query early return must carry the query id
    column's REAL type (a string-keyed caller unioning per-batch
    results must not see the schema flip on an empty batch)."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    root = str(tmp_path / "pq_schema")
    build_ann_index(emb.where(F.col("vec_id") < 200), root, n_centroids=2)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    str_q = emb.where(F.col("vec_id") < 0).select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    out = ann_search_pq(spark, root, str_q, k=2)
    assert out.schema["query_id"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_null_corpus_vector_never_displaces_negative_sim(spark, tmp_path):
    """r9 ADVICE: with only negative-similarity real matches, the NULL
    row must not win a rank slot with a fabricated 0.0 — across the
    float serve AND the PQ sidecar serve."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(1, [-1.0, 0.0]), (2, None)], schema
    )
    q = spark.createDataFrame([(10, [1.0, 0.0])], schema)
    root = str(tmp_path / "ann_neg")
    build_ann_index(corpus, root, n_centroids=1, n_iters=0)
    got = ann_search(spark, root, q, k=2, nprobe=1).collect()
    assert [r["neighbor_id"] for r in got] == [1]
    assert got[0]["cos_sim"] == -1.0
    pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=2)
    got_pq = ann_search_pq(
        spark, root, q, k=2, nprobe=1, rerank_factor=2
    ).collect()
    assert [r["neighbor_id"] for r in got_pq] == [1]
    assert got_pq[0]["cos_sim"] == -1.0


def test_gemm_rounding_matches_sql_half_up(spark, tmp_path):
    """r9 ADVICE (medium): cos = 0.25 exactly (dyadic: dot 1, norms
    1 x 4) sits ON the .5 boundary at round_digits=1 — np.round
    (half-to-even) gives 0.2, Spark F.round (HALF_UP) gives 0.3.  The
    numpy serve paths must match the SQL twins on this class."""
    from polars_w_inverted_index_spark.operators.ann_index import _half_up
    from polars_w_inverted_index_spark.operators.similarity import (
        brute_force_topk_gemm,
    )

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(1, [1.0, 3.0, 2.0, 1.0, 1.0])], schema  # |c| = sqrt(16) = 4
    )
    q = spark.createDataFrame([(10, [1.0, 0.0, 0.0, 0.0, 0.0])], schema)
    twin = brute_force_topk(
        corpus, q, k=1, round_digits=1, allow_full_scan=True
    ).collect()
    assert [r["cos_sim"] for r in twin] == [0.3]  # HALF_UP, not 0.2
    gemm = brute_force_topk_gemm(corpus, q, k=1, round_digits=1).collect()
    assert [(r["neighbor_id"], r["cos_sim"]) for r in gemm] == [(1, 0.3)]
    root = str(tmp_path / "ann_round")
    build_ann_index(corpus, root, n_centroids=1, n_iters=0)
    served = ann_search(
        spark, root, q, k=1, nprobe=1, round_digits=1
    ).collect()
    assert [(r["neighbor_id"], r["cos_sim"]) for r in served] == [(1, 0.3)]
    # the helper itself, against Spark's round, on both signs
    vals = [0.25, -0.25, 0.015625, -0.015625, 0.1, 1.0 / 3.0]
    digs = [1, 1, 5, 5, 1, 5]
    sql = spark.sql(
        "SELECT "
        + ", ".join(
            f"round(CAST({v!r} AS DOUBLE), {d}) AS c{i}"
            for i, (v, d) in enumerate(zip(vals, digs))
        )
    ).first()
    for i, (v, d) in enumerate(zip(vals, digs)):
        assert float(_half_up(v, d)) == sql[f"c{i}"], (v, d)


def test_kmeans_update_excludes_null_vectors(spark):
    """r9 ADVICE: a NULL vector contributes to NEITHER the Lloyd
    numerator nor denominator (the pre-r9 posexplode exclusion) —
    centroids with and without an extra NULL row are identical."""
    schema = "vec_id long, embedding array<double>"
    base = [(i, [float(i + 1), 1.0]) for i in range(6)]
    c1 = kmeans_centroids(
        spark.createDataFrame(base, schema), n_centroids=2, n_iters=2
    ).collect()
    c2 = kmeans_centroids(
        spark.createDataFrame(base + [(99, None)], schema),
        n_centroids=2,
        n_iters=2,
    ).collect()

    def key(rows):
        return sorted((r["cid"], tuple(r["centv"])) for r in rows)

    assert key(c1) == key(c2)


def test_pq_candidate_pushdown_identical_and_pruned(spark, emb, tmp_path):
    """r10: the rerank's candidate-ID pushdown (engaged when the probed
    float cells are big enough to out-cost its extra job; forced here
    with min_pushdown_bytes=0) returns results identical to the
    join-only shape, and its float scan carries the In(vec_id)
    predicate that prunes the read to the candidates' row groups."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    root = str(tmp_path / "pq_push")
    build_ann_index(emb.where(F.col("vec_id") < 300), root, n_centroids=4)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    q = emb.where(F.col("vec_id") % 100 == 0)

    pushed = ann_search_pq(
        spark, root, q, k=3, nprobe=2, min_pushdown_bytes=0
    )
    joined = ann_search_pq(
        spark, root, q, k=3, nprobe=2, min_pushdown_bytes=1 << 60
    )
    assert _key(pushed) == _key(joined)
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "In(neighbor_id" in plan or "PushedFilters: [In" in plan, plan


def test_probed_bytes_gate_fails_to_pushdown(spark, emb, tmp_path, monkeypatch):
    """The probed-bytes gate reads None (object-store root, listing
    fails) as 'assume large' and ENGAGES the pushdown — failing toward
    the scale-safe shape, with results unchanged."""
    import polars_w_inverted_index_spark.operators.ann_index as ai

    root = str(tmp_path / "pq_gate")
    build_ann_index(emb.where(F.col("vec_id") < 200), root, n_centroids=2)
    ai.pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    q = emb.where(F.col("vec_id") % 100 == 0)
    want = _key(ai.ann_search_pq(spark, root, q, k=3, nprobe=2))

    monkeypatch.setattr(
        ai, "_probed_cell_bytes", lambda *a, **k: None
    )
    got_df = ai.ann_search_pq(spark, root, q, k=3, nprobe=2)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "In(neighbor_id" in plan or "PushedFilters: [In" in plan, plan
    assert _key(got_df) == want


def test_probed_cell_bytes_unlistable_root_is_none(tmp_path, monkeypatch):
    """r10 ADVICE: the REAL fallback, not a monkeypatched stand-in.
    os.walk suppresses listing errors by default, so a non-listable
    root used to yield 0 ('small' -> pushdown DISABLED).  Every
    unreadable shape must return None ('assume large' -> pushdown),
    and a listable tree must still count real bytes."""
    import os

    import polars_w_inverted_index_spark.operators.ann_index as ai

    m = {"cells": {"0": [-1]}}
    # URI-style / nonexistent roots: no local `cells` dir -> None
    assert ai._probed_cell_bytes("s3a://bucket/index", [0, 1], m) is None
    assert ai._probed_cell_bytes(str(tmp_path / "missing"), [0], m) is None

    # a real tree counts the live bytes (hidden entries skipped)
    root = tmp_path / "idx"
    live = root / "cells" / "cell=0" / "ingest_batch=-1"
    live.mkdir(parents=True)
    (live / "part-0.parquet").write_bytes(b"x" * 100)
    (live / "_SUCCESS").write_bytes(b"")
    assert ai._probed_cell_bytes(str(root), [0], m) == 100

    # a probed cell with NO directory is an EMPTY cell (a centroid
    # that is nobody's argmax gets no partition dir) — 0 bytes, not an
    # unlistable tree; returning None here would engage the pushdown's
    # extra job on every serve of a listable index (r11 review)
    assert ai._probed_cell_bytes(str(root), [0, 7], m) == 100

    # a walk-time listing error (permission-denied dir under a listable
    # root; simulated — tests run as root, which bypasses mode bits)
    real_scandir = os.scandir

    def deny(path="."):
        if "cell=0" in str(path):
            raise PermissionError(13, "denied", str(path))
        return real_scandir(path)

    monkeypatch.setattr(os, "scandir", deny)
    assert ai._probed_cell_bytes(str(root), [0], m) is None


def test_ingest_autocompact_dial_folds_and_reaugments(spark, emb, tmp_path):
    """r12: the streaming ingest's autocompaction dial (the LSM
    inline fold at the measured fragmentation knee).
    With ``max_batch_dirs_per_cell=1``, the second guarded batch pushes
    cells past the dial and the ingest folds — SELECTIVELY since r13
    (r12 VERDICT #1): only the offending cells lose their delta
    directories (sub-dial cells keep theirs for a later fold), serving
    equals brute force, the replay guard still holds after the fold,
    AND the PQ sidecar — per-cell-fingerprint-stale the moment the
    batches landed — is refreshed with its EXISTING codebooks
    (``pq_reencode_stale_cells`` covers folded AND sub-dial stale
    cells) so ``ann_search_pq`` keeps serving without an external
    scheduler."""
    import json as _json

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch
    from polars_w_inverted_index_spark.streaming.ann_ingest import (
        _cells_past_dial,
    )

    root = str(tmp_path / "ann_autocompact")
    build_ann_index(emb.where(F.col("vec_id") < 200), root,
                    n_centroids=6, n_iters=1)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    books_before = _json.load(open(f"{root}/_pq_meta.json"))["books"]

    def delta_dirs():
        return _live_deltas(root)

    b0 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    b1 = emb.where(F.col("vec_id") >= 300)
    assert ann_ingest_batch(
        b0, root, batch_id=0, max_batch_dirs_per_cell=1
    ) == b0.count()
    assert delta_dirs()  # one batch: at the dial, not past it
    before_fold = len(delta_dirs())
    assert ann_ingest_batch(
        b1, root, batch_id=1, max_batch_dirs_per_cell=1
    ) == b1.count()
    # past the dial: offending cells folded inline — every cell is back
    # at or under the dial (cells both batches touched held 2 dirs and
    # lost both; cells one batch touched keep their single dir for a
    # later fold — the r13 selective contract, pinned cell-by-cell by
    # test_autocompact_selective_fold_is_per_cell)
    import polars_w_inverted_index_spark.operators.ann_index as ai

    assert _cells_past_dial(ai._load_manifest(root), 1) == []
    assert before_fold > 0

    # replay guard survives the fold (the batch id commits in the same
    # manifest swap as the fold)
    assert ann_ingest_batch(
        b1, root, batch_id=1, max_batch_dirs_per_cell=1
    ) == 0

    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = _key(brute_force_topk(emb, queries, k=5))
    assert _key(ann_search(spark, root, queries, k=5, nprobe=6)) == exact
    # the sidecar was re-augmented in the fold: pq serves (it would
    # raise on a stale fingerprint) with the SAME recorded geometry
    served_pq = ann_search_pq(
        spark, root, queries, k=5, nprobe=6, rerank_factor=1000
    )
    assert _key(served_pq) == exact
    meta = _json.load(open(f"{root}/_pq_meta.json"))
    # selective refresh reuses the codebooks VERBATIM — geometry and
    # every centroid value (a retrain would have moved them)
    assert meta["books"] == books_before

    # None disables: deltas accumulate for the external scheduler
    b_extra = emb.where(F.col("vec_id") < 50).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    assert ann_ingest_batch(
        b_extra, root, batch_id=2, max_batch_dirs_per_cell=None
    ) == b_extra.count()
    assert delta_dirs()


# ---------------------------------------------------------------------------
# r13: selective (per-cell) compaction + per-cell PQ staleness gate
# ---------------------------------------------------------------------------

def _two_cell_vectors(spark, root):
    """Pick one stored vector from each of two distinct cells — a new
    row with vector v assigns to v's own cell (argmax over the same
    frozen centroids), which lets tests construct SKEWED ingest."""
    rows = (
        spark.read.parquet(os.path.join(root, "cells"))
        .select("cell", "vec_id", "cv")
        .orderBy("cell", "vec_id")
        .collect()
    )
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    a, b = sorted(by_cell)[:2]
    return (
        (a, [float(x) for x in by_cell[a][0]["cv"]]),
        (b, [float(x) for x in by_cell[b][0]["cv"]]),
    )


_VEC_SCHEMA = "vec_id long, embedding array<float>"


def test_compact_cells_folds_only_requested(spark, emb, tmp_path):
    """r12 VERDICT task 1, the operator itself: ann_index_compact_cells
    folds the requested cells' delta dirs, leaves other cells' deltas
    for a later fold, reports the folded-dir count, leaves no staging/
    old directories, and a no-op call returns 0."""

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_add_batch,
        ann_index_compact_cells,
    )

    root = str(tmp_path / "sel_fold")
    build_ann_index(emb.where(F.col("vec_id") < 200), root,
                    n_centroids=6, n_iters=1)
    (cell_a, vec_a), (cell_b, vec_b) = _two_cell_vectors(spark, root)

    def deltas(cell):
        return _live_deltas(root, cell)

    # two delta batches into A, one into B (skew)
    for tag, vec in ((1, vec_a), (2, vec_a), (3, vec_b)):
        batch = spark.createDataFrame(
            [(50_000 + tag * 10 + j, vec) for j in range(3)], _VEC_SCHEMA
        )
        assert ann_index_add_batch(
            spark, root, batch, batch_tag=tag
        ) == 3
    assert len(deltas(cell_a)) == 2 and len(deltas(cell_b)) == 1

    assert ann_index_compact_cells(
        spark, root, [cell_a], retire_grace_seconds=0
    ) == 2
    assert deltas(cell_a) == []          # requested: folded
    assert len(deltas(cell_b)) == 1      # untouched: kept for later
    assert not [
        d for d in os.listdir(root) if "fold" in d or "compacting" in d
    ]
    # idempotent on the already-folded cell; missing cells are skipped
    assert ann_index_compact_cells(
        spark, root, [cell_a, 999_999_999]
    ) == 0

    # folded rows still serve exactly (full probe == brute force)
    new_rows = [
        (50_000 + tag * 10 + j, vec)
        for tag, vec in ((1, vec_a), (2, vec_a), (3, vec_b))
        for j in range(3)
    ]
    union = emb.where(F.col("vec_id") < 200).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    ).unionByName(spark.createDataFrame(new_rows, _VEC_SCHEMA))
    q = spark.createDataFrame(
        [(900_001, vec_a), (900_002, vec_b)], _VEC_SCHEMA
    )
    want = _key(brute_force_topk(union, q, k=5, allow_full_scan=True))
    assert _key(ann_search(spark, root, q, k=5, nprobe=6)) == want


def test_autocompact_selective_fold_is_per_cell(spark, emb, tmp_path):
    """The dial under SKEW (r12 VERDICT #1's scenario): a hot cell
    crossing the dial folds ALONE — the cold cell's delta dir survives
    — and the PQ sidecar refresh is selective too (existing codebooks,
    stale cells only), after which both serve paths equal brute force
    over the union corpus."""
    import json as _json

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    root = str(tmp_path / "sel_dial")
    build_ann_index(emb.where(F.col("vec_id") < 200), root,
                    n_centroids=6, n_iters=1)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    books_before = _json.load(open(f"{root}/_pq_meta.json"))["books"]
    (cell_a, vec_a), (cell_b, vec_b) = _two_cell_vectors(spark, root)

    def deltas(cell):
        return _live_deltas(root, cell)

    # batch 0 → cold cell B; batches 1,2 → hot cell A (dial=1: the
    # second A batch pushes A past the dial)
    plan = [(0, vec_b), (1, vec_a), (2, vec_a)]
    for bid, vec in plan:
        batch = spark.createDataFrame(
            [(60_000 + bid * 10 + j, vec) for j in range(3)], _VEC_SCHEMA
        )
        assert ann_ingest_batch(
            batch, root, batch_id=bid, max_batch_dirs_per_cell=1,
            retire_grace_seconds=0,
        ) == 3
    assert deltas(cell_a) == []          # hot cell folded at batch 2
    assert len(deltas(cell_b)) == 1      # cold cell untouched: SELECTIVE

    new_rows = [
        (60_000 + bid * 10 + j, vec) for bid, vec in plan for j in range(3)
    ]
    union = emb.where(F.col("vec_id") < 200).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    ).unionByName(spark.createDataFrame(new_rows, _VEC_SCHEMA))
    q = spark.createDataFrame(
        [(900_001, vec_a), (900_002, vec_b)], _VEC_SCHEMA
    )
    want = _key(brute_force_topk(union, q, k=5, allow_full_scan=True))
    assert _key(ann_search(spark, root, q, k=5, nprobe=6)) == want
    # the selective refresh covered the cold cell too (it was stale
    # from batch 0) — full-probe PQ serves and matches, books VERBATIM
    assert _key(
        ann_search_pq(spark, root, q, k=5, nprobe=6, rerank_factor=1000)
    ) == want
    meta = _json.load(open(f"{root}/_pq_meta.json"))
    assert meta["books"] == books_before


def test_per_cell_gate_blocks_only_stale_probed_cells(spark, emb, tmp_path):
    """The r13 gate granularity: ingest into cell A leaves a PQ serve
    probing only cell B working, a serve probing A raises STALE naming
    the cell, and pq_reencode_stale_cells (existing books, stale cells
    only) restores A — whose refreshed codes must now surface the
    ingested rows (cos 1.0 to the query)."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_add_batch,
        ann_search_pq,
        pq_augment_ann_index,
        pq_reencode_stale_cells,
    )

    root = str(tmp_path / "cell_gate")
    build_ann_index(emb.where(F.col("vec_id") < 200), root,
                    n_centroids=6, n_iters=1)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    (cell_a, vec_a), (cell_b, vec_b) = _two_cell_vectors(spark, root)

    new_ids = [70_001, 70_002]
    ann_index_add_batch(
        spark,
        root,
        spark.createDataFrame([(i, vec_a) for i in new_ids], _VEC_SCHEMA),
        batch_tag=9,
    )
    q_b = spark.createDataFrame([(900_002, vec_b)], _VEC_SCHEMA)
    q_a = spark.createDataFrame([(900_001, vec_a)], _VEC_SCHEMA)
    # untouched cell serves (nprobe=1 probes exactly the query's cell)
    assert ann_search_pq(
        spark, root, q_b, k=3, nprobe=1, rerank_factor=1000
    ).count() == 3
    with pytest.raises(ValueError, match=rf"\[{cell_a}\].*STALE"):
        ann_search_pq(spark, root, q_a, k=3, nprobe=1, rerank_factor=1000)

    assert pq_reencode_stale_cells(spark, root) >= 1
    got = ann_search_pq(
        spark, root, q_a, k=3, nprobe=1, rerank_factor=1000
    ).collect()
    top_ids = {r["neighbor_id"] for r in got if r["cos_sim"] == 1.0}
    assert set(new_ids) <= top_ids  # refreshed codes include the batch
    # idempotent: nothing stale after the refresh
    assert pq_reencode_stale_cells(spark, root) == 0


def test_fold_stamps_bandwidth_once(spark, emb, tmp_path, monkeypatch):
    """A fold probes the bandwidth only while ``_ann_meta.json`` has no
    stamp: a root the build could not measure is stamped by its first
    measurable fold, and later folds never run the probe's tree walk,
    copy and fsync again.  An implausible (cache-tainted) reading is
    refused and leaves the root unstamped (r12 ADVICE)."""
    import json as _json

    import polars_w_inverted_index_spark.operators.ann_index as ai

    probes = []

    def measure(result):
        def fake(*a, **k):
            probes.append(result)
            return result
        return fake

    root = str(tmp_path / "stamp_once")
    monkeypatch.setattr(ai, "_measure_cold_bandwidth_mbps", measure(None))
    ai.build_ann_index(emb.where(F.col("vec_id") < 200), root,
                       n_centroids=4, n_iters=0)
    meta_path = os.path.join(root, "_ann_meta.json")
    assert "bandwidth_mbps" not in _json.loads(open(meta_path).read())

    def fold(tag):
        ai.ann_index_add_batch(
            spark, root,
            emb.where(F.col("vec_id").between(200 + 10 * tag, 209 + 10 * tag)),
            batch_tag=tag,
        )
        assert ai.ann_index_compact(spark, root) > 0

    # implausible reading → refused, the root stays unstamped
    monkeypatch.setattr(
        ai, "_measure_cold_bandwidth_mbps",
        measure((ai._MAX_PLAUSIBLE_DISK_MBPS + 1, 64 << 20)),
    )
    fold(1)
    assert "bandwidth_mbps" not in _json.loads(open(meta_path).read())

    monkeypatch.setattr(
        ai, "_measure_cold_bandwidth_mbps", measure((777.0, 8 << 20))
    )
    probes.clear()
    fold(2)  # the first measurable fold stamps the root
    meta = _json.loads(open(meta_path).read())
    assert meta["bandwidth_mbps"] == 777.0
    assert meta["bandwidth_probe_method"] == (
        "scratch_copy+fsync+fadvise_dontneed+seqread"
    )
    assert len(probes) == 1
    probes.clear()
    fold(3)  # stamped: no probe at all
    cells = sorted(ai._load_manifest(root)["cells"])
    ai.ann_index_add_batch(
        spark, root, emb.where(F.col("vec_id").between(300, 320)),
        batch_tag=4,
    )
    assert ai.ann_index_compact_cells(spark, root, cells) > 0
    assert probes == []
    assert _json.loads(open(meta_path).read())["bandwidth_mbps"] == 777.0


def test_fold_probe_never_evicts_live_cells(spark, emb, tmp_path, monkeypatch):
    """r13 VERDICT task 6 done-criterion: the bandwidth re-stamp at fold
    time must leave the folded cells' files OUT of the probe's evict set
    (the pre-r14 probe fadvise-DONTNEEDed the largest live files — under
    hot-skew ingest exactly the cells the next serve probes), and the
    stamp must still refresh.  The probe here runs for REAL (tiny
    min_bytes so the test tree is measurable; plausibility cap lifted
    because a page-cached scratch read on overlay mounts times RAM) with
    every fadvise call recorded via /proc/self/fd."""
    import json as _json

    import polars_w_inverted_index_spark.operators.ann_index as ai

    root = str(tmp_path / "noevict")
    ai.build_ann_index(
        emb.where(F.col("vec_id") < 400), root, n_centroids=4, n_iters=0
    )
    ai.ann_index_add_batch(
        spark, root,
        emb.where(F.col("vec_id").between(400, 450)), batch_tag=1,
    )

    evicted = []
    real_fadvise = os.posix_fadvise

    def record(fd, off, ln, advice):
        evicted.append(os.readlink(f"/proc/self/fd/{fd}"))
        return real_fadvise(fd, off, ln, advice)

    real_measure = ai._measure_cold_bandwidth_mbps
    monkeypatch.setattr(os, "posix_fadvise", record)
    monkeypatch.setattr(
        ai,
        "_measure_cold_bandwidth_mbps",
        lambda d: real_measure(d, budget_bytes=1 << 20, min_bytes=1 << 10),
    )
    monkeypatch.setattr(ai, "_MAX_PLAUSIBLE_DISK_MBPS", float("inf"))

    meta_path = os.path.join(root, "_ann_meta.json")
    meta = _json.loads(open(meta_path).read())
    meta.pop("bandwidth_mbps", None)
    open(meta_path, "w").write(_json.dumps(meta))

    assert ai.ann_index_compact(spark, root) > 0
    assert evicted, "the probe must have run for real"
    for p in evicted:
        assert p.endswith("_bw_probe_scratch"), (
            f"probe evicted a live file: {p}"
        )
    meta = _json.loads(open(meta_path).read())
    assert meta["bandwidth_mbps"] > 0  # the stamp still refreshes
    # the scratch copy is removed after the probe
    assert not os.path.exists(os.path.join(root, "_bw_probe_scratch"))


def test_torn_ann_meta_is_refused_by_ingest_and_augment(
    spark, emb, tmp_path
):
    """``_ann_meta.json`` is written atomically, so a torn one means a
    hand-damaged root.  Both readers of its dims refuse it with the
    rebuild message instead of tolerating it: the ingest's width gate
    (which would otherwise run with nothing to check against) and
    ``pq_augment_ann_index`` (which would otherwise blame a pre-dims
    index).  Nothing is committed."""
    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.operators.ann_index import (
        pq_augment_ann_index,
    )
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    root = str(tmp_path / "torn_meta")
    build_ann_index(emb.where(F.col("vec_id") < 100), root,
                    n_centroids=2, n_iters=0)
    manifest = ai._load_manifest(root)
    meta_path = os.path.join(root, "_ann_meta.json")
    open(meta_path, "w").write('{"n_centroids": 2, "di')  # torn write
    torn = f"ANN index at {root} has a torn _ann_meta.json.*build_ann_index"
    with pytest.raises(ValueError, match=torn):
        ann_ingest_batch(
            emb.where(F.col("vec_id").between(100, 110)), root, batch_id=0
        )
    with pytest.raises(ValueError, match=torn):
        pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    assert ai._load_manifest(root) == manifest


def test_torn_ann_meta_is_named_by_the_bandwidth_stamp(tmp_path, monkeypatch):
    """The bandwidth stamp's two reads of ``_ann_meta.json`` raise
    naming a half-written file instead of skipping it; a missing meta
    is still nothing to stamp into."""
    import polars_w_inverted_index_spark.operators.ann_index as ai

    monkeypatch.setattr(
        ai, "_measure_cold_bandwidth_mbps", lambda cells: (900.0, 1 << 20)
    )
    root = tmp_path / "root"
    root.mkdir()
    ai._stamp_bandwidth_once(str(root))  # no meta: a no-op
    assert os.listdir(root) == []
    (root / "_ann_meta.json").write_text('{"n_centroids": 2, "di')
    for stamp in (ai._stamp_bandwidth_once, ai._stamp_bandwidth):
        with pytest.raises(ValueError, match=r"_ann_meta\.json is torn"):
            stamp(str(root))


def test_torn_pq_meta_is_named_by_the_reaugment(spark, emb, tmp_path):
    """After a fold, ``_reaugment_unpaired`` reads ``_pq_meta.json`` of
    an unpaired sidecar; a half-written one raises naming it instead of
    leaving the sidecar unpaired without a word."""
    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.streaming.ann_ingest import (
        _reaugment_unpaired,
    )

    root = str(tmp_path / "torn_pq")
    build_ann_index(emb.where(F.col("vec_id") < 100), root,
                    n_centroids=2, n_iters=0)
    _reaugment_unpaired(spark, root)  # no sidecar: a no-op
    manifest = ai._load_manifest(root)
    with open(os.path.join(root, "_pq_meta.json"), "w") as f:
        f.write('{"m_subspaces": 4, "books": [[[0.1, ')
    with pytest.raises(ValueError, match=r"_pq_meta\.json is torn"):
        _reaugment_unpaired(spark, root)
    assert ai._load_manifest(root) == manifest


def test_reencode_drops_codes_of_removed_cells(spark, emb, tmp_path):
    """The refresh's DROPPED branch: a cell that disappears from the
    cells tree (re-shard / manual surgery) must lose its codes dir and
    its meta entry on the next refresh — otherwise ann_search_pq would
    gate-pass a probed cell whose floats are gone but whose codes
    still rank candidates."""
    import json as _json
    import shutil

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
        pq_reencode_stale_cells,
    )

    root = str(tmp_path / "drop_cell")
    build_ann_index(emb.where(F.col("vec_id") < 200), root,
                    n_centroids=6, n_iters=1)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    (cell_a, _vec_a), (cell_b, vec_b) = _two_cell_vectors(spark, root)

    shutil.rmtree(os.path.join(root, "cells", f"cell={cell_a}"))
    # grace=0: the dropped cell's retired codes dirs prune immediately
    assert pq_reencode_stale_cells(
        spark, root, retire_grace_seconds=0
    ) == 1  # the dropped cell
    import polars_w_inverted_index_spark.operators.ann_index as ai

    m = ai._load_manifest(root)
    assert str(cell_a) not in m["code_fps"]
    assert str(cell_a) not in m["codes"]
    assert str(cell_a) not in m["cells"]  # phantom live tags dropped too
    import glob as _glob

    assert not _glob.glob(  # codes pruned (parent dir may linger empty)
        os.path.join(root, "pq_codes", f"cell={cell_a}", "ingest_batch=*")
    )
    # surviving cells still gate-pass and serve
    q_b = spark.createDataFrame([(900_002, vec_b)], _VEC_SCHEMA)
    assert ann_search_pq(
        spark, root, q_b, k=3, nprobe=1, rerank_factor=1000
    ).count() == 3


def _pq_root_without_one_cells_codes(spark, emb, root):
    """A PQ root whose first cell lost its live codes directories by
    hand; returns that cell."""
    import shutil

    import polars_w_inverted_index_spark.operators.ann_index as ai

    build_ann_index(emb.where(F.col("vec_id") < 300), root,
                    n_centroids=4, n_iters=1)
    ai.pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    cell = sorted(ai._load_manifest(root)["codes"])[0]
    shutil.rmtree(os.path.join(root, "pq_codes", f"cell={cell}"))
    return cell


def test_pq_serve_names_a_cell_whose_codes_are_missing(
    spark, emb, tmp_path
):
    """A serve probing a cell whose live codes directory is gone raises
    a ValueError naming the cell and the repair (Spark's PATH_NOT_FOUND
    named neither)."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
    )

    root = str(tmp_path / "codes_gone")
    cell = _pq_root_without_one_cells_codes(spark, emb, root)
    q = emb.where(F.col("vec_id") % 100 == 0)
    with pytest.raises(ValueError, match="pq_augment_ann_index") as e:
        ann_search_pq(spark, root, q, k=5, nprobe=4)
    assert f"probed cells [{cell}]" in str(e.value)
    assert "missing" in str(e.value)


def test_reencode_restores_a_cells_missing_codes(spark, emb, tmp_path):
    """The re-encode counts a cell whose live codes directory is gone as
    stale (its recorded fingerprint still matches its unchanged rows)
    and rewrites its codes, after which a full-coverage PQ serve equals
    brute force again."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        _load_manifest,
        ann_search_pq,
        pq_reencode_stale_cells,
    )

    root = str(tmp_path / "codes_gone")
    cell = _pq_root_without_one_cells_codes(spark, emb, root)
    assert pq_reencode_stale_cells(spark, root) == 1
    tags = _load_manifest(root)["codes"][cell]
    assert all(
        os.path.isdir(os.path.join(
            root, "pq_codes", f"cell={cell}", f"ingest_batch={t}"))
        for t in tags
    ) and tags
    assert pq_reencode_stale_cells(spark, root) == 0
    q = emb.where(F.col("vec_id") % 100 == 0)
    got = ann_search_pq(spark, root, q, k=5, nprobe=4, rerank_factor=1000)
    want = brute_force_topk(emb.where(F.col("vec_id") < 300), q, k=5)
    assert _key(got) == _key(want)


def test_encode_at_ingest_keeps_pq_fresh(spark, emb, tmp_path):
    """r13 encode-at-ingest: a guarded micro-batch appends its own PQ
    codes under its tag and refreshes the touched cells' fingerprints,
    so ann_search_pq serves IMMEDIATELY after the commit — no refresh,
    no fold — and equals brute force including the new rows; a replayed
    batch leaves both trees untouched."""
    import glob

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
        pq_reencode_stale_cells,
    )
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    root = str(tmp_path / "codes_ingest")
    base = emb.where(F.col("vec_id") < 200)
    build_ann_index(base, root, n_centroids=6, n_iters=1)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    assert glob.glob(f"{root}/pq_codes/cell=*/ingest_batch=*")  # 2-level

    b0 = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    assert ann_ingest_batch(
        b0, root, batch_id=0, max_batch_dirs_per_cell=None
    ) == b0.count()
    assert glob.glob(f"{root}/pq_codes/cell=*/ingest_batch=0")

    q = emb.where(F.col("vec_id") % 100 == 0)
    want = _key(brute_force_topk(base.unionByName(b0), q, k=5))
    got = ann_search_pq(spark, root, q, k=5, nprobe=6, rerank_factor=1000)
    assert _key(got) == want            # fresh WITHOUT any refresh
    assert pq_reencode_stale_cells(spark, root) == 0  # nothing stale

    assert ann_ingest_batch(b0, root, batch_id=0) == 0  # replay no-op
    assert pq_reencode_stale_cells(spark, root) == 0


def test_missing_codes_tree_disables_ingest_maintenance(
    spark, emb, tmp_path
):
    """A sidecar whose codes tree was deleted by hand (the manifest and
    _pq_meta.json still pair them) must NOT take per-batch code appends:
    recreating the tree from new batches alone would let refreshed
    fingerprints serve cells whose BASE rows have no codes — silent
    wrong top-k.  A cell whose live codes directories are gone is not
    pre-append-fresh, so ingest and a direct append refresh NOTHING
    (fail closed), no codes tree reappears, a serve over the ingested
    cells refuses, and a full augment repairs."""
    import shutil

    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_append_batch_codes,
        pq_augment_ann_index,
    )
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    root = str(tmp_path / "codes_gone")
    build_ann_index(emb.where(F.col("vec_id") < 150), root,
                    n_centroids=4, n_iters=0)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    fps_before = dict(ai._load_manifest(root)["code_fps"])
    shutil.rmtree(os.path.join(root, "pq_codes"))
    b0 = emb.where(F.col("vec_id").between(150, 200))
    assert ann_ingest_batch(
        b0, root, batch_id=0, max_batch_dirs_per_cell=None
    ) == b0.count()
    assert not os.path.isdir(os.path.join(root, "pq_codes"))  # skipped
    assert ai._load_manifest(root)["code_fps"] == fps_before
    # a direct append refreshes nothing — and materializes no codes
    assert pq_append_batch_codes(spark, root, batch_tag=0) == []
    assert not os.path.isdir(os.path.join(root, "pq_codes"))
    q = emb.where(F.col("vec_id") % 50 == 0)
    with pytest.raises(ValueError, match="STALE"):
        ann_search_pq(spark, root, q, k=5, nprobe=4, rerank_factor=1000)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    m = ai._load_manifest(root)
    assert ai._sidecar_books(root, m) is not None  # repaired + paired
    want = _key(brute_force_topk(emb.where(F.col("vec_id") <= 200), q, k=5))
    got = ann_search_pq(spark, root, q, k=5, nprobe=4, rerank_factor=1000)
    assert _key(got) == want


def _refusing_entry_points():
    """Every entry point that needs a root's manifest, as
    ``name -> call(spark, deployment_dir, root, batch)``."""
    from polars_w_inverted_index_spark.operators import ann_index as ai
    from polars_w_inverted_index_spark.operators.ann_deploy import (
        ann_deployment_rebuild,
    )
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    return {
        "ann_index_add_batch": lambda spark, dep, root, batch: (
            ai.ann_index_add_batch(spark, root, batch, batch_tag=0)
        ),
        "ann_ingest_batch": lambda spark, dep, root, batch: (
            ann_ingest_batch(batch, root, batch_id=0)
        ),
        "ann_index_compact": lambda spark, dep, root, batch: (
            ai.ann_index_compact(spark, root)
        ),
        "ann_search": lambda spark, dep, root, batch: (
            ai.ann_search(spark, root, batch, k=3)
        ),
        "ann_search_pq": lambda spark, dep, root, batch: (
            ai.ann_search_pq(spark, root, batch, k=3)
        ),
        "pq_augment_ann_index": lambda spark, dep, root, batch: (
            ai.pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
        ),
        "ann_deployment_rebuild": lambda spark, dep, root, batch: (
            ann_deployment_rebuild(spark, dep)
        ),
    }


@pytest.fixture(scope="module")
def pq_deployment(tmp_path_factory, emb):
    """A one-root deployment with a PQ sidecar, copied per test."""
    from polars_w_inverted_index_spark.operators.ann_deploy import (
        ann_deployment_build,
    )

    dep = str(tmp_path_factory.mktemp("refuse") / "dep")
    ann_deployment_build(
        emb.where(F.col("vec_id") < 100), dep, n_centroids=2, n_iters=0,
        pq={"m_subspaces": 4, "n_codes": 8},
    )
    return dep


def _damaged_copy(template, dest, damage):
    """Copy the deployment and remove or truncate its root's manifest;
    returns (deployment_dir, root)."""
    import shutil

    from polars_w_inverted_index_spark.operators.ann_deploy import (
        resolve_ann_root,
    )

    shutil.copytree(template, dest)
    root = resolve_ann_root(dest)
    path = os.path.join(root, "_cells_manifest.json")
    if damage == "removed":
        os.remove(path)
    else:
        raw = open(path).read()
        with open(path, "w") as f:
            f.write(raw[: len(raw) // 2])
    return dest, root


def _tree_state(d):
    return {
        os.path.relpath(os.path.join(dp, n), d): (
            os.path.getsize(os.path.join(dp, n)),
            os.stat(os.path.join(dp, n)).st_mtime_ns,
        )
        for dp, dn, fn in os.walk(d)
        for n in fn + dn
    }


@pytest.mark.parametrize("damage", ["removed", "truncated"])
@pytest.mark.parametrize("entry", sorted(_refusing_entry_points()))
def test_root_without_manifest_is_refused(
    spark, emb, pq_deployment, tmp_path, damage, entry
):
    """A root whose manifest is missing or torn is refused by every
    entry point that needs one: a ValueError naming the root and the
    repair (build_ann_index), and not one file written, moved or
    deleted under the deployment."""
    dep, root = _damaged_copy(pq_deployment, str(tmp_path / "dep"), damage)
    batch = emb.where(F.col("vec_id").between(100, 110))
    before = _tree_state(dep)
    with pytest.raises(ValueError, match="build_ann_index") as e:
        _refusing_entry_points()[entry](spark, dep, root, batch)
    assert root in str(e.value)
    assert _tree_state(dep) == before


@pytest.mark.parametrize("damage", ["removed", "truncated"])
def test_build_over_root_without_manifest(
    spark, emb, pq_deployment, tmp_path, damage
):
    """build_ann_index writes a root's first manifest, so it is the one
    entry point that accepts a root without one — and the rebuilt root
    serves."""
    from polars_w_inverted_index_spark.operators import ann_index as ai

    _dep, root = _damaged_copy(
        pq_deployment, str(tmp_path / "dep"), damage
    )
    corpus = emb.where(F.col("vec_id") < 100)
    build_ann_index(corpus, root, n_centroids=2, n_iters=0)
    m = ai._load_manifest(root)
    assert m["codes"] == {} and m["cells_schema"]
    q = emb.where(F.col("vec_id") < 3)
    want = _key(brute_force_topk(corpus, q, k=3))
    assert _key(ann_search(spark, root, q, k=3, nprobe=2)) == want


# ---------------------------------------------------------------------------
# r14: snapshot isolation — serves overlap maintenance (r13 VERDICT task 1)
# ---------------------------------------------------------------------------

def _overlap_fixture(spark, tmp_path, n_batches=3):
    """A tiny index + guarded batches + the set of VALID serve results:
    every manifest snapshot a concurrent serve can pin is 'base + some
    committed prefix of batches' (ingest commits are monotone and folds
    don't change content), so a serve observed mid-maintenance must
    equal brute force over exactly one of those prefixes."""
    import polars_w_inverted_index_spark.operators.ann_index as ai

    W = 4

    def vec(i):
        return [float((i * 5 + j) % 9 - 4) or 2.0 for j in range(W)]

    root = str(tmp_path / "overlap_idx")
    base = [(i, vec(i)) for i in range(8)]
    build_ann_index(
        spark.createDataFrame(base, _VEC_SCHEMA), root,
        n_centroids=2, n_iters=1,
    )
    ai.pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
    batches = [
        [(100 + b * 10 + j, vec(100 + b * 10 + j)) for j in range(3)]
        for b in range(n_batches)
    ]
    queries = spark.createDataFrame(
        [(9001, vec(1)), (9002, vec(5))], _VEC_SCHEMA
    )
    prefix_keys, prefix = [], list(base)
    prefix_keys.append(
        tuple(_key(brute_force_topk(
            spark.createDataFrame(prefix, _VEC_SCHEMA), queries, k=3
        )))
    )
    for b in batches:
        prefix = prefix + b
        prefix_keys.append(
            tuple(_key(brute_force_topk(
                spark.createDataFrame(prefix, _VEC_SCHEMA), queries, k=3
            )))
        )
    return root, batches, queries, prefix_keys


def test_serves_overlap_maintenance_interleaved(spark, tmp_path, monkeypatch):
    """Deterministic serve-vs-maintenance interleaving (r13 VERDICT
    task 1 done-criterion): BOTH serve paths run at the most dangerous
    instants of every mutation — immediately before and after each
    manifest swap (ingest commits, gen allocations, fold commits) and
    right after a prune pass — while guarded ingest batches drive the
    autocompaction dial at 1 (selective folds + inline codes refresh
    in-path).  Every observed result must equal brute force over some
    committed prefix, and the PQ gate must never raise: the snapshot a
    serve pins is consistent at EVERY instant, which is the property
    the pre-r14 'no serves during maintenance' contract existed to
    paper over."""
    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    root, batches, queries, prefix_keys = _overlap_fixture(spark, tmp_path)
    expected = set(prefix_keys)
    observed = []
    in_probe = {"on": False}

    def probe(where):
        if in_probe["on"]:
            return
        in_probe["on"] = True
        try:
            kf = tuple(_key(ann_search(spark, root, queries, k=3, nprobe=2)))
            kp = tuple(_key(ai.ann_search_pq(
                spark, root, queries, k=3, nprobe=2, rerank_factor=1000
            )))
            observed.append(kf)
            observed.append(kp)
            assert kf in expected, (where, "float", kf)
            assert kp in expected, (where, "pq", kp)
        finally:
            in_probe["on"] = False

    real_write = ai._write_manifest
    real_prune = ai._prune_retired

    def hooked_write(r, m):
        probe("pre-swap")
        real_write(r, m)
        probe("post-swap")

    def hooked_prune(r, m, grace):
        real_prune(r, m, grace)
        probe("post-prune")

    monkeypatch.setattr(ai, "_write_manifest", hooked_write)
    monkeypatch.setattr(ai, "_prune_retired", hooked_prune)
    for bid, b in enumerate(batches):
        # default retire grace: in-flight snapshots keep their files
        assert ann_ingest_batch(
            spark.createDataFrame(b, _VEC_SCHEMA), root, batch_id=bid,
            max_batch_dirs_per_cell=1,
        ) == len(b)
    monkeypatch.setattr(ai, "_write_manifest", real_write)
    monkeypatch.setattr(ai, "_prune_retired", real_prune)
    assert len(observed) >= 2 * (len(batches) + 1)
    # quiescent: both paths equal the full corpus exactly
    final = prefix_keys[-1]
    assert tuple(_key(ann_search(spark, root, queries, k=3, nprobe=2))) \
        == final
    assert tuple(_key(ai.ann_search_pq(
        spark, root, queries, k=3, nprobe=2, rerank_factor=1000
    ))) == final


def test_serves_overlap_maintenance_threaded(spark, tmp_path):
    """Real-thread overlap (the interleaved test's nondeterministic
    sibling): a serving thread loops float+PQ serves with NO
    coordination while the main thread drives guarded ingests with the
    dial at 1 — every result must be a committed prefix and no serve
    may raise.  Spark local mode executes both workloads' jobs
    concurrently in one JVM."""
    import threading

    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    root, batches, queries, prefix_keys = _overlap_fixture(
        spark, tmp_path, n_batches=4
    )
    expected = set(prefix_keys)
    errors: list = []
    serves = [0]
    stop = threading.Event()

    def server():
        try:
            while not stop.is_set():
                kf = tuple(_key(
                    ann_search(spark, root, queries, k=3, nprobe=2)
                ))
                if kf not in expected:
                    errors.append(("float", kf))
                    return
                kp = tuple(_key(ai.ann_search_pq(
                    spark, root, queries, k=3, nprobe=2,
                    rerank_factor=1000,
                )))
                if kp not in expected:
                    errors.append(("pq", kp))
                    return
                serves[0] += 1
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errors.append(repr(e))

    t = threading.Thread(target=server, daemon=True)
    t.start()
    try:
        for bid, b in enumerate(batches):
            assert ann_ingest_batch(
                spark.createDataFrame(b, _VEC_SCHEMA), root,
                batch_id=bid, max_batch_dirs_per_cell=1,
            ) == len(b)
    finally:
        stop.set()
        t.join(120)
    assert not errors, errors
    assert serves[0] >= 1  # the thread really served during the stream


def test_rebuild_carries_generation_forward(spark, emb, tmp_path):
    """A rebuild over an existing root must not reset the fold
    generation: the old sidecar's gen-tagged codes directories retire
    behind the grace window, and a reset counter would let the next
    augment REUSE their tag — appending fresh codes beside retired ones
    in the same directory and serving DUPLICATE candidates (the r14
    lifecycle row's oracle caught exactly this the round the rebuild
    stage was added)."""
    import polars_w_inverted_index_spark.operators.ann_index as ai

    root = str(tmp_path / "regen")
    half = emb.where(F.col("vec_id") < 200)
    ai.build_ann_index(half, root, n_centroids=4, n_iters=1)
    ai.pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    g1 = ai._load_manifest(root)["gen"]
    assert g1 > 1  # the augment consumed a generation
    ai.build_ann_index(half, root, n_centroids=4, n_iters=1)  # rebuild
    assert ai._load_manifest(root)["gen"] >= g1
    ai.pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    m = ai._load_manifest(root)
    retired_paths = {rel for rel, _ in m["retired"]}
    for c, tags in m["codes"].items():
        for t in tags:
            assert (
                f"pq_codes/cell={c}/ingest_batch={t}" not in retired_paths
            ), "live codes tag collides with a retired directory"
    q = emb.where(F.col("vec_id") < 2)
    served = ai.ann_search_pq(
        spark, root, q, k=5, nprobe=4, rerank_factor=1000
    )
    rows = served.collect()
    assert len(rows) == len(
        {(r["query_id"], r["neighbor_id"]) for r in rows}
    ), "duplicate candidates served"
    assert _key(served) == _key(brute_force_topk(half, q, k=5))


def test_ingest_metadata_is_o_touched_cells(spark, tmp_path, monkeypatch):
    """r13 VERDICT task 4 done-criterion: a guarded micro-batch's
    Python-side filesystem metadata work touches ONLY the batch's own
    cells (plus root-level files), never an O(#cells) walk — on an
    object store every per-cell LIST is a billable request, and at
    ~10^5 cells the pre-r14 per-batch globs were real seconds per
    micro-batch.  64-cell index, 1-cell batch: every directory listing
    recorded during ann_ingest_batch must be the touched cell's (the
    dial check itself reads the manifest, zero listings)."""
    import glob as glob_mod
    import os as os_mod

    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.streaming import ann_ingest_batch

    W = 4
    rows = [
        (i, [float(i)] * 1 + [float((i * 7 + j) % 11) for j in range(W - 1)])
        for i in range(128)
    ]
    root = str(tmp_path / "otouched")
    corpus = spark.createDataFrame(rows, _VEC_SCHEMA)
    ai.build_ann_index(corpus, root, n_centroids=64, n_iters=0)
    ai.pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
    m = ai._load_manifest(root)
    assert len(m["cells"]) >= 32  # genuinely many cells

    # one batch of copies of a stored vector -> exactly one touched cell
    seed = rows[5][1]
    batch = spark.createDataFrame(
        [(10_000 + j, seed) for j in range(3)], _VEC_SCHEMA
    )
    listed: list[str] = []
    real_listdir, real_scandir, real_glob = (
        os_mod.listdir, os_mod.scandir, glob_mod.glob,
    )
    monkeypatch.setattr(
        os_mod, "listdir",
        lambda p=".": (listed.append(str(p)), real_listdir(p))[1],
    )
    monkeypatch.setattr(
        os_mod, "scandir",
        lambda p=".": (listed.append(str(p)), real_scandir(p))[1],
    )
    monkeypatch.setattr(
        glob_mod, "glob",
        lambda pat, **kw: (listed.append(str(pat)), real_glob(pat, **kw))[1],
    )
    assert ann_ingest_batch(
        batch, root, batch_id=0, max_batch_dirs_per_cell=16
    ) == 3
    monkeypatch.undo()

    m = ai._load_manifest(root)
    touched = [c for c, tags in m["cells"].items() if 0 in tags]
    assert len(touched) == 1, touched
    allowed = {f"cell={c}" for c in touched}
    offending = []
    for p in listed:
        parts = [seg for seg in str(p).split(os_mod.sep) if seg]
        cells_in_path = {s for s in parts if s.startswith("cell=")}
        if cells_in_path and not cells_in_path <= allowed:
            offending.append(p)
    assert not offending, (
        f"per-batch metadata listed untouched cells: {offending[:5]} "
        f"({len(offending)} paths)"
    )
