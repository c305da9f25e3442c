"""Zero-downtime ANN deployments (operators/ann_deploy.py).

Evidence ladder:
- resolve→serve equals brute force (the deployment adds indirection,
  never semantics);
- a rebuild from the index's OWN live rows (manifest corpus) serves the
  full base+ingested set on the new root, flips atomically, and keeps
  micro-batch replay semantics across the flip (the committed batch id
  carried into the new root's manifest);
- snapshot isolation one level up: a serve that resolved the old root
  before the flip still reads a complete index after it (grace window),
  and pruning past the grace removes the retiree;
- a rebuild that crashes before its pointer flip leaves the old root
  serving, and the next rebuild sweeps the orphan;
- a PQ-augmented deployment re-augments automatically on rebuild with
  the recorded dials.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import polars_w_inverted_index_spark.operators.ann_deploy as AD
import polars_w_inverted_index_spark.operators.ann_index as AI
from polars_w_inverted_index_spark.operators.similarity import brute_force_topk
from polars_w_inverted_index_spark.streaming import ann_ingest_batch

_VEC_SCHEMA = "vec_id long, embedding array<float>"


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") % 50 == 0)


def _key(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in df.collect()
    )


def _serve(spark, dep, queries, k=5, n_centroids=8):
    # full probe -> exact brute force over whatever the live root holds
    return AI.ann_search(
        spark, AD.resolve_ann_root(dep), queries, k=k, nprobe=n_centroids
    )


def test_build_resolve_serve(spark, emb, queries, tmp_path):
    dep = str(tmp_path / "dep")
    root = AD.ann_deployment_build(emb, dep, n_centroids=8, n_iters=1)
    assert AD.resolve_ann_root(dep) == root
    assert _key(_serve(spark, dep, queries)) == _key(
        brute_force_topk(emb, queries, k=5)
    )
    with pytest.raises(ValueError, match="already a deployment"):
        AD.ann_deployment_build(emb, dep, n_centroids=8)


def test_torn_pointer_is_named_not_missing(tmp_path):
    """A half-written ``_root_pointer.json`` raises naming the file; only
    a missing one reads as "not an ANN deployment"."""
    dep = tmp_path / "dep"
    dep.mkdir()
    (dep / "_root_pointer.json").write_text('{"format": 1, "live": "ro')
    with pytest.raises(ValueError, match=r"_root_pointer\.json is torn"):
        AD.resolve_ann_root(str(dep))
    with pytest.raises(FileNotFoundError, match="not an ANN deployment"):
        AD.resolve_ann_root(str(tmp_path / "absent"))


def test_rebuild_from_live_rows_and_marker_carry(spark, emb, tmp_path):
    """Build → guarded ingest → rebuild (no corpus argument): the new
    root must serve base+ingested rows exactly, the flip must be
    atomic, and a checkpoint replay of the pre-flip batch id must
    still no-op against the NEW root (the batch id the rebuild carried
    into its manifest)."""
    dep = str(tmp_path / "dep")
    base = emb.where(F.col("vec_id") % 2 == 0).select("vec_id", "embedding")
    extra_rows = [
        (1_000_000 + j, [float(j % 7), 1.0, float(j % 3), 2.0])
        for j in range(6)
    ]
    width = int(base.select(F.size("embedding")).first()[0])
    extra_rows = [
        (vid, (vec * ((width // len(vec)) + 1))[:width])
        for vid, vec in extra_rows
    ]
    extra = spark.createDataFrame(extra_rows, _VEC_SCHEMA)

    old_root = AD.ann_deployment_build(base, dep, n_centroids=4, n_iters=1)
    assert ann_ingest_batch(extra, old_root, batch_id=7) == 6
    full = base.unionByName(extra)
    q = extra.limit(2)

    new_root = AD.ann_deployment_rebuild(
        spark, dep, retire_grace_seconds=3600.0
    )
    assert AD.resolve_ann_root(dep) == new_root
    assert new_root != old_root
    # the rebuild's corpus was the old root's live rows: base + batch 7
    assert _key(_serve(spark, dep, q, n_centroids=4)) == _key(
        brute_force_topk(full, q, k=5, allow_full_scan=True)
    )
    # batch id carried: replaying the committed batch no-ops on the new
    # root
    assert ann_ingest_batch(extra, new_root, batch_id=7) == 0
    # and the stream continues monotone
    nxt = spark.createDataFrame(
        [(2_000_000, extra_rows[0][1])], _VEC_SCHEMA
    )
    assert ann_ingest_batch(nxt, new_root, batch_id=8) == 1
    # build dials reproduced from the old root's recorded meta
    with open(os.path.join(new_root, "_ann_meta.json")) as f:
        assert json.load(f)["n_centroids"] == 4


def test_flip_keeps_old_root_serveable_until_pruned(
    spark, emb, queries, tmp_path
):
    """Snapshot isolation across the flip: a serve that resolved
    BEFORE the rebuild finished keeps reading a complete old root for
    the grace window; pruning past the grace removes exactly it."""
    dep = str(tmp_path / "dep")
    AD.ann_deployment_build(emb, dep, n_centroids=8, n_iters=1)
    pinned = AD.resolve_ann_root(dep)  # pre-flip resolve
    AD.ann_deployment_rebuild(spark, dep, retire_grace_seconds=3600.0)
    assert AD.resolve_ann_root(dep) != pinned
    assert os.path.isdir(pinned)
    served_old = AI.ann_search(spark, pinned, queries, k=5, nprobe=8)
    assert _key(served_old) == _key(brute_force_topk(emb, queries, k=5))
    # grace lapsed -> the retiree goes, the live root stays
    removed = AD.prune_ann_roots(dep, grace_seconds=0.0)
    assert [os.path.join(dep, r) for r in removed] == [pinned]
    assert not os.path.isdir(pinned)
    assert os.path.isdir(AD.resolve_ann_root(dep))
    assert AD.prune_ann_roots(dep, grace_seconds=0.0) == []


def test_crashed_rebuild_leaves_old_root_live_and_is_swept(
    spark, emb, queries, tmp_path, monkeypatch
):
    dep = str(tmp_path / "dep")
    AD.ann_deployment_build(emb, dep, n_centroids=8, n_iters=1)
    live = AD.resolve_ann_root(dep)

    real_build = AI.build_ann_index

    def _boom(corpus, root, **kw):
        real_build(corpus, root, **kw)  # the orphan is fully written...
        raise RuntimeError("injected crash before pointer flip")

    monkeypatch.setattr(AD.AI, "build_ann_index", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        AD.ann_deployment_rebuild(spark, dep)
    monkeypatch.undo()

    # pointer untouched; serving unaffected
    assert AD.resolve_ann_root(dep) == live
    assert _key(_serve(spark, dep, queries)) == _key(
        brute_force_topk(emb, queries, k=5)
    )
    orphans = [
        d
        for d in os.listdir(os.path.join(dep, "roots"))
        if os.path.join(dep, "roots", d) != live
    ]
    assert len(orphans) == 1  # the crashed attempt is on disk...
    new_root = AD.ann_deployment_rebuild(
        spark, dep, retire_grace_seconds=3600.0
    )
    # ...swept by the next rebuild, which also never reuses its name
    assert os.path.join(dep, "roots", orphans[0]) not in (live, new_root)
    assert not os.path.isdir(os.path.join(dep, "roots", orphans[0]))
    assert _key(_serve(spark, dep, queries)) == _key(
        brute_force_topk(emb, queries, k=5)
    )


def test_rebuild_reaugments_pq_with_recorded_dials(spark, emb, tmp_path):
    dep = str(tmp_path / "dep")
    AD.ann_deployment_build(
        emb, dep, n_centroids=4, n_iters=1,
        pq={"m_subspaces": 2, "n_codes": 8, "n_iters": 1},
    )
    AD.ann_deployment_rebuild(spark, dep, retire_grace_seconds=3600.0)
    root = AD.resolve_ann_root(dep)
    with open(os.path.join(root, "_pq_meta.json")) as f:
        pq_meta = json.load(f)
    assert (pq_meta["m_subspaces"], pq_meta["n_codes"]) == (2, 8)
    q = emb.limit(3)
    got = AI.ann_search_pq(spark, root, q, k=3, nprobe=4)
    assert got.count() == 9


def test_stream_loop_rebuilds_zero_downtime(spark, emb, tmp_path):
    """start_ann_ingest_deployed — the complete operating loop as one
    real Structured Streaming query: a file-source stream delivers two
    micro-batches; pre-existing drift past the dial makes the FIRST
    batch trigger a zero-downtime rebuild (pointer advances exactly
    once — the rebuild re-baselines the monitor, so the second batch
    must NOT rebuild again), every batch ingests guarded against the
    then-live root, and the final full-probe serve equals brute force
    over base + both batches."""
    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.streaming import (
        start_ann_ingest_deployed,
    )
    from polars_w_inverted_index_spark.streaming.drift import (
        drift_monitor_batch,
    )

    dep = str(tmp_path / "dep")
    report = str(tmp_path / "reports")
    base = emb.where(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")
    AD.ann_deployment_build(base, dep, n_centroids=4, n_iters=1)
    first_root = AD.resolve_ann_root(dep)

    # forge drift: vocabulary-disjoint ingest vs the reference LM, no
    # baseline ever marked -> should_rebuild is True at stream start
    ref_lm = unigram_lm(
        spark.createDataFrame([("alpha beta gamma",)], "text string"), "text"
    )
    rep = drift_monitor_batch(
        spark.createDataFrame([("zeta eta theta",)], "text string"),
        str(tmp_path / "drift_state"),
        ref_lm,
        batch_id=0,
    )
    rep.write.mode("append").parquet(report)

    # two single-file micro-batches
    sdir = str(tmp_path / "vec_stream")
    s1 = emb.where(F.col("vec_id") % 3 == 1).select("vec_id", "embedding")
    s2 = emb.where(F.col("vec_id") % 3 == 2).select("vec_id", "embedding")
    s1.coalesce(1).write.mode("append").parquet(sdir)
    s2.coalesce(1).write.mode("append").parquet(sdir)

    stream = (
        spark.readStream.schema(s1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    q = start_ann_ingest_deployed(
        stream, dep, str(tmp_path / "ckpt"), report_path=report
    )
    # the helper runs a production (forever) stream; drain by polling
    # the live root's manifest until the second file's batch committed
    import time

    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            manifest = os.path.join(
                AD.resolve_ann_root(dep), "_cells_manifest.json"
            )
            if os.path.exists(manifest):
                with open(manifest) as f:
                    if json.load(f).get("batch_id") == 1:
                        break
            time.sleep(0.5)
        else:
            raise AssertionError("stream never committed batch 1")
    finally:
        q.stop()
        q.awaitTermination(60)

    live = AD.resolve_ann_root(dep)
    assert live != first_root, "stream never rebuilt"
    assert os.path.basename(live) == "g000002", "pointer advanced != once"
    assert os.path.isdir(first_root)  # retired behind the grace window
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        "vec_id", "embedding"
    )
    served = AI.ann_search(spark, live, queries, k=5, nprobe=4)
    full = base.unionByName(s1).unionByName(s2)
    assert _key(served) == _key(
        brute_force_topk(full, queries, k=5, allow_full_scan=True)
    )


def test_rebuild_crash_windows_never_break_serving(spark, tmp_path, monkeypatch):
    """Crash-window sweep for ann_deployment_rebuild: inject a crash
    immediately AFTER each step of the rebuild sequence (build, PQ
    augment, batch-id carry, drift re-baseline, pointer flip, prune).
    After every crash the pointer must resolve to a COMPLETE root whose
    full-probe serve equals brute force over the corpus that root was
    built from (old corpus before the flip, new corpus at/after it),
    and a plain re-run of the rebuild must recover to a clean
    deployment with no unreferenced roots left on disk."""
    import polars_w_inverted_index_spark.streaming.ann_ingest as ING

    rows = [
        (i, [float((i * 3 + j) % 7) + 0.5 for j in range(4)])
        for i in range(64)
    ]
    corpus = spark.createDataFrame(rows, _VEC_SCHEMA)
    extra = spark.createDataFrame([(999, rows[5][1])], _VEC_SCHEMA)
    q = corpus.limit(3)
    # the rebuild retrains from the live rows (corpus + the ingested
    # batch), so the expected serve is constant across every window —
    # before or after the flip
    want = _key(
        brute_force_topk(
            corpus.unionByName(extra), q, k=5, allow_full_scan=True
        )
    )

    crash_points = [
        (AD.AI, "build_ann_index"),
        (AD.AI, "pq_augment_ann_index"),
        (AD, "_carry_batch_id"),
        (ING, "mark_rebuilt"),
        (AD, "_write_pointer"),
        (AD, "prune_ann_roots"),
    ]
    for mod, name in crash_points:
        dep = str(tmp_path / f"dep_{name}")
        report = str(tmp_path / f"rep_{name}")
        AD.ann_deployment_build(
            corpus, dep, n_centroids=4, n_iters=0,
            pq={"m_subspaces": 2, "n_codes": 4, "n_iters": 1},
        )
        # a committed batch + drift report so the batch-id carry and
        # re-baseline steps actually execute
        assert ann_ingest_batch(extra, AD.resolve_ann_root(dep),
                                batch_id=0) == 1
        spark.createDataFrame(
            [(0, 0.5)], "batch_id long, cumulative_js_bits double"
        ).write.mode("append").parquet(report)

        real = getattr(mod, name)
        calls = {"n": 0}

        def _boom(*a, _real=real, _calls=calls, **kw):
            out = _real(*a, **kw)
            if _calls["n"] == 0:  # only the rebuild's FIRST call crashes
                _calls["n"] += 1
                raise RuntimeError("injected")
            return out

        monkeypatch.setattr(mod, name, _boom)
        with pytest.raises(RuntimeError, match="injected"):
            AD.ann_deployment_rebuild(
                spark, dep, report_path=report, retire_grace_seconds=3600.0
            )
        monkeypatch.undo()

        # whatever the window, the pointer resolves to a complete root
        live = AD.resolve_ann_root(dep)
        assert os.path.isdir(live), (name, live)
        got = AI.ann_search(spark, live, q, k=5, nprobe=4)
        assert _key(got) == want, f"serve broken after crash at {name}"
        # recovery: a plain re-run converges
        AD.ann_deployment_rebuild(
            spark, dep, report_path=report, retire_grace_seconds=3600.0
        )
        live = AD.resolve_ann_root(dep)
        got = AI.ann_search(spark, live, q, k=5, nprobe=4)
        assert _key(got) == want, f"recovery broken after crash at {name}"
        # the replay guard carried across the flip: batch 0 no-ops
        assert AI._load_manifest(live)["batch_id"] == 0, name
        assert ann_ingest_batch(extra, live, batch_id=0) == 0, name
        # every root on disk is referenced (live or retired) — the
        # recovery rebuild swept the crashed attempt's orphan
        p = AD._load_pointer(dep)
        referenced = {os.path.basename(p["live"])} | {
            os.path.basename(rel) for rel, _ts in p.get("retired", [])
        }
        on_disk = set(os.listdir(os.path.join(dep, "roots")))
        assert on_disk <= referenced, (name, on_disk - referenced)


def test_crashed_first_build_is_swept_on_retry(spark, tmp_path, monkeypatch):
    """A first ann_deployment_build that crashes before its pointer
    write leaves roots no pointer references; the retry must collect
    them (rebuild's sweep never runs without a pointer) and must not
    reuse the crashed attempt's directory name."""
    rows = [(i, [float((i + j) % 5) + 1.0 for j in range(4)]) for i in range(32)]
    corpus = spark.createDataFrame(rows, _VEC_SCHEMA)
    dep = str(tmp_path / "dep")

    real_build = AI.build_ann_index

    def _boom(c, root, **kw):
        real_build(c, root, **kw)
        raise RuntimeError("injected crash before first pointer write")

    monkeypatch.setattr(AD.AI, "build_ann_index", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        AD.ann_deployment_build(corpus, dep, n_centroids=4, n_iters=0)
    monkeypatch.undo()
    with pytest.raises(FileNotFoundError):
        AD.resolve_ann_root(dep)  # never published
    orphan = os.listdir(os.path.join(dep, "roots"))
    assert orphan == ["g000001"]

    root = AD.ann_deployment_build(corpus, dep, n_centroids=4, n_iters=0)
    assert os.path.basename(root) == "g000002"  # name not reused
    assert os.listdir(os.path.join(dep, "roots")) == ["g000002"]  # swept
    q = corpus.limit(2)
    got = AI.ann_search(spark, root, q, k=3, nprobe=4)
    assert _key(got) == _key(
        brute_force_topk(corpus, q, k=3, allow_full_scan=True)
    )
