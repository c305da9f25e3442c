"""Commit shape of the two streaming indexes.

An LSM commit writes one parquet file per touched bucket, whatever the
partitioning of the batch, and compaction re-chunks in one shuffle with
exactly the rows of the two-shuffle join form it replaced (kept below
as the oracle).  An IVF ingest commit is one commit directory of a few
files, and a fold writes one file per folded cell.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.operators.ann_index import build_ann_index
from polars_w_inverted_index_spark.streaming import index_maintenance as im
from polars_w_inverted_index_spark.streaming.ann_ingest import (
    ann_ingest_batch,
)

MAX_ROWS = 8


def _parquet_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def _events(spark, lo, n=1500):
    """``n`` rows in 4 partitions over 11 values of ``a``, so every key
    spans several chunks; ``b`` splits them into composite tuples."""
    return spark.range(lo, lo + n, numPartitions=4).selectExpr(
        "id AS doc_id",
        "concat('a', pmod(xxhash64(id), 11)) AS a",
        "concat('b', id % 3) AS b",
    )


def _merge(spark, idx, i, composite, dial=None):
    batch = _events(spark, i * 10_000)
    kw = dict(
        batch_id=i, n_buckets=4, max_postings_per_row=MAX_ROWS,
        max_segments_per_bucket=dial,
    )
    if composite:
        im.merge_composite_postings_batch(batch, ["a", "b"], idx, **kw)
    else:
        im.merge_postings_batch(batch, "a", idx, **kw)


def _fragmented(spark, root, composite, n_merges=3):
    idx = os.path.join(root, "composite" if composite else "single")
    for i in range(n_merges):
        _merge(spark, idx, i, composite)
    return idx


def _segments(idx):
    meta = im._read_marker(idx)
    return [os.path.join(idx, rel) for segs in meta["buckets"].values()
            for rel in segs]


@pytest.mark.parametrize("composite", [False, True], ids=["single", "composite"])
def test_chunked_merge_writes_one_file_per_touched_bucket(
    spark, tmp_path, composite
):
    idx = _fragmented(spark, str(tmp_path), composite, n_merges=2)
    meta = im._read_marker(idx)
    assert meta["merge"] == 1
    for m in (0, 1):
        written = [
            os.path.join(idx, f"m={m}", d)
            for d in os.listdir(os.path.join(idx, f"m={m}"))
            if d.startswith("bucket=")
        ]
        assert len(written) == 4  # every bucket touched
        for d in written:
            assert len(_parquet_files(d)) == 1, d
    # the appended segments are exactly what each merge wrote
    assert all(len(segs) == 2 for segs in meta["buckets"].values())


# -- rechunk oracle -----------------------------------------------------------


def _two_shuffle_rechunk(df, keys, m):
    """The re-chunk as it was written before the one-shuffle form:
    a per-key count, joined back, then a regroup (three exchanges)."""
    exploded = df.select(*keys, F.explode("doc_ids").alias("doc_id"))
    counts = exploded.groupBy(*keys).agg(F.count("*").alias("n"))
    sized = counts.select(
        *keys,
        F.greatest(F.lit(1), F.ceil(F.col("n") / F.lit(m))).alias("_nc"),
    )
    return (
        exploded.join(sized, keys)
        .withColumn(
            "chunk", F.pmod(F.xxhash64("doc_id"), F.col("_nc")).cast("long")
        )
        .groupBy(*keys, "chunk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
    )


def _rows(df, keys):
    return Counter(
        (tuple(r[k] for k in keys), r["chunk"], tuple(sorted(r["doc_ids"])))
        for r in df.collect()
    )


def _assert_unique_per_segment(spark, idx, keys):
    for seg in _segments(idx):
        assert len(_parquet_files(seg)) == 1, seg
        rows = spark.read.parquet(seg).select(*keys, "chunk").collect()
        pairs = [tuple(r) for r in rows]
        assert len(pairs) == len(set(pairs)), seg


@pytest.mark.parametrize("composite", [False, True], ids=["single", "composite"])
@pytest.mark.parametrize("fold", ["compact", "rebucket"])
def test_rechunk_matches_two_shuffle_oracle(spark, tmp_path, composite, fold):
    idx = _fragmented(spark, str(tmp_path), composite)
    meta = im._read_marker(idx)
    keys = im._key_cols(meta)
    want = _rows(
        _two_shuffle_rechunk(im.read_index(spark, idx), keys, MAX_ROWS), keys
    )
    assert any(c > 0 for (_, c, _) in want)  # some key spans chunks
    if fold == "compact":
        im.compact_index(spark, idx)
        n_buckets = 4
    else:
        im.rebucket_index(spark, idx, 3)
        n_buckets = 3
    after = im._read_marker(idx)
    assert after["n_buckets"] == n_buckets
    assert all(len(segs) == 1 for segs in after["buckets"].values())
    assert _rows(im.read_index(spark, idx), keys) == want
    _assert_unique_per_segment(spark, idx, keys)


@pytest.mark.parametrize("composite", [False, True], ids=["single", "composite"])
def test_folding_merge_equals_append_then_compact(spark, tmp_path, composite):
    """A merge into an index whose buckets hold the dial's segments
    writes once what appending its batch and then ``compact_index``
    wrote: the same chunk rows (the re-chunk is a function of the
    (key, doc_id) multiset), one single-file segment per bucket, and
    its batch id committed in the same swap."""
    ref = _fragmented(spark, str(tmp_path / "ref"), composite)
    im.compact_index(spark, ref)
    idx = os.path.join(str(tmp_path / "fold"), "index")
    for i in range(3):
        _merge(spark, idx, i, composite, dial=2)
        segs = im.index_fragmentation(idx)["max_segments_per_bucket"]
        assert segs == (1 if i != 1 else 2), (i, segs)
    meta = im._read_marker(idx)
    assert meta["batch_id"] == 2
    keys = im._key_cols(meta)
    assert _rows(im.read_index(spark, idx), keys) == _rows(
        im.read_index(spark, ref), keys
    )
    _assert_unique_per_segment(spark, idx, keys)


def test_fold_at_the_dial_ignores_the_batchs_buckets(spark, tmp_path):
    """The fold is decided from the marker alone: a bucket at the dial
    folds the index even when the merging batch lands in another
    bucket, and the postings stay exact."""
    from polars_w_inverted_index_spark.functions.hashing import xxhash64

    def bucket(v):
        return xxhash64(v.encode("utf-8")) % 4

    idx = str(tmp_path / "idx")
    hot = "a0"
    cold = next(
        f"z{i}" for i in range(100) if bucket(f"z{i}") != bucket(hot)
    )
    batches = [
        [(i, f"a{i % 11}") for i in range(60)],
        [(100 + i, hot) for i in range(5)],
        [(200 + i, cold) for i in range(5)],
    ]
    for bid, rows in enumerate(batches):
        im.merge_postings_batch(
            spark.createDataFrame(rows, "doc_id long, a string"), "a", idx,
            batch_id=bid, n_buckets=4, max_postings_per_row=MAX_ROWS,
            max_segments_per_bucket=2,
        )
        frag = im.index_fragmentation(idx)
        if bid == 1:  # the hot bucket reaches the dial
            assert frag["max_segments_per_bucket"] == 2, frag
    meta = im._read_marker(idx)
    assert frag["segments"] == len(meta["buckets"]) == 4, frag
    assert meta["batch_id"] == 2
    truth: dict = {}
    for rows in batches:
        for d, v in rows:
            truth.setdefault(v, []).append(d)
    got = {
        r["value"]: list(r["doc_ids"])
        for r in im.read_index_postings(spark, idx).collect()
    }
    assert got == {v: sorted(ds) for v, ds in truth.items()}


def test_rechunk_plans_one_exchange(spark, tmp_path):
    idx = _fragmented(spark, str(tmp_path), composite=True, n_merges=2)
    meta = im._read_marker(idx)
    plan = (
        im._rechunked(im.read_index(spark, idx), meta, meta["n_buckets"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_read_index_runs_on_the_marker_schema(spark, tmp_path):
    """The segment schema comes from the marker, and it is the schema
    the writers produce."""
    for composite in (False, True):
        idx = _fragmented(spark, str(tmp_path), composite, n_merges=1)
        got = im.read_index(spark, idx)
        inferred = spark.read.parquet(*_segments(idx))
        assert got.schema == inferred.schema


# -- IVF cells ----------------------------------------------------------------


def _vectors(spark, lo, n, parts=None, dim=8):
    x = np.random.default_rng(lo).normal(size=(n, dim))
    df = spark.createDataFrame(pa.table({
        "vec_id": pa.array(np.arange(lo, lo + n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float64())),
    }))
    return df.repartition(parts) if parts else df


def _manifest_cells(root):
    with open(os.path.join(root, "_cells_manifest.json")) as f:
        return json.load(f)["cells"]


def test_ann_ingest_writes_one_commit_dir_and_fold_one_file_per_cell(
    spark, tmp_path
):
    """An ingest is ONE commit directory ``deltas/ingest_batch=<t>``
    holding fewer files than the cells it touches (a file per touched
    cell made 16 directories and 16 files for this batch); a fold
    writes one base file per folded cell; the rows served from base ∪
    deltas are exactly the ingested ones, and a full probe still equals
    brute force."""
    from polars_w_inverted_index_spark.operators import ann_index as AI
    from polars_w_inverted_index_spark.operators.similarity import (
        brute_force_topk,
    )

    root = str(tmp_path / "ann")
    base = _vectors(spark, 0, 4000)
    build_ann_index(base, root, n_centroids=16, n_iters=1)
    b0 = _vectors(spark, 5000, 1000, parts=4)
    assert ann_ingest_batch(
        b0, root, batch_id=0, max_batch_dirs_per_cell=None
    ) == 1000
    touched = [c for c, tags in _manifest_cells(root).items() if 0 in tags]
    assert len(touched) >= 8
    assert os.listdir(os.path.join(root, "deltas")) == ["ingest_batch=0"]
    commit = os.path.join(root, "deltas", "ingest_batch=0")
    assert 1 <= len(_parquet_files(commit)) < len(touched)
    assert not [
        c for c in os.listdir(os.path.join(root, "cells"))
        if os.path.exists(os.path.join(root, "cells", c, "ingest_batch=0"))
    ]
    # the next batch pushes every cell it touches past the dial of 1:
    # each folded cell's new generation is one file
    b1 = _vectors(spark, 9000, 1000, parts=4)
    ann_ingest_batch(b1, root, batch_id=1, max_batch_dirs_per_cell=1)
    cells = _manifest_cells(root)
    folded = {
        c: os.path.join(root, "cells", f"cell={c}", f"ingest_batch={t}")
        for c, tags in cells.items() for t in tags if t < -1
    }
    assert len(folded) >= 8
    for d in folded.values():
        assert len(_parquet_files(d)) == 1, d
    m = AI._load_manifest(root)
    ids = sorted(r["vec_id"] for r in AI._read_cells(spark, root, m).collect())
    want = sorted(
        list(range(0, 4000)) + list(range(5000, 6000))
        + list(range(9000, 10000))
    )
    assert ids == want  # nothing lost or doubled by the fold
    corpus = base.unionByName(b0).unionByName(b1)
    q = _vectors(spark, 10**6, 12)
    key = ["query_id", "neighbor_id", "cos_sim", "rank"]
    served = AI.ann_search(spark, root, q, k=5, nprobe=16)
    exact = brute_force_topk(corpus, q, k=5)
    assert sorted(served.select(key).collect()) == sorted(
        exact.select(key).collect()
    )


def test_ann_mixed_batch_folds_and_commits_in_one_swap(
    spark, tmp_path, monkeypatch
):
    """A batch whose touched cells partly cross the dial: the crossing
    cells' rows go straight into their new generation (one file per
    cell), the others' into the commit directory, and ONE manifest swap
    publishes both.  The served rows are exactly the ingested multiset
    and a full probe equals brute force."""
    from polars_w_inverted_index_spark.operators import ann_index as AI
    from polars_w_inverted_index_spark.operators.similarity import (
        brute_force_topk,
    )

    root = str(tmp_path / "ann")
    base = _vectors(spark, 0, 4000)
    build_ann_index(base, root, n_centroids=16, n_iters=1)
    # copies of stored vectors of four cells: batch 0 touches only them
    by_cell: dict = {}
    for r in AI._read_cells(spark, root, AI._load_manifest(root)).collect():
        by_cell.setdefault(str(r["cell"]), [float(x) for x in r["cv"]])
    hot = sorted(by_cell)[:4]
    b0 = spark.createDataFrame(
        [(50_000 + j, by_cell[c]) for j, c in enumerate(hot * 3)],
        "vec_id long, embedding array<double>",
    )
    assert ann_ingest_batch(
        b0, root, batch_id=0, max_batch_dirs_per_cell=None
    ) == 12
    b1 = _vectors(spark, 9000, 1000, parts=4)
    swaps = []
    real = AI._write_manifest
    monkeypatch.setattr(
        AI, "_write_manifest", lambda *a: (swaps.append(1), real(*a))
    )
    assert ann_ingest_batch(
        b1, root, batch_id=1, max_batch_dirs_per_cell=1
    ) == 1000
    monkeypatch.undo()
    assert len(swaps) == 1
    cells = _manifest_cells(root)
    folded = [c for c, tags in cells.items() if all(t < -1 for t in tags)]
    committed = [c for c, tags in cells.items() if 1 in tags]
    # every hot cell batch 1 touched folded; a hot cell it missed
    # keeps batch 0's commit
    assert folded and set(folded) <= set(hot), cells
    assert all(0 in cells[c] for c in set(hot) - set(folded)), cells
    assert len(committed) >= 8 and not set(committed) & set(hot)
    for c in folded:
        (t,) = cells[c]
        d = os.path.join(root, "cells", f"cell={c}", f"ingest_batch={t}")
        assert len(_parquet_files(d)) == 1, d
    m = AI._load_manifest(root)
    assert m["batch_id"] == 1
    ids = sorted(r["vec_id"] for r in AI._read_cells(spark, root, m).collect())
    assert ids == sorted(
        list(range(0, 4000)) + list(range(50_000, 50_012))
        + list(range(9000, 10000))
    )
    corpus = base.unionByName(b0).unionByName(b1)
    q = _vectors(spark, 10**6, 12)
    key = ["query_id", "neighbor_id", "cos_sim", "rank"]
    served = AI.ann_search(spark, root, q, k=5, nprobe=16)
    exact = brute_force_topk(corpus, q, k=5)
    assert sorted(served.select(key).collect()) == sorted(
        exact.select(key).collect()
    )


def test_cells_files_write_vectors_without_a_dictionary(spark, tmp_path):
    """The build, an ingest commit and a fold write ``cv`` PLAIN: no
    dictionary page in the footer, on vectors a default write does
    dictionary-encode (few distinct values)."""
    import pyarrow.parquet as papq

    def cv_chunk(path):
        md = papq.ParquetFile(path).metadata.row_group(0)
        return next(
            md.column(i) for i in range(md.num_columns)
            if md.column(i).path_in_schema == "cv.list.element"
        )

    def small_ints(lo, n, parts=None):
        x = np.random.default_rng(lo).integers(0, 3, size=(n, 8))
        df = spark.createDataFrame(pa.table({
            "vec_id": pa.array(np.arange(lo, lo + n), pa.int64()),
            "embedding": pa.array(
                list(x.astype(float)), pa.list_(pa.float64())
            ),
        }))
        return df.repartition(parts) if parts else df

    control = str(tmp_path / "control")
    small_ints(0, 800).selectExpr("embedding AS cv").write.parquet(control)
    assert cv_chunk(os.path.join(
        control, _parquet_files(control)[0])).has_dictionary_page

    root = str(tmp_path / "ann")
    build_ann_index(small_ints(0, 800), root, n_centroids=4, n_iters=1)
    ann_ingest_batch(small_ints(1000, 300, 2), root, batch_id=0,
                     max_batch_dirs_per_cell=None)
    ann_ingest_batch(small_ints(2000, 300, 2), root, batch_id=1,
                     max_batch_dirs_per_cell=1)
    files = [
        os.path.join(dp, f)
        for dp, _dn, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and ("/cells/" in dp or "/deltas/" in dp)
    ]
    tags = {os.path.basename(os.path.dirname(f)) for f in files}
    assert {"ingest_batch=-1", "ingest_batch=0"} <= tags
    assert any(t.startswith("ingest_batch=-") and t != "ingest_batch=-1"
               for t in tags)  # a fold's generation
    for f in files:
        chunk = cv_chunk(f)
        assert not chunk.has_dictionary_page, f
        assert not any("DICTIONARY" in e for e in chunk.encodings), f


def test_cells_readers_use_the_recorded_schema(spark, tmp_path):
    """The build records the cells tree's schema (cell typed like the
    centroid ids); it is the schema of the written files, and a
    manifest without it is refused."""
    from polars_w_inverted_index_spark.operators import ann_index as AI

    root = str(tmp_path / "ann")
    build_ann_index(_vectors(spark, 0, 600), root, n_centroids=4, n_iters=1)
    m = AI._load_manifest(root)
    assert m["cells_schema"] == (
        "cell bigint, ingest_batch int, vec_id bigint, cv array<double>, "
        "cn double"
    )
    known = AI._read_cells(spark, root, m)
    inferred = spark.read.option(
        "basePath", os.path.join(root, "cells")
    ).parquet(*AI._cell_dirs(root, m))
    del m["cells_schema"]
    with open(os.path.join(root, "_cells_manifest.json"), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="cells_schema"):
        AI._load_manifest(root)
    cols = ["vec_id", "cv", "cn"]
    assert known.select(cols).schema == inferred.select(cols).schema
    assert sorted(known.select(cols).collect()) == sorted(
        inferred.select(cols).collect()
    )
