"""Commit shape of the two streaming indexes.

A streaming commit writes one parquet file per touched LSM bucket or
IVF cell, whatever the partitioning of the batch, and compaction
re-chunks in one shuffle with exactly the rows of the two-shuffle join
form it replaced (kept below as the oracle).
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


def _merge(spark, idx, i, composite):
    batch = _events(spark, i * 10_000)
    kw = dict(
        batch_id=i, n_buckets=4, max_postings_per_row=MAX_ROWS,
        max_segments_per_bucket=None,
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


def _live_dirs(root, tag=None):
    with open(os.path.join(root, "_cells_manifest.json")) as f:
        cells = json.load(f)["cells"]
    return {
        c: os.path.join(root, "cells", f"cell={c}", f"ingest_batch={t}")
        for c, tags in cells.items()
        for t in tags
        if tag is None or t == tag
    }


def test_ann_ingest_and_fold_write_one_file_per_cell(spark, tmp_path):
    root = str(tmp_path / "ann")
    build_ann_index(_vectors(spark, 0, 1200), root, n_centroids=6, n_iters=1)
    batch = _vectors(spark, 5000, 600, parts=4)
    assert batch.rdd.getNumPartitions() == 4
    assert ann_ingest_batch(
        batch, root, batch_id=0, max_batch_dirs_per_cell=None
    ) == 600
    touched = _live_dirs(root, tag=0)
    assert len(touched) >= 4
    for d in touched.values():
        assert len(_parquet_files(d)) == 1, d
    # the next batch pushes every cell it touches past the dial of 1:
    # each folded cell's new generation is one file
    ann_ingest_batch(
        _vectors(spark, 9000, 600, parts=4), root, batch_id=1,
        max_batch_dirs_per_cell=1,
    )
    folded = {c: d for c, d in _live_dirs(root).items()
              if int(d.rsplit("=", 1)[1]) < -1}
    assert len(folded) >= 4
    for d in folded.values():
        assert len(_parquet_files(d)) == 1, d
    live = spark.read.option("basePath", os.path.join(root, "cells")).parquet(
        *_live_dirs(root).values()
    )
    assert live.count() == 2400  # nothing lost or doubled by the fold


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
    paths = AI._live_paths(root, "cells", m)
    known = AI._read_cells(spark, root, m, paths)
    inferred = spark.read.option(
        "basePath", os.path.join(root, "cells")
    ).parquet(*paths)
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
