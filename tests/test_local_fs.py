"""The session's ``file:`` FileSystem sets modes in-process.

Without the native Hadoop library, Hadoop's ``RawLocalFileSystem``
forks ``chmod`` for every file and directory a write creates.
``get_session`` binds ``org.polarsindex.NioLocalFileSystem`` on local
masters, which sets the same mode bits with ``java.nio``.  A JFR
recording of ``jdk.ProcessStart`` events shows that the engine's write
paths start no ``chmod`` process, and the written trees keep Hadoop's
modes.
"""

from __future__ import annotations

import json
import os
import stat

import numpy as np
import pyarrow as pa
import pytest

from polars_w_inverted_index_spark.operators.ann_index import build_ann_index
from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
from polars_w_inverted_index_spark.session import NIO_FS_CLASS
from polars_w_inverted_index_spark.streaming.ann_ingest import (
    ann_ingest_batch,
)
from polars_w_inverted_index_spark.streaming.index_maintenance import (
    index_fragmentation,
    merge_postings_batch,
)


@pytest.fixture
def process_starts(spark, tmp_path):
    """``starts(fn) -> [command line of every process the JVM started
    while fn() ran]``, read back from a JFR recording."""
    jvm = spark._jvm
    types = jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getEventTypes()
    if "jdk.ProcessStart" not in {t.getName() for t in types}:
        pytest.skip("this JVM records no jdk.ProcessStart events")

    def starts(fn):
        rec = jvm.jdk.jfr.Recording()
        try:
            rec.enable("jdk.ProcessStart")
            rec.start()
            fn()
            rec.stop()
            out = jvm.java.io.File(str(tmp_path / "starts.jfr")).toPath()
            rec.dump(out)
        finally:
            rec.close()
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(out)
        return [e.getString("command") for e in events]

    return starts


def _events(spark, lo, n=2000):
    return spark.range(lo, lo + n, numPartitions=4).selectExpr(
        "id AS doc_id", "concat('u', id % 37) AS user_id"
    )


def _vectors(spark, lo, n, dim=8):
    x = np.random.default_rng(lo).normal(size=(n, dim))
    return spark.createDataFrame(pa.table({
        "vec_id": pa.array(np.arange(lo, lo + n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float64())),
    })).repartition(4)


def _chmods(commands):
    return [c for c in commands if "chmod" in c]


def _local_fs(spark):
    return spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(f"file://{p}")


def test_session_binds_the_nio_file_system(spark):
    assert _local_fs(spark).getClass().getName() == NIO_FS_CLASS


def test_engine_writes_start_no_chmod(spark, tmp_path, process_starts):
    idx = str(tmp_path / "idx")

    def merges():
        for i in range(3):  # two chunked merges, then the compacting one
            merge_postings_batch(
                _events(spark, i * 10_000), "user_id", idx, batch_id=i,
                n_buckets=4, max_postings_per_row=8,
                max_segments_per_bucket=2,
            )

    assert _chmods(process_starts(merges)) == []
    assert index_fragmentation(idx)["max_segments_per_bucket"] == 1

    root = str(tmp_path / "ann")
    build_ann_index(_vectors(spark, 0, 1000), root, n_centroids=4, n_iters=1)

    def ingests():
        ann_ingest_batch(_vectors(spark, 5000, 300), root, batch_id=0,
                         max_batch_dirs_per_cell=None)
        ann_ingest_batch(_vectors(spark, 6000, 300), root, batch_id=1,
                         max_batch_dirs_per_cell=1)

    assert _chmods(process_starts(ingests)) == []
    with open(os.path.join(root, "_cells_manifest.json")) as f:
        cells = json.load(f)["cells"]
    assert all(t < 0 for tags in cells.values() for t in tags), cells  # folded

    cat = IndexCatalog(spark, str(tmp_path / "catalog"))
    tbl = _events(spark, 0)
    assert _chmods(process_starts(lambda: cat.build_many(
        tbl, "events", ["user_id"]))) == []
    assert cat.lookup("events", "user_id") is not None


def test_sticky_mode_takes_hadoops_path(spark, tmp_path, process_starts):
    """A mode with the sticky bit goes through Hadoop's own path, which
    forks ``chmod``: the bit lands, and the recording sees the fork
    (the negative twin of the test above)."""
    d = tmp_path / "sticky"
    d.mkdir()
    fs = _local_fs(spark)
    mode = spark._jvm.org.apache.hadoop.fs.permission.FsPermission("1777")
    commands = process_starts(
        lambda: fs.setPermission(_path(spark, d), mode)
    )
    assert any("chmod" in c and "1777" in c for c in commands), commands
    assert stat.S_IMODE(d.stat().st_mode) == 0o1777


def test_written_modes_follow_the_hadoop_umask(spark, tmp_path):
    jvm = spark._jvm
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        spark._jsc.hadoopConfiguration()
    ).toShort()
    out = tmp_path / "out"
    spark.range(100).selectExpr("id", "id % 2 AS p").repartition(
        3
    ).write.partitionBy("p").parquet(str(out))
    files, dirs = [], [str(out)]
    for root, ds, fs in os.walk(out):
        dirs += [os.path.join(root, d) for d in ds]
        files += [os.path.join(root, f) for f in fs]
    assert any(f.endswith(".crc") for f in files)
    assert {stat.S_IMODE(os.stat(f).st_mode) for f in files} == {
        0o666 & ~umask
    }
    assert {stat.S_IMODE(os.stat(d).st_mode) for d in dirs} == {
        0o777 & ~umask
    }


def test_set_permission_sets_each_rwx_bit(spark, tmp_path, process_starts):
    fs = _local_fs(spark)
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    f = tmp_path / "f"
    f.write_text("x")
    modes = [0o400 >> i for i in range(9)] + [0o750, 0o000, 0o777]

    def chmods():
        for mode in modes:
            fs.setPermission(_path(spark, f), perm(f"{mode:03o}"))
            assert stat.S_IMODE(f.stat().st_mode) == mode

    assert _chmods(process_starts(chmods)) == []
