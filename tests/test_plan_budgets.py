"""Plan-construction and write-path budgets.

Wall time moves run to run; py4j round trips and Spark job counts do
not, so they are the regression gate for the driver-side cost of
building a plan and for the scheduling cost of a streaming commit.
Each serving budget pins a plan-building function well below what its
Column-chain form cost (``isin`` on 100 ids alone was ~430 calls; a
cold index read is a schema-inference job), and each SQL-string form is
pinned to the same optimized plan as the Column form it replaced.  The
write-path budgets pin the commit shapes of the two streaming indexes:
one shuffle per LSM merge and per compaction, and no schema-inference
job on reads of the engine's own index trees.  The sorted writers and
the near-dedup, span-scrub and drift commits are pinned too: they plan
with AQE, one job per exchange, except span-scrub's tiny commits.
"""

from __future__ import annotations

import os
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.functions.text import unigram_lm
from polars_w_inverted_index_spark.operators.ann_index import (
    ann_search,
    build_ann_index,
)
from polars_w_inverted_index_spark.operators.inverted_index import postings
from polars_w_inverted_index_spark.operators.stats import numeric_stats
from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
from polars_w_inverted_index_spark.plans.rewrite import (
    filter_by_doc_ids,
    sql_in_ids,
)
from polars_w_inverted_index_spark.sources.parquet import (
    write_sorted_parquet,
    write_zordered,
)
from polars_w_inverted_index_spark.streaming import (
    drift_monitor_batch,
    near_dedup_batch,
    span_scrub_batch,
)
from polars_w_inverted_index_spark.streaming.ann_ingest import (
    ann_ingest_batch,
)
from polars_w_inverted_index_spark.streaming.index_maintenance import (
    compact_index,
    index_fragmentation,
    merge_postings_batch,
)

IDS = list(range(0, 1500, 15))  # 100 ids


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """``calls(fn) -> (py4j commands sent by fn(), fn())``, counted by
    wrapping the gateway client's ``send_command`` (an instance
    attribute, so every JavaObject on the client goes through it)."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    n = [0]

    def counting(*args, **kwargs):
        n[0] += 1
        return orig(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def calls(fn):
        before = n[0]
        out = fn()
        return n[0] - before, out

    return calls


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _backdate(path, secs=10.0):
    """Age every directory mtime under ``path`` past the listing
    token's race window, so the scan-handle memo engages."""
    t = time.time() - secs
    for dirpath, _dn, _fn in os.walk(path):
        os.utime(dirpath, (t, t))


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+", "#", plan)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def warm_catalog(spark, lineitem, tmp_path_factory):
    """A catalog with a single-field and a composite index, both aged
    past the race window and looked up once (the memo is warm)."""
    root = str(tmp_path_factory.mktemp("budget_idx"))
    cat = IndexCatalog(spark, root)
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    cat.build_composite(
        lineitem, "lineitem", ["l_returnflag", "l_linestatus"],
        doc_id_col="l_orderkey",
    )
    _backdate(root)
    assert cat.lookup("lineitem", "l_returnflag") is not None
    assert cat.lookup_composite(
        "lineitem", {"l_returnflag": "N", "l_linestatus": "O"}
    ) is not None
    return cat


# -- py4j budgets ---------------------------------------------------------


def test_filter_by_doc_ids_budget(lineitem, py4j_calls):
    n, out = py4j_calls(lambda: filter_by_doc_ids(lineitem, IDS, "l_orderkey"))
    assert n <= 25, n
    assert out.count() == lineitem.where(F.col("l_orderkey").isin(IDS)).count()


def test_lookup_by_doc_ids_budget(warm_catalog, py4j_calls):
    n, hit = py4j_calls(
        lambda: warm_catalog.lookup_by_doc_ids(
            "lineitem", "l_returnflag", IDS, doc_id_col="l_orderkey"
        )
    )
    assert hit is not None
    assert n <= 60, n


def test_postings_budget(lineitem, py4j_calls):
    n, _ = py4j_calls(lambda: postings(lineitem, "l_returnflag", "l_orderkey"))
    assert n <= 40, n


def test_numeric_stats_budget(lineitem, py4j_calls):
    n, _ = py4j_calls(lambda: numeric_stats(lineitem, "l_quantity"))
    assert n <= 15, n


# -- Spark-job budgets ----------------------------------------------------


def test_warm_lookups_launch_no_jobs(spark, warm_catalog):
    eq = {"l_returnflag": "N", "l_linestatus": "O"}
    assert _jobs(spark, lambda: warm_catalog.lookup(
        "lineitem", "l_returnflag")) == 0
    assert _jobs(spark, lambda: warm_catalog.lookup_composite(
        "lineitem", eq)) == 0
    # the counter sees the cold read's schema-inference job: a fresh
    # session has no memo
    cold = IndexCatalog(spark.newSession(), warm_catalog.root)
    assert _jobs(spark, lambda: cold.lookup("lineitem", "l_returnflag")) >= 1


# -- write-path budgets ---------------------------------------------------


def _events(spark, lo, n=2000):
    """``n`` (doc_id, user_id) rows over 37 users, in 4 partitions."""
    return spark.range(lo, lo + n, numPartitions=4).selectExpr(
        "id AS doc_id", "concat('u', id % 37) AS user_id"
    )


def _vectors(spark, lo, n, parts=None, dim=8):
    x = np.random.default_rng(lo).normal(size=(n, dim))
    df = spark.createDataFrame(pa.table({
        "vec_id": pa.array(np.arange(lo, lo + n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float64())),
    }))
    return df.repartition(parts).cache() if parts else df


def _merge(df, idx, batch_id):
    merge_postings_batch(
        df, "user_id", idx, batch_id=batch_id, n_buckets=4,
        max_postings_per_row=8, max_segments_per_bucket=None,
    )


@pytest.fixture(scope="module")
def lsm_index(spark, tmp_path_factory):
    """A chunked streaming index after one merge, adopted as a catalog
    entry."""
    root = str(tmp_path_factory.mktemp("budget_lsm"))
    idx = os.path.join(root, "idx")
    _merge(_events(spark, 0), idx, 0)
    cat = IndexCatalog(spark, os.path.join(root, "catalog"))
    cat.adopt_streaming("events", "user_id", idx)
    return idx, cat


@pytest.fixture(scope="module")
def ann_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("budget_ann"))
    build_ann_index(_vectors(spark, 0, 2000), root, n_centroids=6, n_iters=1)
    return root


def test_chunked_merge_and_compaction_budgets(spark, lsm_index):
    """One shuffle per merge and per compaction, and no schema-inference
    job on the compaction's read: 2 jobs each (a shuffle map stage and
    the write).  The two-shuffle merge launched 3 and the join-form
    compaction 6."""
    idx, _ = lsm_index
    batch = _events(spark, 10_000)
    merge = _jobs(spark, lambda: _merge(batch, idx, 1))
    assert index_fragmentation(idx)["max_segments_per_bucket"] == 2
    compact = _jobs(spark, lambda: compact_index(spark, idx))
    assert index_fragmentation(idx)["max_segments_per_bucket"] == 1
    assert merge <= 2 and compact <= 2, (merge, compact)


def test_warm_streaming_lookup_launches_no_jobs(spark, lsm_index):
    """A streaming catalog entry re-reads the ``_LATEST`` marker on
    every lookup and opens its segments with the marker's schema."""
    _, cat = lsm_index
    assert cat.lookup("events", "user_id") is not None
    assert _jobs(spark, lambda: cat.lookup("events", "user_id")) == 0


def test_ann_ingest_budgets(spark, ann_root):
    """An ingest is the assign checkpoint, the per-cell collect (a
    shuffle map stage and its result) and the write rebalanced on
    ``cell`` (a map stage and the write): 5 jobs.  A fold adds its own
    rebalanced write and no schema-inference job: 7.  The unrebalanced
    write launched one job fewer each time and wrote one file per input
    partition and cell (tests/test_commit_shape.py)."""
    b0, b1 = _vectors(spark, 5000, 500, 4), _vectors(spark, 6000, 500, 4)
    b0.count(), b1.count()
    ingest = _jobs(spark, lambda: ann_ingest_batch(
        b0, ann_root, batch_id=0, max_batch_dirs_per_cell=None))
    fold = _jobs(spark, lambda: ann_ingest_batch(
        b1, ann_root, batch_id=1, max_batch_dirs_per_cell=1))
    assert ingest <= 5 and fold <= 7, (ingest, fold)


def test_ann_search_plan_launches_no_jobs(spark, ann_root):
    """Centroids are memoized, the probed cells are read with the
    recorded schema, and an Arrow-backed query frame collects without
    a job."""
    q = _vectors(spark, 10**9, 5)
    assert ann_search(spark, ann_root, q, k=3, nprobe=2).count() == 15
    assert _jobs(
        spark, lambda: ann_search(spark, ann_root, q, k=3, nprobe=2)
    ) == 0


def test_live_corpus_frame_launches_no_jobs(spark, ann_root):
    """A deployment rebuild's default corpus is the live cells, read
    with the schema the build recorded in the manifest: building the
    frame launches no job (an inferring read launched one)."""
    import json

    from polars_w_inverted_index_spark.operators.ann_deploy import (
        _live_corpus,
    )

    with open(os.path.join(ann_root, "_ann_meta.json")) as f:
        meta = json.load(f)
    assert _jobs(spark, lambda: _live_corpus(spark, ann_root, meta)) == 0


def test_sorted_and_zorder_write_budgets(spark, tmp_path):
    """A range write is its range-sampling job, the exchange's map
    stage and the write: 3 jobs [2 when a tiny input turned AQE off].
    The z-order write adds its min/max bounds job: 5 [4]."""
    df = spark.range(0, 5000, numPartitions=4).selectExpr(
        "id AS doc_id", "id % 97 AS k"
    )
    df.count()
    srt = _jobs(spark, lambda: write_sorted_parquet(
        df, str(tmp_path / "sorted"), target_partitions=4))
    z = _jobs(spark, lambda: write_zordered(
        df, str(tmp_path / "z"), ["doc_id", "k"], target_partitions=4))
    assert srt <= 3 and z <= 5, (srt, z)


def _docs(spark, path, lo, n=40):
    """``n`` file-backed documents sharing no word, so no band or
    window repeats across or within batches."""
    spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12)))
         for i in range(lo, lo + n)],
        "doc_id long, text string",
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_streaming_commit_budgets(spark, tmp_path):
    """Batch 1 of a near-dedup, span-scrub and drift stream, each over
    the state batch 0 committed.  With AQE every exchange is a job of
    its own: near-dedup 14 [18 while ``dedup_clusters`` made its edges
    symmetric and distinct before the driver union-find] and drift 22
    [13 when a tiny input turned AQE off].  Span-scrub still plans tiny
    commits statically: 6."""
    b0 = _docs(spark, str(tmp_path / "b0"), 0)
    b1 = _docs(spark, str(tmp_path / "b1"), 1000)
    nd, ss, dr = (str(tmp_path / n) for n in ("nd", "ss", "drift"))
    ref = unigram_lm(b0).localCheckpoint()
    near_dedup_batch(b0, nd, batch_id=0)
    span_scrub_batch(b0, ss, batch_id=0)
    drift_monitor_batch(b0, dr, ref, batch_id=0)
    near = _jobs(spark, lambda: near_dedup_batch(b1, nd, batch_id=1))
    scrub = _jobs(spark, lambda: span_scrub_batch(b1, ss, batch_id=1))
    drift = _jobs(
        spark, lambda: drift_monitor_batch(b1, dr, ref, batch_id=1))
    assert near <= 14 and scrub <= 6 and drift <= 22, (near, scrub, drift)


# -- same plans as the Column forms ---------------------------------------


def test_filter_by_doc_ids_plan_equals_isin(lineitem):
    new = filter_by_doc_ids(lineitem, IDS, "l_orderkey")
    old = lineitem.where(F.col("l_orderkey").isin(IDS))
    assert _optimized(new) == _optimized(old)
    assert "PushedFilters: [In(" in _physical(new)


def test_postings_plan_equals_column_form(lineitem):
    old = (
        lineitem.where(
            F.col("l_returnflag").isNotNull() & F.col("l_orderkey").isNotNull()
        )
        .groupBy(F.col("l_returnflag").cast("string").alias("value"))
        .agg(F.collect_list(F.col("l_orderkey").cast("long")).alias("doc_ids"))
        .withColumn("doc_ids", F.sort_array("doc_ids"))
    )
    new = postings(lineitem, "l_returnflag", "l_orderkey")
    assert _optimized(new) == _optimized(old)


def test_numeric_stats_plan_equals_column_form(lineitem):
    old = lineitem.agg(
        F.min("l_quantity").cast("double").alias("min"),
        F.max("l_quantity").cast("double").alias("max"),
        F.avg(F.col("l_quantity").cast("double")).alias("avg"),
    )
    new = numeric_stats(lineitem, "l_quantity")
    assert _optimized(new) == _optimized(old)
    assert new.collect() == old.collect()


def test_lookup_by_doc_ids_plan_equals_lambda_form(warm_catalog):
    idx = warm_catalog.lookup("lineitem", "l_returnflag")
    old = idx.select(
        "value",
        F.filter(F.col("doc_ids"), lambda x: x.isin(IDS)).alias("doc_ids"),
    ).where(F.size("doc_ids") > 0)
    new = warm_catalog.lookup_by_doc_ids("lineitem", "l_returnflag", IDS)

    def masked(df):  # lambda variables are named x (SQL) vs x_N (Python)
        return re.sub(r"\bx(_\d+)?\b", "x", _optimized(df))

    assert masked(new) == masked(old)
    assert sorted(new.collect()) == sorted(old.collect())


# -- sql_in_ids edges -----------------------------------------------------


def test_sql_in_ids_empty_list_is_false(lineitem, warm_catalog):
    assert sql_in_ids("doc_id", []) == "false"
    assert filter_by_doc_ids(lineitem, [], "l_orderkey").count() == 0
    hit = warm_catalog.lookup_by_doc_ids("lineitem", "l_returnflag", [])
    assert hit is not None and hit.count() == 0


def test_sql_in_ids_negative_and_wide_ids(spark):
    big = 2**31 + 5
    df = spark.createDataFrame(
        [(-7, "a"), (0, "b"), (big, "c"), (2**40, "d"), (3, "e")],
        "doc_id long, v string",
    )
    ids = [-7, big, 2**40, 99]
    got = filter_by_doc_ids(df, ids)
    assert sorted(r.doc_id for r in got.collect()) == [-7, big, 2**40]
    assert _optimized(got) == _optimized(df.where(F.col("doc_id").isin(ids)))


def test_sql_in_ids_quotes_the_column(spark):
    df = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "x", 30)],
        "`doc id` long, `my field` string, `odd``col` int",
    )
    assert sql_in_ids("doc id", [1]) == "`doc id` IN (1)"
    got = filter_by_doc_ids(df, [1, 3], "doc id")
    assert sorted(r["doc id"] for r in got.collect()) == [1, 3]
    vm = {
        r["value"]: list(r["doc_ids"])
        for r in postings(got, "my field", "doc id").collect()
    }
    assert vm == {"x": [1, 3]}
    row = numeric_stats(df, "odd`col").collect()[0]
    assert (row["min"], row["max"], row["avg"]) == (10.0, 30.0, 20.0)
