"""Plan-construction budgets on the serving path.

Wall time moves run to run; py4j round trips and Spark job counts do
not, so they are the regression gate for the driver-side cost of
building a plan.  Each budget here pins a plan-building function well
below what its Column-chain form cost (``isin`` on 100 ids alone was
~430 calls; a cold index read is a schema-inference job), and each
SQL-string form is pinned to the same optimized plan as the Column form
it replaced.
"""

from __future__ import annotations

import os
import re
import time
import uuid

import pytest
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.operators.inverted_index import postings
from polars_w_inverted_index_spark.operators.stats import numeric_stats
from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
from polars_w_inverted_index_spark.plans.rewrite import (
    filter_by_doc_ids,
    sql_in_ids,
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
