"""Distribution primitives: bucketed exchange-free joins, salting, and
nested-array (answers) querying on the generated logs schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.plans.distribution import (
    ensure_parallelism,
    salted_count,
    salted_inner_join,
    write_bucketed,
)
from polars_w_inverted_index_spark.sources.generator import generate_logs


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed(li.select("l_orderkey", "l_quantity"),
                   "t_li_b", "l_orderkey", 8)
    write_bucketed(o.select("o_orderkey", "o_totalprice"),
                   "t_o_b", "o_orderkey", 8)
    # at test scale Spark would broadcast (cheaper than reading buckets);
    # disable it so the plan shows what bucketing buys at real scale,
    # where neither side is broadcastable
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("t_li_b")
        b = spark.table("t_o_b").withColumnRenamed("o_orderkey", "l_orderkey")
        joined = a.join(b, "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: a shuffle-free sort-merge join over bucketed scans
        assert "Exchange hashpartitioning" not in plan
        assert "Bucketed: true" in plan
        want = (
            li.select("l_orderkey", "l_quantity")
            .join(
                o.select(
                    F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
                ),
                "l_orderkey",
            )
            .count()
        )
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_o_b")


def test_salted_join_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    dim = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    got = salted_inner_join(li, dim, "l_orderkey", salt_factor=4)
    want = li.join(dim, "l_orderkey")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_salted_count_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r["l_returnflag"]: r["count"]
        for r in salted_count(li, "l_returnflag", 4).collect()
    }
    want = {
        r["l_returnflag"]: r["count"]
        for r in li.groupBy("l_returnflag").count().collect()
    }
    assert got == want


def test_nested_answers_array_queries(spark):
    """The logs schema's List<Struct> column is queryable: explode +
    aggregate over answers (the reference stores but never queries it —
    SURVEY.md §1.3; we prove the Spark path works)."""
    logs = generate_logs(spark, 500)
    ans = logs.select(
        "doc_id", F.explode("answers").alias("a")
    ).select("doc_id", "a.nx_domain", "a.response_time_ms")
    stats = ans.agg(
        F.min("response_time_ms").alias("lo"),
        F.max("response_time_ms").alias("hi"),
        F.avg(F.col("nx_domain").cast("int")).alias("nx_rate"),
    ).first()
    assert 0 <= stats["lo"] <= stats["hi"]
    assert 0.0 <= stats["nx_rate"] <= 1.0
    # array predicates without explode: docs where ANY answer was nx
    any_nx = logs.where(
        F.exists("answers", lambda a: a["nx_domain"])
    ).count()
    via_explode = ans.where("nx_domain").select("doc_id").distinct().count()
    assert any_nx == via_explode


def test_ensure_parallelism_leaves_post_shuffle_frames_alone(spark, sf_dir):
    """The estimate reads leaf-scan bytes, which say nothing about a
    frame downstream of a shuffle: only a bare scan/project/filter plan
    fans out."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bare = li.where("l_quantity > 1").select("l_orderkey", "l_returnflag")
    assert ensure_parallelism(bare, 64) is not bare  # tiny scan: fans out
    for shuffled in (
        li.groupBy("l_returnflag").count(),
        li.join(spark.read.parquet(f"{sf_dir}/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey")),
        li.orderBy("l_orderkey"),
        li.repartition(3),
    ):
        assert ensure_parallelism(shuffled, 64) is shuffled


def test_ensure_parallelism_caps_non_splittable_inputs(
    spark, tmp_path, monkeypatch
):
    """One gzip file is one scan partition however large: the byte
    estimate is capped at the file count, so it still fans out.  The
    same bytes uncompressed split as estimated and are left alone."""
    rows = spark.range(0, 20_000, numPartitions=1).selectExpr(
        "id", "sha2(CAST(id AS STRING), 256) AS text"
    )
    gz, plain = str(tmp_path / "gz"), str(tmp_path / "plain")
    rows.write.option("compression", "gzip").json(gz)
    rows.write.json(plain)
    gz_df, plain_df = spark.read.json(gz), spark.read.json(plain)
    assert gz_df.rdd.getNumPartitions() == 1
    # split arithmetic at 1 KB per partition: both inputs estimate far
    # above 4 partitions from their bytes alone
    monkeypatch.setattr(spark, "_pwis_split_conf", (1024, 0), raising=False)
    assert ensure_parallelism(plain_df, 4) is plain_df
    assert ensure_parallelism(gz_df, 4).rdd.getNumPartitions() == 4
