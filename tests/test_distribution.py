"""Scan fan-out (``ensure_parallelism``) and nested-array (answers)
querying on the generated logs schema."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_w_inverted_index_spark.plans.distribution import ensure_parallelism
from polars_w_inverted_index_spark.sources.generator import generate_logs


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
