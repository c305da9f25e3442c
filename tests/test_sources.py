"""Ingest-path tests: generator, sorted parquet writer, JSON flattening,
and the golden end-to-end reference workload (SURVEY.md §5.4)."""

from __future__ import annotations

import json

import pytest

from polars_w_inverted_index_spark import Engine
from polars_w_inverted_index_spark.sources.generator import (
    LEVELS,
    REGIONS,
    generate_logs,
)
from polars_w_inverted_index_spark.sources.json import read_logs_json
from polars_w_inverted_index_spark.sources.parquet import write_sorted_parquet

N = 2_000


@pytest.fixture(scope="module")
def logs(spark):
    return generate_logs(spark, N).cache()


def test_generator_schema_and_domains(logs):
    assert logs.count() == N
    row = logs.first()
    assert set(logs.columns) == {
        "doc_id", "timestamp", "level", "message", "source_ip",
        "source_host", "source_region", "user_id", "user_session_id",
        "user_metrics_login_time_ms", "user_metrics_clicks",
        "user_metrics_active", "payload_size", "tags", "answers", "processed",
    }
    from pyspark.sql import functions as F

    stats = logs.agg(
        F.countDistinct("level").alias("lv"),
        F.countDistinct("source_region").alias("rg"),
        F.countDistinct("source_host").alias("ho"),
        F.min("user_metrics_clicks").alias("cmin"),
        F.max("user_metrics_clicks").alias("cmax"),
        F.min("payload_size").alias("pmin"),
        F.max("payload_size").alias("pmax"),
        F.max(F.size("tags")).alias("tmax"),
        F.min(F.size("tags")).alias("tmin"),
        F.max(F.size("answers")).alias("amax"),
    ).first()
    assert stats["lv"] == len(LEVELS) and stats["rg"] == len(REGIONS)
    assert stats["ho"] == 20
    assert 0 <= stats["cmin"] and stats["cmax"] <= 99
    assert 50 <= stats["pmin"] and stats["pmax"] <= 20479
    assert 1 <= stats["tmin"] and stats["tmax"] <= 7
    assert stats["amax"] <= 3
    assert isinstance(row["answers"], list)


def test_generator_deterministic(spark):
    a = generate_logs(spark, 100).collect()
    b = generate_logs(spark, 100).collect()
    assert a == b


def test_sorted_parquet_roundtrip(spark, logs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pq") / "logs")
    write_sorted_parquet(logs, path, target_partitions=4)
    back = spark.read.parquet(path)
    assert back.count() == N
    # same columns/types (nullability flags legitimately differ after a
    # parquet roundtrip)
    assert back.schema.simpleString() == logs.schema.simpleString()
    # layout: doc_id sorted within each output file
    from pyspark.sql import functions as F

    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint doc_id ranges across files


def test_json_roundtrip_and_flatten(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("json")
    recs = [
        {
            "doc_id": 1,
            "timestamp": "2024-01-01T10:00:00Z",
            "level": "info",
            "message": "m1",
            "source": {"ip": "10.0.0.1", "host": "h1", "region": "us-east-1"},
            "user": {
                "id": "u1",
                "session_id": "s1",
                "metrics": {"login_time_ms": 12, "clicks": 3, "active": True},
            },
            "payload_size": 100,
            "tags": ["tag_1"],
            "answers": [{"nx_domain": False, "response_time_ms": 42}],
            "processed": True,
        },
        {
            "doc_id": 2,
            "timestamp": "NOT A TIMESTAMP",  # → null (main.rs:134-138)
            "level": "warn",
            "message": "m2",
            "source": {"ip": "10.0.0.2", "host": "h2", "region": "eu-west-1"},
            "user": {
                "id": "u2",
                "session_id": "s2",
                "metrics": {"login_time_ms": 5, "clicks": 0, "active": False},
            },
            "payload_size": 7,
            "tags": [],
            "answers": [],
            "processed": False,
        },
    ]
    p = d / "logs.ndjson"
    p.write_text("\n".join(json.dumps(r) for r in recs))
    df = read_logs_json(spark, str(p))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["source_host"] == "h1"
    assert rows[1]["user_metrics_clicks"] == 3
    assert rows[1]["answers"][0]["response_time_ms"] == 42
    assert rows[1]["timestamp"] is not None
    assert rows[2]["timestamp"] is None  # unparseable → null, no error
    assert df.columns[0] == "doc_id" and df.columns[-1] == "processed"


def test_golden_reference_workload(spark, logs, tmp_path_factory):
    """The reference's canonical main() workload (main.rs:729-833) on the
    generated fixture: six queries, ids = [i*(N/100) for i in 0..100]."""
    path = str(tmp_path_factory.mktemp("golden") / "logs")
    write_sorted_parquet(logs, path, target_partitions=4)
    eng = Engine(spark, path=path)
    ids = [i * (N // 100) for i in range(100)]

    fv_level, _ = eng.get_field_values_collected("level", ids)
    assert sum(len(v) for v in fv_level.value_map.values()) == 100
    assert set(fv_level.value_map) <= set(LEVELS)

    fv_region, _ = eng.get_field_values_collected("source_region", ids)
    assert sum(len(v) for v in fv_region.value_map.values()) == 100

    fv_host, _ = eng.get_field_values_collected("source_host")
    assert sum(len(v) for v in fv_host.value_map.values()) == N

    ns_payload, _ = eng.get_numeric_stats_collected("payload_size", ids)
    assert ns_payload.min is not None and ns_payload.min <= ns_payload.avg <= ns_payload.max

    ns_login, _ = eng.get_numeric_stats_collected(
        "user.metrics.login_time_ms", ids
    )
    assert ns_login.min is not None

    ns_clicks, _ = eng.get_numeric_stats_collected("user.metrics.clicks")
    assert 0 <= ns_clicks.min <= ns_clicks.avg <= ns_clicks.max <= 99


def test_csv_roundtrip_matches_generator(spark, logs, tmp_path_factory):
    """Seeded generator → CSV (nested columns JSON-encoded) → read back:
    every column round-trips exactly, including message text containing
    commas/quotes, timestamps to the microsecond, and revived arrays.
    DuckDB independently re-reads the same CSV files and agrees on the
    scalar aggregates (cross-engine wire-format evidence)."""
    import glob

    import duckdb

    from polars_w_inverted_index_spark.sources.csv import (
        read_logs_csv,
        write_logs_csv,
    )

    d = tmp_path_factory.mktemp("csv")
    path = str(d / "logs_csv")
    write_logs_csv(logs, path)
    back = read_logs_csv(spark, path)

    assert back.columns == logs.columns
    a = logs.orderBy("doc_id").collect()
    b = back.orderBy("doc_id").collect()
    assert len(a) == len(b) and len(a) > 0
    for ra, rb in zip(a, b):
        assert ra == rb, ra["doc_id"]

    con = duckdb.connect()
    files = sorted(glob.glob(path + "/*.csv"))
    got = con.execute(
        "SELECT COUNT(*), SUM(payload_size), SUM(user_metrics_clicks),"
        " COUNT(DISTINCT level), SUM(CAST(processed AS INT))"
        f" FROM read_csv({files!r}, header=true, quote='\"', escape='\"')"
    ).fetchone()
    want = logs.selectExpr(
        "count(*)",
        "sum(payload_size)",
        "sum(user_metrics_clicks)",
        "count(distinct level)",
        "sum(cast(processed as int))",
    ).collect()[0]
    assert tuple(got) == tuple(want)


def test_csv_corrupt_line_modes(spark, tmp_path_factory):
    """PERMISSIVE nulls a corrupt line, DROPMALFORMED skips it."""
    from polars_w_inverted_index_spark.sources.csv import read_logs_csv

    d = tmp_path_factory.mktemp("csv_bad")
    header = (
        "doc_id,timestamp,level,message,source_ip,source_host,"
        "source_region,user_id,user_session_id,"
        "user_metrics_login_time_ms,user_metrics_clicks,"
        "user_metrics_active,payload_size,tags,answers,processed"
    )
    good = (
        '1,2024-01-01T10:00:00.000000Z,info,m1,10.0.0.1,h1,us,'
        'u1,s1,12,3,true,100,"[""t1""]","[]",true'
    )
    bad = "not_a_long,xx,info,oops"
    p = d / "part.csv"
    p.write_text("\n".join([header, good, bad]))

    perm = read_logs_csv(spark, str(p)).collect()
    assert len(perm) == 2
    by_level = {r["doc_id"]: r for r in perm}
    assert by_level[1]["source_host"] == "h1"
    assert by_level[1]["tags"] == ["t1"]

    dropped = read_logs_csv(spark, str(p), mode="DROPMALFORMED").collect()
    assert len(dropped) == 1 and dropped[0]["doc_id"] == 1


# -- load_table handle memo -----------------------------------------------


def test_load_table_uri_root_reads_uncached(spark, tmp_path, monkeypatch):
    """A root ``os.stat`` cannot see (``file://``, ``s3a://``,
    ``hdfs://`` URIs) falls through to a plain, uncached read instead
    of raising ``OSError``."""
    from pyspark.sql.readwriter import DataFrameReader

    from polars_w_inverted_index_spark.sources.tables import load_table

    spark.range(5).write.parquet(str(tmp_path / "t.parquet"))
    uri = f"file://{tmp_path}"
    a = load_table(spark, uri, "t")
    assert sorted(r.id for r in a.collect()) == list(range(5))
    assert load_table(spark, uri, "t") is not a

    read = []
    monkeypatch.setattr(
        DataFrameReader, "parquet", lambda self, p: read.append(p) or p
    )
    assert load_table(spark, "s3a://bucket/sf", "region") == (
        "s3a://bucket/sf/region.parquet"
    )
    assert read == ["s3a://bucket/sf/region.parquet"]


def test_load_table_rereads_after_part_rewrite(spark, tmp_path):
    """A directory-valued ``<name>.parquet`` whose part file is replaced
    inside a partition directory re-reads: the memo is keyed on every
    directory under the root, not on the root's own stat."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from polars_w_inverted_index_spark.sources.tables import load_table

    path = tmp_path / "t.parquet"
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "id long, v string, k int"
    ).write.partitionBy("k").parquet(str(path))
    t = time.time() - 10
    for dirpath, _dn, _fn in os.walk(path):
        os.utime(dirpath, (t, t))
    first = load_table(spark, str(tmp_path), "t")
    assert load_table(spark, str(tmp_path), "t") is first  # memo hit

    part_dir = path / "k=1"
    for f in os.listdir(part_dir):
        os.remove(part_dir / f)
    pq.write_table(
        pa.table({"id": pa.array([7, 8], pa.int64()), "v": ["x", "y"]}),
        part_dir / "part-00000-rewrite.parquet",
    )
    t = time.time() - 5  # settled again; the root dir is untouched
    os.utime(part_dir, (t, t))
    again = load_table(spark, str(tmp_path), "t")
    assert again is not first
    assert sorted((r.id, r.v) for r in again.collect()) == [
        (2, "b"), (7, "x"), (8, "y"),
    ]
