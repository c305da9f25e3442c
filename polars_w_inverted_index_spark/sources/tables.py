"""Test-table loaders for the driver-provided parquet fixtures."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.listing import session_scan

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects by
        # default (PARQUET_TYPE_ILLEGAL). Read nanos as long, then convert
        # to a micros timestamp (truncation matches DuckDB's ns→µs cast).
        # Deliberately SESSION-wide (no restore): the conf is consulted at
        # execution time, and leaving it on only changes how nanos columns
        # surface (long instead of error) — every such read here converts.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of ``<sf_dir>/<name>.parquet``.  The handle is reused per
    session while the path's listing token is unchanged
    (functions/listing.session_scan): a fresh ``spark.read.parquet`` per
    query re-pays the file listing, footer/schema read and py4j round
    trips, which is the whole floor of the small reference queries.  A
    root ``os.stat`` cannot see (``s3a://``, ``hdfs://``) reads uncached."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return session_scan(spark, path, lambda: _read_table(spark, path, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
