"""Optimized parquet layout writer + scan helpers.

Reference behavior (main.rs:197-257): single file, zstd, full column
statistics, 512 Ki-row row groups, pre-sorted by ``doc_id`` — the sorted
layout IS the physical index (row-group stats let id-range predicates skip
row groups).

Spark-first translation: ``repartitionByRange(doc_id)`` then
``sortWithinPartitions(doc_id)`` gives a globally range-partitioned, locally
sorted layout — every output file covers a disjoint doc_id range with
min/max stats, which is what scan pruning needs.  A single ``coalesce(1)``
file (the reference's literal layout) is a scale anti-pattern: at 100 TB you
want many range-partitioned files so 1000 executors can scan in parallel;
``target_partitions`` controls that and defaults to the session's shuffle
parallelism.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_ROW_GROUP_ROWS = 512 * 1024  # main.rs:698
LOW_MEMORY_PARTITION_BYTES = 32 * 1024 * 1024


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_col: str = "doc_id",
    compression: str = "zstd",
    target_partitions: int | None = None,
    single_file: bool = False,
    row_group_rows: int = DEFAULT_ROW_GROUP_ROWS,
) -> None:
    """Write a range-partitioned, sorted, zstd parquet dataset.

    ``single_file=True`` reproduces the reference's one-file layout
    (main.rs:241-245) for small fixtures; leave False at scale.
    """
    if single_file:
        out = df.coalesce(1).sortWithinPartitions(sort_col)
    else:
        n = target_partitions or df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"
        )
        out = df.repartitionByRange(int(n), sort_col).sortWithinPartitions(
            sort_col
        )
    (
        out.write.mode("overwrite")
        .option("compression", compression)
        # parquet-mr writes column statistics always; row-group sizing
        # is byte-based in Spark — approximate the reference's 512 Ki
        # rows via block size (stats granularity, main.rs:698).
        .option("parquet.block.size", str(128 * 1024 * 1024))
        .parquet(path)
    )


@contextmanager
def low_memory_scans(
    spark: SparkSession, max_partition_bytes: int = LOW_MEMORY_PARTITION_BYTES
):
    """Scoped low-memory scan posture: shrinks per-task input splits for
    the duration of the block, restoring the previous value on exit.

    Split sizing is read at EXECUTION time (FileSourceScan partition
    planning), not at ``spark.read`` time — so the actions consuming the
    scans must run inside the block, and a bare conf-set with no restore
    (round-1 behavior) silently changed every later scan in the session.
    """
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(max_partition_bytes))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def scan_parquet(
    spark: SparkSession, path: str, low_memory: bool = False
) -> DataFrame:
    """Lazy parquet scan (≈ LazyFrame::scan_parquet, main.rs:291-297).

    ``low_memory`` shrinks per-task input splits (the Spark analogue of the
    reference's low_memory flag, main.rs:292).  NOTE this sets SESSION-level
    conf that stays in effect until changed — split sizing is consulted at
    execution, so a scoped restore here would be a no-op for this lazy
    DataFrame.  Use :func:`low_memory_scans` to bound the effect to a block.
    """
    if low_memory:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(LOW_MEMORY_PARTITION_BYTES),
        )
    return spark.read.parquet(path)


def zorder_key(cols, mins, maxs, bits: int = 12):
    """Z-value (Morton code) expression over ``cols``: each column is
    min/max-normalized to ``bits`` bits and the bits are interleaved —
    a pure JVM expression (shifts/masks), no UDF.

    ``mins``/``maxs`` are the per-column bounds (computed once by the
    writer); a degenerate column (min == max) contributes constant bits.
    Nulls quantize to 0, clustering together at the low end — the same
    place a sorted write puts them.
    """
    from pyspark.sql import functions as F

    k = len(cols)
    levels = (1 << bits) - 1
    qs = []
    for c, lo, hi in zip(cols, mins, maxs):
        v = (F.col(c) if isinstance(c, str) else c).cast("double")
        # an all-NULL column has None bounds (min/max of nothing) —
        # degenerate like min == max: constant bits, not float(None)
        span = (
            float(hi) - float(lo)
            if lo is not None and hi is not None
            else 0.0
        )
        if span <= 0:
            qs.append(F.lit(0).cast("long"))
            continue
        scaled = (v - F.lit(float(lo))) / F.lit(span) * F.lit(float(levels))
        q = F.least(
            F.greatest(F.floor(scaled).cast("long"), F.lit(0)),
            F.lit(levels),
        )
        qs.append(F.coalesce(q, F.lit(0)))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, q in enumerate(qs):
            z = z + F.shiftleft(
                F.shiftright(q, j).bitwiseAND(F.lit(1)), j * k + i
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    compression: str = "zstd",
    target_partitions: int | None = None,
) -> None:
    """Z-order-clustered parquet write: multi-column row-group pruning.

    A single-column sorted layout (:func:`write_sorted_parquet`) prunes
    scans filtered on THAT column only — every file spans the full range
    of every other column.  Interleaving the bits of k normalized
    columns and range-partitioning + sorting on the Morton code gives
    every file a small hyper-rectangle of the k-dim key space, so
    min/max footer stats prune scans filtered on ANY of the columns
    (the Delta/Iceberg OPTIMIZE ZORDER technique, built here from plain
    expressions).  Cost = one bounds aggregation + the same range
    exchange a sorted write pays; per-column pruning power degrades
    gracefully as k grows (file range fraction ~ 2^(-bits_eff/k)).
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    b = df.agg(*aggs).first()
    mins = [b[f"{c}__min"] for c in cols]
    maxs = [b[f"{c}__max"] for c in cols]
    z = zorder_key(cols, mins, maxs, bits)
    n = target_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(int(n), "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("compression", compression)
        .option("parquet.block.size", str(128 * 1024 * 1024))
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    path: str | None = None,
    compression: str = "zstd",
) -> None:
    """Materialize ``df`` as a hash-bucketed (and per-bucket sorted)
    parquet table — the disk-layout lever for repeated co-located joins.

    Two tables bucketed on their join key with the SAME bucket count
    join with ZERO shuffle: each task reads matching bucket files from
    both sides (the plan shows no Exchange under the SortMergeJoin).
    At 100 TB this converts every recurring fact-to-fact join on the
    bucket key from a full-corpus shuffle into a metadata decision —
    the cost is paid once, at write time.

    Bucketing rides Spark's table catalog (``saveAsTable``; ``path``
    makes it an external table), because bucket metadata lives in the
    catalog, not in parquet itself — plain ``.parquet(path)`` cannot
    express it.  Read back with ``spark.table(table)``.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("compression", compression)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
