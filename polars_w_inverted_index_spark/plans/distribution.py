"""Plan-shape probes the engine's operators share.

- :func:`ensure_parallelism` fans a small file scan out to the cluster's
  parallelism in front of CPU-heavy per-row work, and is a no-op
  whenever the scan already supplies that many partitions (any input at
  scale).
- :func:`plan_size_bytes` is the optimizer's size estimate of a frame,
  read from plan metadata without running a job.

Runtime re-planning (partition coalescing, join conversion, skew
splits) is left to AQE, which the session enables (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# Logical nodes a fan-out may sit on: a file scan under projections and
# filters.  Over anything else (an aggregate, join, sort, window or
# repartition) the frame arrives distributed by its own shuffle, and the
# leaf-scan bytes say nothing about its partition count.
_BARE_SCAN_NODES = frozenset({"Relation", "Project", "Filter"})

# Compressed text inputs Hadoop cannot split: each file is read whole by
# one task, so a scan yields at most one partition per file.
_NON_SPLITTABLE = (".gz", ".deflate", ".lz4", ".snappy", ".zst")


def _is_bare_scan(df: DataFrame) -> bool:
    """True when the optimized plan is only scan/project/filter nodes."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return all(
        line.lstrip(" :+-|").split(" ", 1)[0] in _BARE_SCAN_NODES
        for line in plan.splitlines()
        if line.strip()
    )


def ensure_parallelism(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Fan a compute-heavy FILE-SCAN-BACKED input out to at least the
    cluster's parallelism.

    Byte-based planning undersizes CPU-bound stages: a small single-file
    scan arrives as ONE partition, so per-row-expensive work (hashing every
    n-gram, 64-dim cosines) serializes onto one core no matter how many the
    cluster has.  A round-robin repartition costs one tiny shuffle and buys
    full fan-out.  No-op when the scan would already supply ≥ target
    partitions — the 100 TB case — so this never adds a shuffle at scale.
    Use AFTER filters (so pushdown still reaches the scan) and only in
    front of genuinely expensive per-row work.

    The decision is METADATA-ONLY: expected scan partitions are
    estimated from the relation's file bytes (+ the per-file open cost,
    Spark's own split arithmetic) against
    ``spark.sql.files.maxPartitionBytes``.  A ``df.rdd.getNumPartitions()``
    probe would force physical planning of every frame on the driver
    (~77 ms per call site, measured) and, with AQE on, EXECUTE upstream
    shuffle stages eagerly for frames with shuffle lineage.  Contract:
    only a bare file scan (scan, project and filter nodes) fans out —
    literal, post-shuffle and stream-micro-batch frames pass through
    unchanged (parallelize and shuffle outputs already arrive
    cluster-wide; a memory-stream micro-batch may be one partition and
    is still passed through).
    Non-splittable inputs (``.gz`` and other compressed text) cap the
    estimate at one partition per file.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if not files or not _is_bare_scan(df):
            return df  # not a bare scan: already parallel by source
        split_conf = getattr(spark, "_pwis_split_conf", None)
        if split_conf is None:
            conf = spark._jsparkSession.sessionState().conf()
            split_conf = (
                int(conf.filesMaxPartitionBytes()),
                int(conf.filesOpenCostInBytes()),
            )
            spark._pwis_split_conf = split_conf
        max_pb, open_cost = split_conf
        size = plan_size_bytes(df)
        if size >= (1 << 62):  # stats unknown: fail closed, no shuffle
            return df
        est_partitions = (size + open_cost * len(files)) / max(max_pb, 1)
        if any(f.endswith(_NON_SPLITTABLE) for f in files):
            est_partitions = min(est_partitions, len(files))
        if est_partitions >= target:
            return df
    except Exception:
        return df  # probe failure must never add a shuffle
    return df.repartition(target)


def plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate (metadata only — file sizes for scans,
    exact for local relations; no job runs)."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size if isinstance(size, int) else int(size.toString())
