"""SparkSession factory with scale-tuned defaults.

The reference (``/root/reference/src/main.rs``) is a single-process Polars
binary; its only execution knobs are ``low_memory`` scans (main.rs:292) and
zstd/sorted parquet output (main.rs:697-698, 233).  On Spark the equivalent
levers are AQE, broadcast-join thresholds, runtime Bloom-filter joins (which
push join-as-filter semantics into the parquet scan, SURVEY.md §4), and
shuffle-partition sizing.  These defaults are chosen so the same code runs
on ``local[32]`` for tests and on a 1000-executor cluster unchanged: nothing
here hard-codes a data size, only ratios and feature flags.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default driver heap: half the host's memory, capped at 48 GB.  A fixed
# 48 GB default let a full test run on a 15 GB host grow until the
# kernel killed it; SPARK_GRAFT_DRIVER_MEM overrides the derivation.
DRIVER_MEM_FRACTION = 0.5
DRIVER_MEM_CEILING_MB = 48 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for this host: ``DRIVER_MEM_FRACTION`` of
    MemTotal, at most ``DRIVER_MEM_CEILING_MB`` (also the value when
    ``meminfo`` is unreadable, as on hosts without procfs)."""
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, ValueError, IndexError, StopIteration):
        return f"{DRIVER_MEM_CEILING_MB}m"
    mb = int(kb / 1024 * DRIVER_MEM_FRACTION)
    return f"{max(1024, min(mb, DRIVER_MEM_CEILING_MB))}m"


# Tuned for correctness-at-any-scale: every flag below is either a pure
# optimization (AQE, bloom filter) or a storage-layout convention (zstd).
_DEFAULTS: dict[str, str] = {
    # AQE: runtime re-planning — coalesces small shuffle partitions, switches
    # sort-merge→broadcast when runtime stats allow, splits skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing is byte-based; its default 1 MB floor collapses
    # CPU-heavy-but-byte-light shuffles (minhash/simhash/cosine stages over
    # compact rows) onto 1-2 cores.  A 64 KB floor lets parallelismFirst
    # keep such stages cluster-wide; at 100 TB partitions are far above
    # either floor, so this only affects the small-data regime.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Runtime bloom-filter join: injects the small (id-set) side's keys as a
    # filter on the big scan — the Spark-native answer to the reference's
    # join-as-filter pattern (SURVEY.md §4 "Join-as-filter → scan pruning").
    # NOTE: runtimeFilter.semiJoinReduction.enabled hangs job execution on
    # Spark 4.1 local mode (verified by bisection) — do not enable it.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Parquet: predicate pushdown + dictionary encoding are on by default;
    # make compression explicit to mirror the reference's zstd output.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Arrow for any pandas_udf path (the §7 extension operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # local-mode friendly; on a real cluster AQE re-coalesces anyway.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.ui.enabled": "false",
    # Shuffle-writer parity with cluster scale: with reduce-partition
    # counts at or below the 200-partition bypass threshold, local runs
    # take the BypassMergeSortShuffleWriter — a small-scale-only code path
    # that a 100 TB run (thousands of shuffle partitions) never executes,
    # and that acquires no tracked execution memory, so per-stage
    # peakExecutionMemory (stats.py executor metric) reads 0.  Pinning the
    # threshold to 1 makes every local shuffle use the same serialized
    # (UnsafeShuffleWriter) path a production shuffle uses, and makes the
    # executor-memory instrumentation observe the memory that path really
    # acquires.  At production partition counts this config is a no-op.
    # Measured local cost (r8, sf0.1 zorder roundtrip — the most
    # shuffle-writer-bound entry — 4 runs per fresh JVM): threshold=1
    # best 1.46 s / steady 1.5-2.0 s vs default-200 best 1.49 s /
    # steady 1.5-1.9 s — indistinguishable at noise scale, so the r7
    # ext_zorder_write +28% bench move was environment noise, not this
    # pin.  Parity is free locally; keep the pin.
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    or default_driver_memory(),
}


def get_session(
    app_name: str = "polars_w_inverted_index_spark",
    master: str | None = None,
    low_memory: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``low_memory`` mirrors the reference's ``ScanArgsParquet { low_memory }``
    flag (main.rs:292): smaller scan partitions → lower peak memory per task,
    more tasks. On Spark this is `files.maxPartitionBytes`, not a scan-code
    change.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    if low_memory:
        conf["spark.sql.files.maxPartitionBytes"] = str(32 * 1024 * 1024)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
