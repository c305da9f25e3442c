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
import re
from typing import Callable

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from .plans.catalyst_ext import DEFAULT_JAR, jar_available

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


# Hadoop's ``file:`` FileSystem sets the mode of every file and
# directory a write creates.  Pyspark ships no native Hadoop library, so
# it forks ``chmod`` for each one, on executor task threads, and starts
# a stderr-reader thread per fork.  A JFR recording of one perfbench
# ``ingest`` run (setup, warm-up and 30 timed ops; 4-core VM) counted
# 1,416 ``chmod`` process starts and 2,286 thread starts; with
# ``NioLocalFileSystem`` (jvm/), which sets the same mode bits
# in-process, 0 and 879.  Traced per-kind medians (seeds 31, 32):
# ``merge.ms`` 269/315 -> 206/206, ``compact.ms`` 454/506 -> 413/440,
# ``exec.run_ms_per_op`` 249/296 -> 211/236; ``ann.ingest_ms``
# 387/385 -> 350/454 moved within its run-to-run spread.  The class is
# bound only where it is sure to load: a local master (executors share
# the driver JVM and its classpath) on a JVM this call launches, or on a
# running one that already has the jar.  A class name the JVM cannot
# load would fail every ``file:`` access.
NIO_FS_CLASS = "org.polarsindex.NioLocalFileSystem"
FS_IMPL_KEY = "spark.hadoop.fs.file.impl"
CLASSPATH_KEY = "spark.driver.extraClassPath"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def session_conf(
    master: str,
    low_memory: bool = False,
    extra_conf: dict[str, str] | None = None,
    running_jvm_loads: Callable[[str], bool] | None = None,
) -> dict[str, str]:
    """The builder conf :func:`get_session` applies for ``master``.

    ``running_jvm_loads`` is None when no JVM gateway is running (the
    builder launches one with this conf), else a predicate telling
    whether the running JVM can load a class by name.  A caller's
    ``spark.driver.extraClassPath`` is kept, with the jar joined to it.
    """
    conf = dict(_DEFAULTS)
    if low_memory:
        conf["spark.sql.files.maxPartitionBytes"] = str(32 * 1024 * 1024)
    if extra_conf:
        conf.update(extra_conf)
    if not _LOCAL_MASTER.fullmatch(master) or not jar_available():
        return conf
    if running_jvm_loads is not None and not running_jvm_loads(NIO_FS_CLASS):
        return conf
    paths = [p for p in conf.get(CLASSPATH_KEY, "").split(os.pathsep) if p]
    if DEFAULT_JAR not in paths:
        paths.append(DEFAULT_JAR)
    conf[CLASSPATH_KEY] = os.pathsep.join(paths)
    conf.setdefault(FS_IMPL_KEY, NIO_FS_CLASS)
    return conf


def _jvm_loads(gateway, name: str) -> bool:
    try:
        gateway.jvm.java.lang.Class.forName(name)
    except Py4JError:  # a ClassNotFoundException in the JVM
        return False
    return True


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
    master = master or f"local[{cpus}]"
    gateway = SparkContext._gateway
    conf = session_conf(
        master,
        low_memory,
        extra_conf,
        None if gateway is None else (lambda name: _jvm_loads(gateway, name)),
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
