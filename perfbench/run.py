"""Seeded closed-loop benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload logs --seed 1 --seconds 7 --trace 0

One Spark session at ``local[<cores>]``; inputs generated from the seed
into a fresh temporary directory under ``.perfbench/`` (deleted at exit);
a cold, reduced-size setup that warms the JVM, then the full-size setup
(``setup_s``) warmed by untimed ops; one client
thread issuing the workload's op mix in whole cycles until ``--seconds``
have passed; every result checked against an oracle after the timed
phase.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run first repeats the untraced phase, then runs
a traced phase of the same length, and reports the difference as the
tracing overhead; its spans go to ``.perfbench/traces/``.

See README.md in this directory for the workloads and how to read a
traced run.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import uuid
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "polars_w_inverted_index_spark"
WORKLOADS = ("logs", "ingest")  # the keys of workloads.WORKLOADS

sys.path[:0] = [HERE, ROOT]

from metrics import (  # noqa: E402
    E2E_UNITS,
    MB,
    PER_LAYER_UNITS,
    TRACE_OVERHEAD,
    OpLog,
    OpRecord,
    load_benchmark,
    host_cpu_ticks,
    ratio,
    result_line,
    summarize,
    vm_hwm_mb,
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of the host's memory, between 1 and 2 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(2, total_kb // 2**20 // 4))


def start_spark(tmp: str):
    from pyspark import SparkContext

    from polars_w_inverted_index_spark.session import get_session

    n = cores()
    spark = get_session(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.driver.memory": f"{driver_memory_gb()}g",
            "spark.sql.shuffle.partitions": str(n),
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{driver_memory_gb()}g -Djava.io.tmpdir={tmp} "
                "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, SparkContext._gateway


def stop_spark(spark, gateway) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_phase(wl, seconds: float, tracer) -> tuple[OpLog, float]:
    """Closed loop, one client: whole cycles of the op mix until
    ``seconds`` have passed.  Results are checked after the clock stops."""
    import pyarrow as pa

    wl.obs.clear()
    done = []
    op_id = 0
    ticks0 = host_cpu_ticks()
    t0 = perf_counter()
    while True:
        for op in wl.cycle():
            op_id += 1
            tracer.set_op(op_id)
            start = perf_counter()
            try:
                with tracer.span(op.kind, "op"):
                    out = op.run()
                err = ""
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                out, err = None, f"{type(e).__name__}: {e}"[:300]
            done.append((op, out, perf_counter() - start, err))
        if perf_counter() - t0 >= seconds:
            break
    wall = perf_counter() - t0
    ticks = tuple(b - a for a, b in zip(ticks0, host_cpu_ticks()))
    log = OpLog(cpu_ticks=ticks)
    for op, out, latency, err in done:
        if not err:
            try:
                if not op.check(out):
                    err = "wrong result"
            except Exception as e:  # noqa: BLE001 - a raising oracle fails
                err = f"check raised {type(e).__name__}: {e}"[:300]
        table = isinstance(out, pa.Table)
        log.add(OpRecord(
            op.kind, op.family, op.read, op.path, latency, op.rows,
            ok=not err, error=err,
            result_rows=out.num_rows if table else 0,
            result_bytes=out.nbytes if table else 0,
            notes=op.notes,
        ))
    return log, wall


def layer_metrics(tracer, wl, log: OpLog, setup, e2e_traced, e2e_plain,
                  overhead_s: float) -> dict:
    from spans import span_metrics
    from workloads import layer_observations

    out = span_metrics(tracer)
    out.update(layer_observations(wl, log, setup))
    reads = [r for r in log.records if r.read]
    rows = sum(r.result_rows for r in reads)
    out["scan.records_per_result_row"] = ratio(out.pop("_input_records"), rows)
    out["collect.result_mb"] = ratio(
        sum(r.result_bytes for r in reads), len(reads)) / MB
    out["collect.rows_per_op"] = ratio(rows, len(reads))
    out["trace.self_ms_per_op"] = ratio(overhead_s, log.attempted) * 1000
    for m in TRACE_OVERHEAD:
        out[f"trace.overhead.{m}"] = e2e_traced[m] - e2e_plain[m]
    return out


def _fmt(value) -> str:
    return f"{value:.4f}" if isinstance(value, float) else str(value)


def print_metrics(title: str, values: dict, units: dict, notes=None) -> None:
    print(f"-- {title}")
    for name, unit in units.items():
        v = values.get(name)
        shown = "n/a" if v is None else _fmt(v)
        print(f"   {name:<34} {shown:>14} {unit}")
    if notes:
        print(f"   notes: {json.dumps(notes)}")


def run(args, tmp: str) -> int:
    t0 = perf_counter()
    spark, gateway = start_spark(tmp)
    session_s = perf_counter() - t0
    try:
        from spans import Tracer
        from workloads import WORKLOADS as CLASSES

        from polars_w_inverted_index_spark.plans.catalyst_ext import (
            EXTENSION_CLASS,
        )

        tracer = Tracer(spark)
        wl = CLASSES[args.workload](spark, tracer, args.seed)
        # warm the JVM's setup path on a cold, reduced-size build, then
        # discard it: the first run of a code path in a fresh JVM costs
        # several times its later runs
        t = perf_counter()
        wl.setup(os.path.join(tmp, "cold"), cold=True)
        cold_s = perf_counter() - t
        shutil.rmtree(os.path.join(tmp, "cold"))
        if args.trace:
            tracer.enable()
        t = perf_counter()
        setup = wl.setup(os.path.join(tmp, "setup"))
        setup["setup_s"] = perf_counter() - t
        tracer.disable()
        wl.prepare()
        # untimed ops on the state the timed phase uses: the JVM compiles
        # the query paths and the first reads of the new files are paid
        t = perf_counter()
        wl.warmup()
        warmup_s = perf_counter() - t

        log, wall = timed_phase(wl, args.seconds, tracer)
        e2e, notes = summarize(log, wall)
        logs = [log]
        if args.trace:
            tracer.enable()
            wl.instrument()
            overhead0 = tracer.overhead_s
            tlog, twall = timed_phase(wl, args.seconds, tracer)
            overhead_s = tracer.overhead_s - overhead0
            tracer.disable()
            wl.unpatch()
            te2e, tnotes = summarize(tlog, twall)
            logs.append(tlog)
        e2e["setup_s"] = setup["setup_s"]
        e2e.update(wl.end_metrics())
        rss = {"jvm": vm_hwm_mb(gateway.proc.pid), "python": vm_hwm_mb()}
        e2e["peak_rss_mb"] = sum(rss.values())
        env = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cores": cores(), "driver_memory": f"{driver_memory_gb()}g",
            "spark": spark.version,
            "catalyst_ext_bound": EXTENSION_CLASS
            in spark.conf.get("spark.sql.extensions", ""),
            "python": platform.python_version(),
            "session_start_s": round(session_s, 4),
            "cold_s": round(cold_s, 4),
            "warmup_s": round(warmup_s, 4),
            "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
            "setup": {k: round(v, 4) for k, v in setup.items()},
            "params": {k: v for k, v in vars(type(wl)).items()
                       if k.isupper()},
        }
        print(f"perfbench {args.workload} seed={args.seed} "
              f"seconds={args.seconds} trace={args.trace}")
        print("env " + json.dumps(env))
        print_metrics("end to end (untraced phase)", e2e, E2E_UNITS, notes)
        for rec in log.records:
            if not rec.ok:
                print(f"   failed {rec.kind}: {rec.error}")
        bench = load_benchmark()
        attempted = sum(lg.attempted for lg in logs)
        failed = sum(lg.failed for lg in logs)
        if not args.trace:
            print(result_line(attempted, failed, e2e, bench["end_to_end"]))
            return 0
        layers = layer_metrics(tracer, wl, tlog, setup, te2e, e2e,
                               overhead_s)
        print_metrics("end to end (traced phase)", te2e,
                      {k: E2E_UNITS[k] for k in te2e}, tnotes)
        print_metrics("per layer (traced phase)", layers, PER_LAYER_UNITS)
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path, {"env": env, "end_to_end": e2e,
                           "end_to_end_traced": te2e, "per_layer": layers})
        print(f"   spans: {os.path.relpath(path, ROOT)}")
        print(result_line(attempted, failed, layers, bench["per_layer"]))
        return 0
    finally:
        stop_spark(spark, gateway)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found beside {HERE}",
              file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-"
                       f"{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    # everything the run writes, Spark's scratch and the Python workers'
    # temp files included, stays under the run's directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    tempfile.tempdir = None
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
