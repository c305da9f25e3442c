"""Session-wide configuration: the default driver heap follows the host,
the in-process ``file:`` FileSystem is bound only on a JVM that can load
it, no engine operation rewrites the session's planner conf while it
runs, and nothing in the package sets Spark's parallel-listing
threshold.  None of the tests starts Spark."""

from __future__ import annotations

import ast
import os
import zipfile

import pytest

import polars_w_inverted_index_spark
from polars_w_inverted_index_spark.plans.catalyst_ext import DEFAULT_JAR
from polars_w_inverted_index_spark.session import (
    CLASSPATH_KEY,
    DRIVER_MEM_CEILING_MB,
    FS_IMPL_KEY,
    NIO_FS_CLASS,
    default_driver_memory,
    session_conf,
)

PKG = os.path.dirname(polars_w_inverted_index_spark.__file__)

# Planner conf is the session's to set (session.py); an operation that
# flips it mid-run changes the plans of every concurrent query too.
PLANNER_KEYS = ("spark.sql.adaptive.", "spark.sql.shuffle.partitions")
# The session factory owns planner conf and the scan helpers size
# splits.  The span-scrub commit's tiny-input gate is the one operation
# that turns AQE off, kept because it won its A/B in both run orders
# (streaming/span_scrub.py).
ALLOWED = {
    ("session.py", None),
    ("sources/parquet.py", "low_memory_scans"),
    ("sources/parquet.py", "scan_parquet"),
    ("streaming/span_scrub.py", "_static_plan_when_tiny"),
}
# Spark lists a read's paths with a job of its own past this threshold
# (default 32).  The engine keeps its streaming reads under it instead
# of raising it for every query of the session, so no scope may set it,
# the session factory included.
LISTING_KEYS = ("spark.sql.sources.parallelPartitionDiscovery.",)


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    return str(p)


@pytest.mark.parametrize(
    "total_gb, want",
    [
        (15, f"{15 * 1024 // 2}m"),  # half the host
        (96, f"{DRIVER_MEM_CEILING_MB}m"),  # exactly the ceiling
        (512, f"{DRIVER_MEM_CEILING_MB}m"),  # capped
        (1, "1024m"),  # floor
    ],
)
def test_default_driver_memory_is_half_the_host(tmp_path, total_gb, want):
    path = _meminfo(tmp_path, total_gb * 1024 * 1024)
    assert default_driver_memory(path) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == (
        f"{DRIVER_MEM_CEILING_MB}m"
    )
    garbled = tmp_path / "garbled"
    garbled.write_text("MemFree: 12 kB\n")
    assert default_driver_memory(str(garbled)) == f"{DRIVER_MEM_CEILING_MB}m"


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_master_binds_the_nio_file_system(master):
    conf = session_conf(master)
    assert conf[FS_IMPL_KEY] == NIO_FS_CLASS
    assert conf[CLASSPATH_KEY] == DEFAULT_JAR


def test_callers_classpath_is_kept():
    mine = os.pathsep.join(["/opt/a.jar", "/opt/b.jar"])
    conf = session_conf("local[2]", extra_conf={CLASSPATH_KEY: mine})
    assert conf[CLASSPATH_KEY] == os.pathsep.join([mine, DEFAULT_JAR])
    # a caller that already names the jar (bench.py) gets it once
    conf = session_conf("local[2]", extra_conf={CLASSPATH_KEY: DEFAULT_JAR})
    assert conf[CLASSPATH_KEY] == DEFAULT_JAR


def test_running_jvm_with_the_class_binds_it():
    asked = []
    conf = session_conf(
        "local[2]", running_jvm_loads=lambda n: asked.append(n) or True
    )
    assert asked == [NIO_FS_CLASS]
    assert conf[FS_IMPL_KEY] == NIO_FS_CLASS


@pytest.mark.parametrize(
    "master, loads",
    [
        ("spark://host:7077", None),  # executors lack the jar
        ("yarn", None),
        ("local-cluster[2,1,1024]", None),  # executors are other JVMs
        ("local[2]", lambda name: False),  # running JVM without the jar
    ],
)
def test_no_key_where_the_class_may_not_load(master, loads):
    mine = {CLASSPATH_KEY: "/opt/a.jar"}
    conf = session_conf(master, extra_conf=mine, running_jvm_loads=loads)
    assert FS_IMPL_KEY not in conf
    assert conf[CLASSPATH_KEY] == "/opt/a.jar"
    assert CLASSPATH_KEY not in session_conf(master, running_jvm_loads=loads)


def test_committed_jar_holds_every_source_class():
    """``jvm/build.sh`` compiles every ``src/**/*.java``; a source added
    without rebuilding the committed jar fails here."""
    src = os.path.join(os.path.dirname(DEFAULT_JAR), "src")
    sources = {
        os.path.relpath(os.path.join(d, f), src)[: -len(".java")]
        for d, _dn, fs in os.walk(src)
        for f in fs
        if f.endswith(".java")
    }
    with zipfile.ZipFile(DEFAULT_JAR) as jar:
        classes = {n[: -len(".class")] for n in jar.namelist()
                   if n.endswith(".class")}
    assert NIO_FS_CLASS.replace(".", "/") in sources
    assert sources <= classes, sources - classes


def conf_writes(source: str) -> list[tuple[int, str | None, str | None]]:
    """``(line, enclosing function, key)`` for every ``<x>.conf.set`` or
    ``<x>.conf.unset`` call in ``source``.  A key held in a variable is
    resolved through string assignments in the enclosing function or at
    module level; ``None`` means it could not be resolved."""
    tree = ast.parse(source)
    module_consts = _string_assignments(tree.body)
    out = []

    def visit(node, func, consts):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = dict(consts)
                scope.update(_string_assignments(ast.walk(child)))
                visit(child, func or child.name, scope)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                out.append((child.lineno, func, _key(child, consts)))
            visit(child, func, consts)

    visit(tree, None, module_consts)
    return out


def _string_assignments(nodes) -> dict[str, str]:
    return {
        t.id: n.value.value
        for n in nodes
        if isinstance(n, ast.Assign)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
        for t in n.targets
        if isinstance(t, ast.Name)
    }


def _key(call: ast.Call, consts: dict[str, str]) -> str | None:
    if not call.args:
        return None
    arg = call.args[0]
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value
    if isinstance(arg, ast.Name):
        return consts.get(arg.id)
    return None


def planner_conf_flips(rel: str, source: str) -> list[str]:
    """Conf writes in module ``rel`` that set a planner key, or a key
    the scan cannot resolve, outside the allowed scopes."""
    return [
        f"{rel}:{line} {func} sets {key!r}"
        for line, func, key in conf_writes(source)
        if (key is not None and key.startswith(LISTING_KEYS))
        or (
            (rel, None) not in ALLOWED
            and (rel, func) not in ALLOWED
            and (key is None or key.startswith(PLANNER_KEYS))
        )
    ]


def listing_key_constants(source: str) -> list[int]:
    """Lines of string constants naming a parallel-listing key — the
    builder's ``.config(...)`` and conf dicts write a key without a
    ``conf.set`` call."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(LISTING_KEYS)
    ]


def test_no_package_operation_flips_planner_conf():
    flips, scanned = [], 0
    for dirpath, _dn, filenames in os.walk(PKG):
        for fn in filenames:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path) as f:
                    flips += planner_conf_flips(rel, f.read())
                scanned += 1
    assert scanned > 50
    assert not flips, flips


def test_no_package_code_names_the_listing_threshold():
    found = []
    for dirpath, _dn, filenames in os.walk(PKG):
        for fn in filenames:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    found += [
                        f"{path}:{line}"
                        for line in listing_key_constants(f.read())
                    ]
    assert not found, found


def test_scanner_flags_a_conf_flip():
    src = '''
KEY = "spark.sql.shuffle.partitions"

def gate(spark):
    key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "false")
    spark.conf.set(KEY, "2")
    df.sparkSession.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set(pick(), "x")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")

def low_memory_scans(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
'''
    flips = planner_conf_flips("operators/x.py", src)
    assert [f.split(" sets ")[1] for f in flips] == [
        "'spark.sql.adaptive.enabled'",
        "'spark.sql.shuffle.partitions'",
        "'spark.sql.adaptive.coalescePartitions.enabled'",
        "None",
        "'spark.sql.adaptive.enabled'",
    ]
    assert [f.split()[1] for f in flips] == ["gate"] * 4 + [
        "low_memory_scans"
    ]
    # the allowed scopes are exempt: all of session.py, one function here
    assert planner_conf_flips("session.py", src) == []
    assert len(planner_conf_flips("sources/parquet.py", src)) == 4
    # ... but not from the listing threshold, in any form
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    listing = f'''
def factory(builder, spark):
    spark.conf.set("{key}", "64")
    return builder.config("{key}", "64")
'''
    assert planner_conf_flips("session.py", listing) == [
        f"session.py:3 factory sets {key!r}"
    ]
    assert listing_key_constants(listing) == [3, 4]
