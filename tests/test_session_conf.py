"""Session-wide configuration: the default driver heap follows the host,
and no engine operation rewrites the session's planner conf while it
runs.  Neither test starts Spark."""

from __future__ import annotations

import ast
import os

import pytest

import polars_w_inverted_index_spark
from polars_w_inverted_index_spark.session import (
    DRIVER_MEM_CEILING_MB,
    default_driver_memory,
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
        if (rel, None) not in ALLOWED
        and (rel, func) not in ALLOWED
        and (key is None or key.startswith(PLANNER_KEYS))
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
