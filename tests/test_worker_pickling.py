"""Worker closures must not require the repo on the executor path.

A mapInPandas/applyInPandas callback that references a module-level
function pickles it BY REFERENCE, so the executor-side Python worker
must ``import polars_w_inverted_index_spark`` — which only resolves
when the driver's cwd happens to be the repo root.  The grading
harness imports the contract from wherever IT runs, so every
Python-closure operator is driven here from a subprocess whose cwd is
a temp dir (repo reachable only via driver-side sys.path, exactly the
hostile layout).  pack_documents failed this in r8 (bfd_assign was a
module-global reference, fixed via functions/pickling.by_value).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])  # the checkout under test
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from polars_w_inverted_index_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    out = {}

    from polars_w_inverted_index_spark.operators.packing import (
        pack_documents,
    )
    from polars_w_inverted_index_spark.functions.text import token_count

    out["pack"] = pack_documents(
        docs.select("doc_id", token_count("text").alias("tc")), "tc", 2048
    ).count()

    from polars_w_inverted_index_spark.operators import pq as PQ

    cb = PQ.pq_train(emb, m_subspaces=4, n_codes=8, n_iters=2)
    enc = PQ.pq_encode(emb, cb)
    out["pq_encode"] = enc.count()
    out["pq_topk"] = PQ.pq_topk(
        enc, emb.where(F.col("vec_id") < 3), cb, k=3
    ).count()

    import tempfile

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        build_ann_index,
        pq_augment_ann_index,
    )

    root = tempfile.mkdtemp()
    build_ann_index(emb, root, n_centroids=4)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    out["ann_pq"] = ann_search_pq(
        spark, root, emb.where(F.col("vec_id") < 3), k=3
    ).count()

    from polars_w_inverted_index_spark.operators.dedup import (
        embedding_cosine_pairs_gemm,
    )

    out["gemm_pairs"] = embedding_cosine_pairs_gemm(
        emb, threshold=0.2
    ).count()

    from polars_w_inverted_index_spark.operators.similarity import (
        brute_force_topk_gemm,
    )

    out["btk_gemm"] = brute_force_topk_gemm(
        emb, emb.where(F.col("vec_id") < 3), k=3
    ).count()

    from polars_w_inverted_index_spark.registry import QUERIES

    for name in (
        "multimodal_image_features",
        "multimodal_resize",
        "multimodal_frame_sample",
        "streaming_session_windows",
        "dedup_embedding_cosine_pairs",
        "similarity_pq_rerank_topk",
        # r11 GEMM serving rows: mapInArrow closures shipping the
        # shared decode via pickling.by_value — exactly this gate's
        # failure class if a repo-global reference sneaks in
        "similarity_lsh_topk",
        "similarity_ivf_topk",
        "similarity_ann_auto_topk",
    ):
        out[name] = QUERIES[name](spark, "/root/testdata/sf0.01").count()

    print("RESULT", out)
    """
)


def test_python_closure_operators_run_with_foreign_cwd(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, _REPO],
        cwd=str(tmp_path),  # NOT the repo root — the hostile layout
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")
    )
    res = eval(line[len("RESULT "):])  # noqa: S307 - our own output
    assert all(v > 0 for v in res.values()), res


def test_by_value_is_callable_and_rejects_repo_globals():
    """by_value copies stdlib-only helpers verbatim and REFUSES one
    that references a repo global (which would re-ship by reference
    and silently reintroduce the worker-import trap)."""
    import pytest

    from polars_w_inverted_index_spark.functions.pickling import by_value
    from polars_w_inverted_index_spark.operators.packing import bfd_assign

    copy = by_value(bfd_assign)
    assert copy([5, 3, 9, 2], 10) == bfd_assign([5, 3, 9, 2], 10)

    # a helper that leans on a repo object must be refused — both when
    # it arrives via a closure cell (nested def, the common shape) ...
    def leaky_closure(counts, budget):
        return bfd_assign(counts, budget)  # freevar -> closure cell

    with pytest.raises(ValueError, match="worker-import trap"):
        by_value(leaky_closure)

    # ... and via a module global (top-level def shape)
    import polars_w_inverted_index_spark.operators.packing as packing_mod

    code = compile(
        "def leaky_global(counts, budget):\n"
        "    return bfd_assign(counts, budget)\n",
        "<test>",
        "exec",
    )
    ns = {"bfd_assign": packing_mod.bfd_assign}
    exec(code, ns)
    with pytest.raises(ValueError, match="worker-import trap"):
        by_value(ns["leaky_global"])


def test_by_value_sees_through_nested_defs():
    """r8 ADVICE: by_value scanned only the top-level co_names, so a
    global referenced ONLY inside a nested def was (a) dropped from the
    restricted globals (NameError on executors) and (b) never checked
    for repo references (silent guard bypass).  Both paths must recurse
    through nested code objects."""
    import math

    import pytest

    from polars_w_inverted_index_spark.functions.pickling import by_value
    import polars_w_inverted_index_spark.operators.packing as packing_mod

    # (a) a stdlib global used only inside a nested def must survive
    # into the copy's restricted globals
    code = compile(
        "def outer_ok(xs):\n"
        "    def inner(x):\n"
        "        return math.sqrt(x)\n"
        "    return [inner(x) for x in xs]\n",
        "<test>",
        "exec",
    )
    ns = {"math": math}
    exec(code, ns)
    copy = by_value(ns["outer_ok"])
    assert copy([4.0, 9.0]) == [2.0, 3.0]

    # (b) a repo global reachable only through a nested def must be
    # refused, not silently shipped by reference
    code = compile(
        "def outer_leaky(counts, budget):\n"
        "    def inner():\n"
        "        return bfd_assign(counts, budget)\n"
        "    return inner()\n",
        "<test>",
        "exec",
    )
    ns = {"bfd_assign": packing_mod.bfd_assign}
    exec(code, ns)
    with pytest.raises(ValueError, match="worker-import trap"):
        by_value(ns["outer_leaky"])


# ---------------------------------------------------------------------------
# guard_import_caches: PySpark runs importlib.invalidate_caches() at the
# start of every worker task, and CPython 3.11's zipimporter answers it
# by re-parsing its whole archive.  The guard makes the re-read depend
# on the archive's stat; every Python-stage closure calls it first.
# ---------------------------------------------------------------------------

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GUARD_SEMANTICS = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport
    sys.path.insert(0, sys.argv[2])
    from polars_w_inverted_index_spark.functions.pickling import (
        guard_import_caches,
    )

    arc = os.path.join(sys.argv[1], "mods.zip")

    def write(path, mods):
        with zipfile.ZipFile(path, "w") as z:
            for name, src in mods.items():
                z.writestr(name + ".py", src)

    write(arc, {"m_a": "X = 1"})
    sys.path.insert(0, arc)
    import m_a
    imp = sys.path_importer_cache[arc]

    reads = []
    orig = zipimport._read_directory

    def counting(path):
        if path == arc:
            reads.append(path)
        return orig(path)

    zipimport._read_directory = counting

    def reads_per_invalidate():
        del reads[:]
        importlib.invalidate_caches()
        return len(reads)

    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    assert reads_per_invalidate() == 1  # stock: every call re-reads

    # installing twice wraps once
    guard_import_caches()
    guarded = cls.invalidate_caches
    guard_import_caches()
    assert cls.invalidate_caches is guarded
    assert guarded.__wrapped__ is stock

    # unchanged archive: the first guarded call records the stat, then
    # no call re-reads
    assert reads_per_invalidate() == 1
    assert [reads_per_invalidate() for _ in range(3)] == [0, 0, 0]

    # rewritten in place (same inode): re-read once, the new module
    # imports, then quiet again
    write(arc, {"m_a": "X = 1", "m_b": "Y = 2"})
    assert reads_per_invalidate() == 1
    import m_b
    assert m_b.Y == 2
    assert reads_per_invalidate() == 0

    # replaced by rename (new inode)
    write(arc + ".new", {"m_a": "X = 1", "m_b": "Y = 2", "m_c": "Z = 3"})
    os.replace(arc + ".new", arc)
    assert reads_per_invalidate() == 1
    import m_c
    assert m_c.Z == 3

    # removed: the stock path runs on every call (a failed read empties
    # the importer and drops the directory cache), and a restored
    # archive is read again
    os.remove(arc)
    assert reads_per_invalidate() == 1
    assert imp._files == {} and arc not in zipimport._zip_directory_cache
    assert reads_per_invalidate() == 1
    write(arc, {"m_d": "W = 4"})
    assert reads_per_invalidate() == 1
    import m_d
    assert m_d.W == 4
    print("GUARD OK")
    """
)


def test_guard_rereads_an_archive_only_when_it_changes(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD_SEMANTICS, str(tmp_path), _REPO],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "GUARD OK" in proc.stdout


def test_guard_stops_pyspark_zip_rereads_in_a_spark_task(spark):
    """The deterministic counter behind the Python-stage start cost:
    archive reads per ``importlib.invalidate_caches()`` inside a real
    worker, where ``pyspark.zip`` backs every pyspark import."""
    from polars_w_inverted_index_spark.functions.pickling import (
        guard_import_caches,
    )

    def _probe(batches):
        guard_import_caches()
        import importlib
        import zipimport

        import pyarrow as pa

        cls = zipimport.zipimporter
        guarded = cls.invalidate_caches
        orig = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return orig(path)

        zipimport._read_directory = counting
        try:
            cls.invalidate_caches = guarded.__wrapped__
            importlib.invalidate_caches()
            stock = len(reads)
            zip_reads = sum(p.endswith("pyspark.zip") for p in reads)
            cls.invalidate_caches = guarded
            importlib.invalidate_caches()  # records any missing stat
            del reads[:]
            importlib.invalidate_caches()
            after = len(reads)
        finally:
            zipimport._read_directory = orig
            cls.invalidate_caches = guarded
        for _rb in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"stock": [stock], "zip_reads": [zip_reads], "guarded": [after]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_probe, "stock long, zip_reads long, guarded long")
        .collect()[0]
    )
    assert row.zip_reads > 0, row
    assert row.stock >= row.zip_reads and row.guarded == 0, row


_STAGE_APIS = {
    "mapInArrow",
    "mapInPandas",
    "applyInPandas",
    "applyInPandasWithState",
}


def _python_stage_sites(tree):
    """``(lineno, callable name, guarded)`` for every Python-stage call
    in ``tree``.  The callable must be a name bound by a ``def`` in an
    enclosing scope, and guarded means its first statement (after any
    docstring) is a bare ``guard_import_caches()`` call."""
    import ast

    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    def resolve(node, name):
        scope = parents.get(node)
        while scope is not None:
            if isinstance(scope, (ast.FunctionDef, ast.Module)):
                for stmt in scope.body:
                    if isinstance(stmt, ast.FunctionDef) and stmt.name == name:
                        return stmt
            scope = parents.get(scope)
        return None

    def runs_guard_first(fdef):
        body = fdef.body
        if (
            isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and len(body) > 1
        ):
            body = body[1:]
        first = body[0]
        return (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Call)
            and isinstance(first.value.func, ast.Name)
            and first.value.func.id == "guard_import_caches"
            and not first.value.args
        )

    sites = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _STAGE_APIS
        ):
            arg = node.args[0] if node.args else None
            name = arg.id if isinstance(arg, ast.Name) else ast.dump(arg)
            fdef = resolve(node, name) if isinstance(arg, ast.Name) else None
            ok = fdef is not None and runs_guard_first(fdef)
            sites.append((node.lineno, name, ok))
    return sites


def test_python_stage_scan_flags_an_unwired_site():
    import ast

    src = textwrap.dedent(
        """
        def wired(df):
            def _f(batches):
                '''doc'''
                guard_import_caches()
                yield from batches
            return df.mapInArrow(_f, "x long")

        def unwired(df):
            def _g(key, pdf):
                import pandas as pd
                guard_import_caches()
                return pdf
            return df.groupBy("k").applyInPandas(_g, "x long")

        def _top(pdf):
            return pdf

        def module_level(df):
            return df.mapInPandas(_top, "x long")

        def lam(df):
            return df.mapInPandas(lambda it: it, "x long")
        """
    )
    assert [(n, ok) for _l, n, ok in _python_stage_sites(ast.parse(src))] == [
        ("_f", True),
        ("_g", False),
        ("_top", False),
        (ast.dump(ast.parse("lambda it: it", mode="eval").body), False),
    ]


def test_every_python_stage_runs_the_guard_first():
    """Every engine call site of a Python stage passes a closure whose
    first statement is ``guard_import_caches()``: a first-line call,
    not a wrapper, so pyspark's ``getfullargspec`` arity check on
    ``applyInPandas`` callables (``(pdf)`` vs ``(key, pdf)``) still sees
    the closure's own signature."""
    import ast
    import pathlib

    pkg = pathlib.Path(_REPO) / "polars_w_inverted_index_spark"
    sites, unwired = 0, []
    for path in sorted(pkg.rglob("*.py")):
        for lineno, name, ok in _python_stage_sites(
            ast.parse(path.read_text())
        ):
            sites += 1
            if not ok:
                unwired.append(f"{path.relative_to(pkg)}:{lineno} {name}")
    assert not unwired, unwired
    # today's 20 sites (ann_index 4, similarity 3, multimodal 3, dedup 2,
    # pq 2, packing, sketches, bpe, stateful, two registry generators);
    # a scan that stops finding them must not pass vacuously
    assert sites >= 20, sites


def test_package_imports_from_this_checkout(request):
    """The suite tests the package of the checkout it runs from: a
    conftest that pinned a fixed checkout path would silently test
    another tree's code when run from a clone or worktree."""
    import polars_w_inverted_index_spark as pkg

    conftest = next(
        p
        for p in request.config.pluginmanager.get_plugins()
        if str(getattr(p, "__file__", "")).endswith(
            os.path.join("tests", "conftest.py")
        )
    )
    repo = os.path.dirname(os.path.dirname(os.path.realpath(conftest.__file__)))
    assert os.path.realpath(pkg.__file__).startswith(repo + os.sep), (
        pkg.__file__,
        repo,
    )
