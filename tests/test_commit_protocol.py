"""One commit protocol (``streaming/_commit``) across the five streaming
operators: near-dedup, span-scrub, LSM index maintenance, IVF ingest
and drift.

Each operator runs batch 0, batch 1, a replay of batch 1 and batch id
0.  The replay is a no-op: the marker (the IVF ingest's manifest) is
byte-identical, no file or directory appears or disappears, and the
operator returns its no-op value.  Batch id 0, now behind the
committed one, raises ValueError and writes nothing either.

The module also pins that the shared marker reader refuses a marker
form no writer produces, and that ``functions/atomic_json.py`` is the
only place in the package that swaps a file into view with
``os.replace`` or reads or writes one with ``json.load``/``json.dump``.
"""

from __future__ import annotations

import ast
import json
import os

import pytest

import polars_w_inverted_index_spark

PKG = os.path.dirname(polars_w_inverted_index_spark.__file__)

_DOCS = "doc_id long, text string, grp string"


def _docs(spark, first: int):
    """Six documents with words no other document shares, so no
    operator rejects or scrubs a row of a later batch."""
    return spark.createDataFrame(
        [
            (d, " ".join(f"w{d}x{j}" for j in range(8)), f"g{d % 3}")
            for d in range(first, first + 6)
        ],
        _DOCS,
    )


def _vectors(spark, first: int, n: int):
    return spark.createDataFrame(
        [
            (v, [float((v * 7 + j) % 5) + 0.1 * j for j in range(8)])
            for v in range(first, first + n)
        ],
        "vec_id long, embedding array<float>",
    )


class _NearDedup:
    marker = "_LATEST"

    def setup(self, spark, root):
        pass

    def batch(self, spark, root, n, batch_id):
        from polars_w_inverted_index_spark.streaming import near_dedup_batch

        return near_dedup_batch(_docs(spark, 10 * n), root, batch_id=batch_id)

    def is_noop(self, out):
        return out.count() == 0


class _SpanScrub(_NearDedup):
    def batch(self, spark, root, n, batch_id):
        from polars_w_inverted_index_spark.streaming import span_scrub_batch

        return span_scrub_batch(
            _docs(spark, 10 * n), root, k=4, batch_id=batch_id
        )


class _IndexMaintenance(_NearDedup):
    def batch(self, spark, root, n, batch_id):
        from polars_w_inverted_index_spark.streaming import (
            merge_postings_batch,
        )

        return merge_postings_batch(
            _docs(spark, 10 * n), "grp", root, batch_id=batch_id,
            max_postings_per_row=4,
        )

    def is_noop(self, out):
        return out is None


class _Drift(_NearDedup):
    def batch(self, spark, root, n, batch_id):
        from polars_w_inverted_index_spark.functions.text import unigram_lm
        from polars_w_inverted_index_spark.streaming import (
            drift_monitor_batch,
        )

        ref_lm = unigram_lm(_docs(spark, 100))
        return drift_monitor_batch(
            _docs(spark, 10 * n), root, ref_lm, batch_id=batch_id
        )

    def is_noop(self, out):
        return out is None


class _AnnIngest:
    marker = "_cells_manifest.json"

    def setup(self, spark, root):
        from polars_w_inverted_index_spark.operators.ann_index import (
            build_ann_index,
        )

        build_ann_index(_vectors(spark, 0, 40), root, n_centroids=2, n_iters=0)

    def batch(self, spark, root, n, batch_id):
        from polars_w_inverted_index_spark.streaming import ann_ingest_batch

        return ann_ingest_batch(
            _vectors(spark, 1000 * (n + 1), 12), root, batch_id=batch_id
        )

    def is_noop(self, out):
        return out == 0


def _tree(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


@pytest.mark.parametrize(
    "op",
    [_NearDedup(), _SpanScrub(), _IndexMaintenance(), _AnnIngest(), _Drift()],
    ids=["near_dedup", "span_scrub", "index_maintenance", "ann_ingest",
         "drift"],
)
def test_replay_is_a_noop_and_a_behind_batch_raises(spark, tmp_path, op):
    root = str(tmp_path / "state")
    op.setup(spark, root)
    marker = os.path.join(root, op.marker)
    for n in (0, 1):
        op.batch(spark, root, n, batch_id=n)
        with open(marker) as f:
            assert json.load(f)["batch_id"] == n
    with open(marker, "rb") as f:
        committed = f.read()
    tree = _tree(root)

    assert op.is_noop(op.batch(spark, root, 1, batch_id=1))
    with open(marker, "rb") as f:
        assert f.read() == committed
    assert _tree(root) == tree

    with pytest.raises(ValueError, match="behind committed"):
        op.batch(spark, root, 0, batch_id=0)
    with open(marker, "rb") as f:
        assert f.read() == committed
    assert _tree(root) == tree


def test_marker_without_dirs_is_refused(spark, tmp_path):
    """Drift's old ``{v, dir, batch_id}`` marker names no ``dirs``:
    reading on would restart drift from an empty LM, so the shared
    reader refuses it and asks for a fresh state_path."""
    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.streaming import drift_monitor_batch

    state = tmp_path / "drift_state"
    state.mkdir()
    (state / "_LATEST").write_text(
        json.dumps({"v": 0, "dir": "v=0", "batch_id": 0})
    )
    docs = _docs(spark, 0)
    with pytest.raises(ValueError, match="use a fresh state_path"):
        drift_monitor_batch(docs, str(state), unigram_lm(docs), batch_id=1)


def os_replace_calls(source: str) -> list[int]:
    """Lines of ``source`` that call ``os.replace``/``os.rename`` or
    import either from ``os``."""
    swaps = ("replace", "rename")
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if (
            isinstance(node, ast.Attribute)
            and node.attr in swaps
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )
        or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in swaps for a in node.names)
        )
    )


def _scan_package(scanner) -> dict[str, list[int]]:
    """``{module path: the lines scanner flags}`` over the package."""
    found, scanned = {}, 0
    for dirpath, _dn, filenames in os.walk(PKG):
        for fn in filenames:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path) as f:
                    lines = scanner(f.read())
                if lines:
                    found[rel] = lines
                scanned += 1
    assert scanned > 50
    return found


def test_only_atomic_json_swaps_files():
    """``os.replace``, ``json.load`` and ``json.dump`` appear only in
    ``functions/atomic_json.py``: every state file is written through
    its atomic swap and read through ``read_json``, which names a torn
    file."""
    found = _scan_package(os_replace_calls)
    assert list(found) == ["functions/atomic_json.py"], found
    assert len(found["functions/atomic_json.py"]) == 1
    found = _scan_package(json_file_calls)
    assert list(found) == ["functions/atomic_json.py"], found


def json_file_calls(source: str) -> list[int]:
    """Lines of ``source`` that name ``json.load``/``json.dump`` or
    import either from ``json``."""
    names = ("load", "dump")
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if (
            isinstance(node, ast.Attribute)
            and node.attr in names
            and isinstance(node.value, ast.Name)
            and node.value.id == "json"
        )
        or (
            isinstance(node, ast.ImportFrom)
            and node.module == "json"
            and any(a.name in names for a in node.names)
        )
    )


def test_json_scanner_flags_raw_reads_and_writes():
    src = '''
import json
from json import dump as _d

def state(path):
    with open(path) as f:
        m = json.load(f)
    json.dumps(m)
    json.loads("{}")
    return m
'''
    assert json_file_calls(src) == [3, 7]


def test_scanner_flags_a_private_swap():
    src = '''
import os
from os import replace as _swap

def commit(path, marker):
    tmp = path + ".tmp"
    os.replace(tmp, path)
    os.rename(tmp, path)
    "os.replace(tmp, path)"
    shutil.move(tmp, path)
'''
    assert os_replace_calls(src) == [3, 7, 8]
