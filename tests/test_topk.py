"""The shared cosine top-k serve (functions/topk.py).

- the worker-side local top-k, on numpy inputs without Spark: NaN
  first, ties by id, no self match, dead rows never emitted, the ``k``
  cut, empty blocks;
- an AST scan keeping the serve's NaN-first ``lexsort``, its bounded
  query collect and its rank window inside functions/topk.py;
- the output schema of the four serves for an ``int`` query-id column:
  the corpus serves answer ``long``, the index serves the query
  column's own type, empty or not.
"""

from __future__ import annotations

import ast
import math
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import polars_w_inverted_index_spark
from polars_w_inverted_index_spark.functions.topk import (
    cosine_block,
    local_topk,
)

PKG = os.path.dirname(polars_w_inverted_index_spark.__file__)

_SCHEMA = pa.schema(
    [
        ("query_id", pa.int64()),
        ("neighbor_id", pa.int64()),
        ("cos_sim", pa.float64()),
    ]
)


def _rows(blocks, k):
    out = list(local_topk(blocks, k, _SCHEMA))
    assert len(out) <= 1
    return [
        (q, n, "nan" if math.isnan(s) else s)
        for b in out
        for q, n, s in zip(*(b.column(i).to_pylist() for i in range(3)))
    ]


def test_local_topk_orders_nan_first_then_score_then_id():
    nan = float("nan")
    c_ids = np.array([5, 3, 7, 1, 9, 4], dtype=np.int64)
    live = np.array([True, True, True, True, True, False])
    sims = np.array(
        [
            [0.5, -0.1],
            [0.99, 0.3],  # row 3 is query 3 itself
            [nan, 0.3],
            [0.5, nan],
            [0.2, nan],
            [1.0, 0.9],  # row 4 is dead: never emitted
        ]
    )
    q_ids = np.array([3, 100], dtype=np.int64)
    assert _rows([(sims, c_ids, live, q_ids)], k=3) == [
        (3, 7, "nan"),
        (3, 1, 0.5),
        (3, 5, 0.5),
        (100, 1, "nan"),
        (100, 9, "nan"),
        (100, 3, 0.3),
    ]
    # k larger than the live rows keeps every emittable row
    assert len(_rows([(sims, c_ids, live, q_ids)], k=10)) == 4 + 5


def test_local_topk_joins_blocks_and_skips_empty_ones():
    ids = np.array([1, 2], dtype=np.int64)
    both = np.array([True, True])
    a = (np.array([[0.1], [0.2]]), ids, both, [10])
    b = (np.array([[0.7, 0.6]]), ids[:1], both[:1], [11, 12])
    empty = (np.empty((0, 1)), ids[:0], both[:0], [13])
    dead = (np.array([[0.9]]), ids[:1], np.array([False]), [14])
    assert _rows([a, empty, b, dead], k=1) == [
        (10, 2, 0.2),
        (11, 1, 0.7),
        (12, 1, 0.6),
    ]
    assert _rows([], k=1) == []
    assert _rows([empty, dead], k=1) == []


def test_cosine_block_zero_branch_keeps_nan_norms():
    # row 1 has a NaN element: NaN dots and a NaN norm, which passes
    # Spark's `> 0` guard and scores NaN
    dots = np.array([[2.0, 1.0, 3.0], [np.nan, np.nan, np.nan]])
    c_norm = np.array([2.0, np.nan])
    q_norm = np.array([1.0, 0.0, 2.0])
    sims = cosine_block(
        dots, c_norm, q_norm, np.array([False, False]),
        np.array([False, True, False]),
    )
    assert sims[0].tolist() == [1.0, 0.0, 0.75]
    assert math.isnan(sims[1, 0]) and sims[1, 1] == 0.0
    assert math.isnan(sims[1, 2])
    row_zero = cosine_block(
        dots, c_norm, q_norm, np.array([False, True]),
        np.array([False, False, False]),
    )
    assert row_zero[1].tolist() == [0.0, 0.0, 0.0]


def topk_sites(source: str) -> list[tuple[str, str]]:
    """``(kind, top-level function)`` for every ``lexsort`` call, every
    ``.limit(max_query_rows + 1)`` and every ``F.col("neighbor_id")
    .asc()`` rank key in ``source``."""
    tree = ast.parse(source)
    sites = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            top = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            inner = child.name if top and fn is None else fn
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                arg = child.args[0] if child.args else None
                if name == "lexsort":
                    sites.append(("lexsort", fn))
                elif (
                    name == "limit"
                    and isinstance(arg, ast.BinOp)
                    and isinstance(arg.left, ast.Name)
                    and arg.left.id == "max_query_rows"
                ):
                    sites.append(("query_collect", fn))
                elif (
                    name == "asc"
                    and isinstance(f, ast.Attribute)
                    and isinstance(f.value, ast.Call)
                    and any(
                        getattr(a, "value", None) == "neighbor_id"
                        for a in f.value.args
                    )
                ):
                    sites.append(("rank_window", fn))
            visit(child, inner)

    visit(tree, None)
    return sites


def test_scanner_flags_copies_of_the_serve():
    src = '''
def serve(queries, max_query_rows):
    rows = queries.limit(max_query_rows + 1).collect()
    top = np.lexsort((ids, -vals, ~nan_v))[:k]
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())

def other(df):
    df.limit(10)
    sorted(ids)
    F.col("vec_id").asc()
'''
    assert topk_sites(src) == [
        ("query_collect", "serve"),
        ("lexsort", "serve"),
        ("rank_window", "serve"),
    ]


def test_one_topk_serve_in_the_package():
    """The bounded query collect, the local top-k's NaN-first lexsort
    and the rank window each exist once, in functions/topk.py.  The one
    other lexsort ranks centroids per row for the IVF cell assign (its
    NULL-last tier has no serve counterpart)."""
    found, scanned = {}, 0
    for dirpath, _dn, filenames in os.walk(PKG):
        for fn in filenames:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path) as f:
                    for kind, func in topk_sites(f.read()):
                        found.setdefault(kind, []).append((rel, func))
                scanned += 1
    assert scanned > 50
    found = {kind: sorted(sites) for kind, sites in found.items()}
    assert found == {
        "query_collect": [("functions/topk.py", "collect_queries")],
        "lexsort": [
            ("functions/topk.py", "local_topk"),
            ("operators/similarity.py", "_ivf_assign_gemm"),
        ],
        "rank_window": [("functions/topk.py", "rank_topk")],
    }, found


def test_serves_import_no_private_of_ann_index():
    for mod in ("similarity", "pq", "dedup"):
        with open(os.path.join(PKG, "operators", f"{mod}.py")) as f:
            tree = ast.parse(f.read())
        bad = [
            a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            and (n.module or "").endswith("ann_index")
            for a in n.names
            if a.name.startswith("_")
        ]
        assert bad == [], (mod, bad)


@pytest.mark.parametrize("empty", [False, True])
def test_query_id_type_follows_the_callers_ddl(spark, sf_dir, tmp_path, empty):
    """With an ``int`` query-id column, the corpus serves answer
    ``query_id long`` and the index serves keep ``int``, whether the
    query set is empty or not."""
    from polars_w_inverted_index_spark.operators import pq as PQ
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search,
        ann_search_pq,
        build_ann_index,
        pq_augment_ann_index,
    )
    from polars_w_inverted_index_spark.operators.similarity import (
        brute_force_topk_gemm,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).where(F.col("vec_id") < 120)
    root = str(tmp_path / "idx")
    build_ann_index(emb, root, n_centroids=2, n_iters=0)
    pq_augment_ann_index(spark, root, m_subspaces=4, n_codes=8)
    cb = PQ.pq_train(emb, m_subspaces=4, n_codes=8, n_iters=1)
    q = emb.where(
        F.col("vec_id") < (0 if empty else 3)
    ).select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    outs = {
        "brute_force_topk_gemm": brute_force_topk_gemm(emb, q, k=2),
        "pq_topk": PQ.pq_topk(PQ.pq_encode(emb, cb), q, cb, k=2),
        "ann_search": ann_search(spark, root, q, k=2, nprobe=2),
        "ann_search_pq": ann_search_pq(spark, root, q, k=2, nprobe=2),
    }
    got = {
        name: (
            [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            df.count(),
        )
        for name, df in outs.items()
    }
    rows = 0 if empty else 6
    for name, qtype in (
        ("brute_force_topk_gemm", "bigint"),
        ("pq_topk", "bigint"),
        ("ann_search", "int"),
        ("ann_search_pq", "int"),
    ):
        assert got[name] == (
            [
                ("query_id", qtype),
                ("neighbor_id", "bigint"),
                ("cos_sim", "double"),
                ("rank", "int"),
            ],
            rows,
        ), name
