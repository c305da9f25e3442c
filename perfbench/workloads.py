"""The benchmark's workloads: seeded inputs, the op mix, and the oracles.

A workload is driven in three steps by ``run.py``:

- ``setup(rep_dir, cold)`` builds everything the timed phase needs into a
  fresh directory and returns its timings.  A first, cold build at a
  reduced size warms the JVM and is discarded; the full-size build that
  follows is timed and used, after ``prepare()`` and the untimed
  ``warmup()`` ops on it.
- ``cycle()`` yields one whole round of the op mix as :class:`Op`
  objects.  Code between the yields runs outside every op's timer.
- each op's ``run()`` is timed; its ``check(result)`` runs after the timed
  phase ends, against an oracle computed outside Spark.

All inputs derive from the run's seed, so the same seed gives the same
tables, id sets, batches and vectors.
"""

from __future__ import annotations

import io
import json
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field
from time import perf_counter
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from polars_w_inverted_index_spark import engine as engine_mod
from polars_w_inverted_index_spark.engine import Engine
from polars_w_inverted_index_spark.operators.ann_index import (
    ann_search,
    build_ann_index,
)
from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
from polars_w_inverted_index_spark.sources.generator import generate_logs
from polars_w_inverted_index_spark.sources.parquet import write_sorted_parquet
from polars_w_inverted_index_spark.streaming.ann_ingest import ann_ingest_batch
from polars_w_inverted_index_spark.streaming.index_maintenance import (
    index_fragmentation,
    merge_postings_batch,
)

from metrics import dir_bytes, median


@dataclass
class Op:
    kind: str
    family: str
    read: bool
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    path: str = ""
    rows: int = 0
    notes: dict = field(default_factory=dict)


def _postings_map(tb: pa.Table) -> dict[str, np.ndarray]:
    """``{value: sorted doc ids}`` from a ``[value, doc_ids]`` Arrow table."""
    lists = tb.column("doc_ids").combine_chunks()
    offsets = lists.offsets.to_numpy()
    flat = lists.values.to_numpy(zero_copy_only=False)
    out = {}
    for i, v in enumerate(tb.column("value").to_pylist()):
        out[v] = np.sort(flat[offsets[i]:offsets[i + 1]])
    return out


def _same_postings(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        np.array_equal(got[k], want[k]) for k in want
    )


def _sorted_ids(tb: pa.Table, col: str = "doc_id") -> np.ndarray:
    return np.sort(tb.column(col).to_numpy())


def _close(a, b, rel: float = 1e-9) -> bool:
    return a is not None and abs(a - b) <= rel * max(1.0, abs(b))


class Workload:
    name = ""
    catalog: IndexCatalog | None = None

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.obs: dict = defaultdict(list)  # per-layer observations
        self._patched: list = []

    def traced(self, obj, attr: str, name: str, layer: str):
        """Time ``obj.attr`` as a span (patched in place until
        :meth:`unpatch`)."""
        orig = getattr(obj, attr)
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                out = orig(*args, **kwargs)
                if sp is not None:
                    sp.attrs["hit"] = out is not None
                return out

        setattr(obj, attr, wrapper)
        self._patched.append((obj, attr, orig))

    def unpatch(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched = []

    def warmup(self) -> None:
        """Untimed cycles on the setup the timed phase uses: the JVM
        compiles the query paths and the first reads of the new files are
        paid before anything is measured."""
        for _ in range(self.WARMUP_CYCLES):
            for op in self.cycle():
                op.run()

    def _read(self, kind, family, path, plan: Callable, check) -> Op:
        """A read op: build the lazy frame, then collect it with toArrow."""
        tr = self.tracer

        def run():
            with tr.span(f"plan.{kind}", "plan"):
                df = plan()
            with tr.span("toArrow", "collect"):
                return df.toArrow()

        return Op(kind, family, True, run, check, path=path)


class LogsWorkload(Workload):
    """The reference's six-query mix over a seeded logs table (base-table
    plans, no catalog), interleaved with four catalog-served lookups over
    the same table."""

    name = "logs"
    WARMUP_CYCLES = 3
    ROWS = 150_000
    COLD_ROWS = 20_000  # the discarded first build, only to warm the JVM
    IDS_PER_OP = 100
    TABLE = "logs"
    INDEXED = ["level", "source_region", "source_host", "user_id"]
    COMPOSITE = ["level", "source_region"]
    KINDS = ["fv_ids_level", "fv_ids_region", "fv_full_host",
             "ns_ids_payload", "ns_ids_login", "ns_full_clicks",
             "ix_fv_level", "ix_fv_ids_host", "ix_where_user",
             "ix_where_level_region"]

    def setup(self, rep_dir: str, cold: bool = False) -> dict:
        tr = self.tracer
        self.rows = self.COLD_ROWS if cold else self.ROWS
        table_dir = os.path.join(rep_dir, "logs")
        t0 = perf_counter()
        with tr.span("sources.write_sorted_parquet", "sources"):
            write_sorted_parquet(
                generate_logs(self.spark, self.rows, self.seed), table_dir
            )
        t1 = perf_counter()
        df = self.spark.read.parquet(table_dir)
        cat = IndexCatalog(self.spark, os.path.join(rep_dir, "catalog"))
        with tr.span("catalog.build_many", "catalog"):
            cat.build_many(df, self.TABLE, self.INDEXED)
        with tr.span("catalog.build_composite", "catalog"):
            cat.build_composite(df, self.TABLE, self.COMPOSITE)
        t2 = perf_counter()
        self.table_dir, self.catalog, self.df = table_dir, cat, df
        return {"sources_s": t1 - t0, "catalog_s": t2 - t1,
                "sources_bytes": dir_bytes(table_dir)}

    def prepare(self) -> None:
        """Engines over the last setup's table, and the pyarrow oracle."""
        self.scan = Engine(self.spark, df=self.df, table_name=self.TABLE)
        self.indexed = Engine(
            self.spark, df=self.df, table_name=self.TABLE,
            index_catalog=self.catalog,
        )
        tb = pq.read_table(self.table_dir).sort_by("doc_id")
        ids = tb.column("doc_id").to_numpy()
        if not np.array_equal(ids, np.arange(self.rows)):
            raise RuntimeError("generated table is not doc ids 0..n-1")
        self.cols = {
            c: tb.column(c).to_numpy(zero_copy_only=False)
            for c in ("level", "source_region", "source_host", "user_id",
                      "payload_size", "user_metrics_login_time_ms",
                      "user_metrics_clicks")
        }
        self.users = np.unique(self.cols["user_id"])
        self.levels = sorted(set(self.cols["level"]))
        self.regions = sorted(set(self.cols["source_region"]))
        self.rng = random.Random(self.seed)
        self.order = list(self.KINDS)
        self.rng.shuffle(self.order)

    def instrument(self) -> None:
        self.traced(self.catalog, "lookup", "catalog.lookup", "catalog")
        self.traced(self.catalog, "lookup_by_doc_ids",
                    "catalog.lookup_by_doc_ids", "catalog")
        self.traced(self.catalog, "lookup_composite",
                    "catalog.lookup_composite", "catalog")
        self.traced(engine_mod, "filter_by_doc_ids",
                    "rewrite.filter_by_doc_ids", "plan")

    def _postings(self, field: str, ids=None) -> dict:
        col = self.cols[field]
        rows = np.arange(self.rows) if ids is None else np.sort(ids)
        vals = col[rows]
        return {v: rows[vals == v] for v in np.unique(vals)}

    def _stats(self, field: str, ids=None):
        x = self.cols[field] if ids is None else self.cols[field][ids]
        return float(x.min()), float(x.max()), float(x.astype(float).mean())

    def _check_stats(self, want):
        def check(tb):
            row = tb.to_pylist()
            return len(row) == 1 and all(
                _close(row[0][k], w) for k, w in zip(("min", "max", "avg"), want)
            )
        return check

    def _check_postings(self, field, ids=None):
        return lambda tb: _same_postings(
            _postings_map(tb), self._postings(field, ids)
        )

    def _check_where(self, equals: dict):
        def check(tb):
            mask = np.ones(self.rows, bool)
            for f, v in equals.items():
                mask &= self.cols[f] == v
            return np.array_equal(_sorted_ids(tb), np.nonzero(mask)[0])
        return check

    def _op(self, kind: str) -> Op:
        scan, ix, rng = self.scan, self.indexed, self.rng
        ids = rng.sample(range(self.rows), self.IDS_PER_OP)
        if kind == "fv_ids_level":
            return self._read(kind, "postings", "scan",
                              lambda: scan.get_field_values_by_doc_ids("level", ids),
                              self._check_postings("level", ids))
        if kind == "fv_ids_region":
            return self._read(kind, "postings", "scan",
                              lambda: scan.get_field_values_by_doc_ids(
                                  "source_region", ids),
                              self._check_postings("source_region", ids))
        if kind == "fv_full_host":
            return self._read(kind, "postings", "scan",
                              lambda: scan.get_field_values("source_host"),
                              self._check_postings("source_host"))
        if kind == "ns_ids_payload":
            return self._read(kind, "stats", "scan",
                              lambda: scan.get_numeric_stats_by_doc_ids(
                                  "payload_size", ids),
                              self._check_stats(self._stats("payload_size", ids)))
        if kind == "ns_ids_login":
            f = "user_metrics_login_time_ms"
            return self._read(kind, "stats", "scan",
                              lambda: scan.get_numeric_stats_by_doc_ids(f, ids),
                              self._check_stats(self._stats(f, ids)))
        if kind == "ns_full_clicks":
            f = "user_metrics_clicks"
            return self._read(kind, "stats", "scan",
                              lambda: scan.get_numeric_stats(f),
                              self._check_stats(self._stats(f)))
        if kind == "ix_fv_level":
            return self._read(kind, "postings", "indexed",
                              lambda: ix.get_field_values("level"),
                              self._check_postings("level"))
        if kind == "ix_fv_ids_host":
            return self._read(kind, "postings", "indexed",
                              lambda: ix.get_field_values_by_doc_ids(
                                  "source_host", ids),
                              self._check_postings("source_host", ids))
        if kind == "ix_where_user":
            eq = {"user_id": str(self.users[rng.randrange(len(self.users))])}
        else:
            eq = {"level": rng.choice(self.levels),
                  "source_region": rng.choice(self.regions)}
        return self._read(kind, "postings", "indexed",
                          lambda: ix.get_doc_ids_where(eq),
                          self._check_where(eq))

    def cycle(self):
        for kind in self.order:
            yield self._op(kind)

    def end_metrics(self) -> dict:
        return {"space_amp": dir_bytes(self.catalog.root)
                / dir_bytes(self.table_dir)}


class IngestWorkload(Workload):
    """Writes beside reads.  Each step merges a seeded batch into a
    chunked (LSM) streaming postings index adopted into the catalog, runs
    point lookups through the catalog, ingests a batch of vectors into an
    IVF index and serves a top-k search from it.  The compaction and fold
    dials are set so that both fire on the second step of every cycle."""

    name = "ingest"
    TABLE = "events"
    BATCH_ROWS = 20_000
    USERS = (1000, 49_999)
    MAX_POSTINGS = 64
    MAX_SEGMENTS = 2  # compaction on every 2nd step
    LOOKUPS = 2
    DIM = 64
    CLUSTERS = 32
    CENTROIDS = 16
    KMEANS_ITERS = 1  # a second Lloyd pass repeats the same jobs
    BASE_VECTORS = 8_000
    COLD_VECTORS = 1_000  # the discarded first build, only to warm the JVM
    VEC_BATCH = 1_000
    FOLD_DIAL = 1  # fold on every 2nd ingest
    QUERIES = 10
    K = 5
    NPROBE = 4
    STEPS = 2

    def _rng(self, purpose: int, i: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, purpose, i])

    def _vectors(self, purpose: int, i: int, n: int) -> np.ndarray:
        rng = self._rng(purpose, i)
        centers = self._rng(0, 0).normal(size=(self.CLUSTERS, self.DIM))
        lab = rng.integers(0, self.CLUSTERS, n)
        return centers[lab] + 0.3 * rng.normal(size=(n, self.DIM))

    def _vec_frame(self, ids: np.ndarray, x: np.ndarray):
        return self.spark.createDataFrame(pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float64())),
        }))

    def _batch(self, i: int) -> pa.Table:
        rng = self._rng(1, i)
        users = rng.integers(self.USERS[0], self.USERS[1] + 1, self.BATCH_ROWS)
        return pa.table({
            "doc_id": pa.array(
                np.arange(i * self.BATCH_ROWS, (i + 1) * self.BATCH_ROWS),
                pa.int64()),
            "user_id": pa.array([f"user_{u}" for u in users]),
        })

    def _merge(self, df, batch_id: int, max_segments: int) -> None:
        merge_postings_batch(
            df, "user_id", self.index_path, batch_id=batch_id,
            max_postings_per_row=self.MAX_POSTINGS,
            max_segments_per_bucket=max_segments,
        )

    def setup(self, rep_dir: str, cold: bool = False) -> dict:
        tr = self.tracer
        n = self.COLD_VECTORS if cold else self.BASE_VECTORS
        self.ann_root = os.path.join(rep_dir, "ann")
        self.index_path = os.path.join(rep_dir, "user_index")
        t0 = perf_counter()
        base = self._vectors(2, 0, n)
        with tr.span("ann.build_ann_index", "ann"):
            build_ann_index(
                self._vec_frame(np.arange(n), base),
                self.ann_root, n_centroids=self.CENTROIDS,
                n_iters=self.KMEANS_ITERS,
            )
        t1 = perf_counter()
        first = self._batch(0)
        with tr.span("index.merge_postings_batch", "index_maintenance"):
            self._merge(self.spark.createDataFrame(first), 0,
                        self.MAX_SEGMENTS)
        cat = IndexCatalog(self.spark, os.path.join(rep_dir, "catalog"))
        cat.adopt_streaming(self.TABLE, "user_id", self.index_path)
        t2 = perf_counter()
        self.catalog = cat
        self.vectors = base
        self.first_batch = first
        return {"ann_build_s": t1 - t0, "index_s": t2 - t1}

    def prepare(self) -> None:
        empty = self.spark.createDataFrame([], "doc_id long, user_id string")
        self.engine = Engine(self.spark, df=empty, table_name=self.TABLE,
                             index_catalog=self.catalog)
        self.postings: dict[str, list] = defaultdict(list)
        self._add_postings(self.first_batch)
        self.step = 0

    def instrument(self) -> None:
        self.traced(self.catalog, "lookup", "catalog.lookup", "catalog")

    def _add_postings(self, tb: pa.Table) -> None:
        for d, u in zip(tb.column("doc_id").to_pylist(),
                        tb.column("user_id").to_pylist()):
            self.postings[u].append(d)

    def warmup(self) -> None:
        """One untimed step with dials that make its merge compact and its
        ingest fold, so the timed phase's first compaction and fold are
        not the JVM's first, and its reads not the first on the new
        index and cells.  The timed cycle starts from a compacted index
        and folded cells."""
        self.step += 1
        for op in self._step(self.step, max_segments=1, fold_dial=0):
            op.run()

    def _files(self) -> dict[str, int]:
        out = {}
        for dirpath, _d, files in os.walk(self.index_path):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
        return out

    def _delta_dirs(self) -> tuple[int, int]:
        """Live per-batch delta directories, from the on-disk manifest."""
        with open(os.path.join(self.ann_root, "_cells_manifest.json")) as f:
            cells = json.load(f)["cells"]
        live = [
            t for c, tags in cells.items() for t in tags if t >= 0
            and os.path.isdir(os.path.join(
                self.ann_root, "cells", f"cell={c}", f"ingest_batch={t}"))
        ]
        return len(live), max(len(cells), 1)

    def cycle(self):
        for _ in range(self.STEPS):
            self.step += 1
            yield from self._step(self.step)

    def _step(self, i: int, max_segments: int | None = None,
              fold_dial: int | None = None):
        tr, obs = self.tracer, self.obs
        # -- merge one batch into the streaming postings index
        tb = self._batch(i)
        bdf = self.spark.createDataFrame(tb)
        buf = io.BytesIO()
        pq.write_table(tb, buf, compression="zstd")
        before, frag0 = self._files(), index_fragmentation(self.index_path)

        def merge():
            with tr.span("index.merge_postings_batch", "index_maintenance"):
                self._merge(bdf, i, self.MAX_SEGMENTS
                            if max_segments is None else max_segments)

        op = Op("merge", "merge", False, merge, lambda _: True,
                rows=tb.num_rows)
        yield op
        after, frag1 = self._files(), index_fragmentation(self.index_path)
        self._add_postings(tb)
        obs["merge_new_bytes"].append(
            sum(s for p, s in after.items() if p not in before))
        obs["merge_batch_bytes"].append(buf.getbuffer().nbytes)
        op.notes["compacted"] = frag1["segments"] < frag0["segments"]
        # -- point lookups through the catalog
        users = list(self.postings)
        rng = random.Random(i * 7919 + self.seed)
        for _ in range(self.LOOKUPS):
            u = users[rng.randrange(len(users))]
            want = np.sort(np.array(self.postings[u]))
            obs["segments_per_bucket"].append(
                frag1["segments"] / max(frag1["n_buckets"], 1))
            yield self._read(
                "lookup", "postings", "indexed",
                lambda u=u: self.engine.get_doc_ids_where({"user_id": u}),
                lambda t, w=want: np.array_equal(_sorted_ids(t), w),
            )
        # -- ingest one batch of vectors
        n0 = len(self.vectors)
        x = self._vectors(3, i, self.VEC_BATCH)
        vdf = self._vec_frame(np.arange(n0, n0 + self.VEC_BATCH), x)
        dirs0, _ = self._delta_dirs()

        def ingest():
            with tr.span("ann.ann_ingest_batch", "ann"):
                return ann_ingest_batch(
                    vdf, self.ann_root, batch_id=i,
                    max_batch_dirs_per_cell=self.FOLD_DIAL
                    if fold_dial is None else fold_dial,
                )

        op = Op("ann_ingest", "ingest", False, ingest,
                lambda n: n == self.VEC_BATCH, rows=self.VEC_BATCH)
        yield op
        self.vectors = np.vstack([self.vectors, x])
        dirs1, cells = self._delta_dirs()
        op.notes["folded"] = dirs1 < dirs0
        obs["delta_dirs_per_cell"].append(dirs1 / cells)
        # -- serve a top-k search
        q = self._vectors(4, i, self.QUERIES)
        qids = np.arange(10**9, 10**9 + self.QUERIES)
        qdf = self._vec_frame(qids, q)
        op = self._read(
            "ann_search", "search", "",
            lambda: ann_search(self.spark, self.ann_root, qdf,
                               k=self.K, nprobe=self.NPROBE),
            self._search_check(qids, q, len(self.vectors)),
        )
        yield op

    def _search_check(self, qids, q, n_live):
        """Well formed, existing ids, cosine recomputed within 1e-4; the
        recall against numpy brute force is recorded, not gated."""
        def check(tb):
            x = self.vectors[:n_live]
            xn = x / np.linalg.norm(x, axis=1, keepdims=True)
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            rows = tb.to_pylist()
            ok = True
            for j, qid in enumerate(qids):
                mine = sorted((r for r in rows if r["query_id"] == qid),
                              key=lambda r: r["rank"])
                nids = [r["neighbor_id"] for r in mine]
                sims = [r["cos_sim"] for r in mine]
                ok &= (len(mine) == self.K and len(set(nids)) == self.K
                       and all(0 <= n < n_live for n in nids)
                       and sims == sorted(sims, reverse=True))
                if ok:
                    ok &= bool(np.all(np.abs(xn[nids] @ qn[j] - sims) <= 1e-4))
                truth = np.argsort(-(xn @ qn[j]))[: self.K]
                self.obs["recall"].append(
                    len(set(truth.tolist()) & set(nids)) / self.K)
            return ok and len(rows) == self.K * len(qids)
        return check

    def end_metrics(self) -> dict:
        rows = pa.concat_tables(
            [self._batch(i) for i in range(self.step + 1)]
        ).sort_by("doc_id")
        buf = io.BytesIO()
        pq.write_table(rows, buf, compression="zstd")
        live = sum(self._files().values())
        return {"space_amp": live / buf.getbuffer().nbytes}


WORKLOADS = {w.name: w for w in (LogsWorkload, IngestWorkload)}


def layer_observations(wl: Workload, log, setup: dict) -> dict:
    """Per-layer figures the workload itself observed (not span counters).
    ``setup`` holds the timings of the timed (warm) setup."""
    obs = wl.obs
    out = dict.fromkeys(
        ("catalog.build_s", "sources.write_s", "sources.rows_per_s",
         "sources.mb_written"), 0.0)
    if "catalog_s" in setup:
        out["catalog.build_s"] = setup["catalog_s"]
    if "sources_s" in setup:
        out["sources.write_s"] = setup["sources_s"]
        out["sources.rows_per_s"] = LogsWorkload.ROWS / setup["sources_s"]
        out["sources.mb_written"] = setup["sources_bytes"] / 2**20
    merges = [r for r in log.records if r.kind == "merge"]
    compacts = [r for r in merges if r.notes.get("compacted")]
    ingests = [r for r in log.records if r.kind == "ann_ingest"]
    folds = [r for r in ingests if r.notes.get("folded")]
    ms = lambda rs: median([r.latency_s * 1000 for r in rs]) if rs else 0.0
    out.update({
        "merge.ms": ms([r for r in merges if not r.notes.get("compacted")]),
        "merge.write_amp": sum(obs["merge_new_bytes"])
        / sum(obs["merge_batch_bytes"]) if obs["merge_batch_bytes"] else 0.0,
        "compact.count": len(compacts),
        "compact.ms": ms(compacts),
        "index.segments_per_bucket": float(np.mean(obs["segments_per_bucket"]))
        if obs["segments_per_bucket"] else 0.0,
        "ann.ingest_ms": ms([r for r in ingests if not r.notes.get("folded")]),
        "ann.fold_count": len(folds),
        "ann.fold_ms": ms(folds),
        "ann.delta_dirs_per_cell": float(np.mean(obs["delta_dirs_per_cell"]))
        if obs["delta_dirs_per_cell"] else 0.0,
        "ann.recall_at_k": float(np.mean(obs["recall"]))
        if obs["recall"] else 0.0,
    })
    return out
