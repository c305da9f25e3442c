"""Zero-downtime ANN index deployments: root-pointer indirection.

Within one index root, every write lands in directories no manifest
names and one manifest swap publishes it, so serves overlap streaming
ingest and selective folds.  A centroid retrain cannot work that way:
new centroids reassign every row.  So ``build_ann_index`` only ever
builds a fresh root (it refuses one that holds a live index), and this
module applies the manifest's indirection one level up — the
reference's reusable-index directive (main.rs:325-385: build once,
serve forever) taken to its operational conclusion:

* a **deployment** is a directory holding ``_root_pointer.json``
  (written atomically, like the index manifest) and numbered
  index roots under ``roots/g<seq>``;
* **serves** resolve the pointer once per serve
  (:func:`resolve_ann_root`) and then pin that root's own cells
  manifest — two atomic reads give a fully consistent snapshot even
  while a rebuild runs;
* a **rebuild** (:func:`ann_deployment_rebuild`) trains into a FRESH
  root from the live corpus (read via the old root's manifest — no
  external corpus copy needed), re-augments PQ with the recorded
  dials, carries the committed ingest batch id into the new root's
  manifest so micro-batch replay semantics carry across the flip,
  then swaps the pointer once; the old root
  retires behind the same grace window as folded cell directories.

Crash windows: the pointer only ever names a COMPLETE root (the flip
is the last step), so a rebuild that dies mid-build leaves the old
root serving and a never-referenced orphan directory that the next
rebuild sweeps.  Writer concurrency is the module's standing rule
(streaming/ann_ingest): maintenance jobs — ingest batches, folds,
rebuilds — are single-writer per deployment (foreachBatch already
serializes them per stream); serves are unrestricted.
"""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from ..functions.atomic_json import read_json, write_json_atomic
from . import ann_index as AI

_POINTER_FORMAT = 1
_ROOT_RE = re.compile(r"^g(\d{6})$")


def _pointer_path(deployment_dir: str) -> str:
    return os.path.join(deployment_dir, "_root_pointer.json")


def _roots_dir(deployment_dir: str) -> str:
    return os.path.join(deployment_dir, "roots")


def _load_pointer(deployment_dir: str) -> dict | None:
    p = read_json(_pointer_path(deployment_dir))
    if p is not None and p.get("format") != _POINTER_FORMAT:
        raise ValueError(
            f"deployment pointer at {deployment_dir} has format "
            f"{p.get('format')!r}; this engine writes v{_POINTER_FORMAT}."
        )
    return p


def _write_pointer(deployment_dir: str, p: dict) -> None:
    write_json_atomic(_pointer_path(deployment_dir), p)


def resolve_ann_root(deployment_dir: str) -> str:
    """The live index root — resolve ONCE per serve, then treat the
    result as pinned: the root's own cells manifest snapshots its
    interior, and a superseded root stays on disk for the deployment's
    ``retire_grace_seconds`` after a pointer flip, so a serve that
    resolved just before a rebuild finished still reads a complete,
    self-consistent index."""
    p = _load_pointer(deployment_dir)
    if p is None:
        raise FileNotFoundError(
            f"{deployment_dir} is not an ANN deployment (no "
            "_root_pointer.json) — create one with ann_deployment_build."
        )
    return os.path.join(deployment_dir, p["live"])


def _next_seq(deployment_dir: str) -> int:
    """1 + the highest root sequence that EXISTS on disk or is named by
    the pointer — never reuses a crashed attempt's directory name."""
    seqs = [0]
    p = _load_pointer(deployment_dir)
    if p is not None:
        mlive = _ROOT_RE.match(os.path.basename(p["live"]))
        if mlive:
            seqs.append(int(mlive.group(1)))
        for rel, _ts in p.get("retired", []):
            mr = _ROOT_RE.match(os.path.basename(rel))
            if mr:
                seqs.append(int(mr.group(1)))
    try:
        for entry in os.listdir(_roots_dir(deployment_dir)):
            me = _ROOT_RE.match(entry)
            if me:
                seqs.append(int(me.group(1)))
    except OSError:
        pass
    return max(seqs) + 1


def _sweep_orphan_roots(deployment_dir: str, p: dict) -> None:
    """Remove root directories referenced by NEITHER the live pointer
    nor the retired list — the leftovers of rebuilds that crashed
    before their pointer flip.  Orphans were never serveable (the
    pointer is the only way readers find a root), so there is no grace
    window to honor.  Single-maintenance-writer only."""
    referenced = {os.path.basename(p["live"])} | {
        os.path.basename(rel) for rel, _ts in p.get("retired", [])
    }
    try:
        entries = os.listdir(_roots_dir(deployment_dir))
    except OSError:
        return
    for entry in entries:
        if _ROOT_RE.match(entry) and entry not in referenced:
            shutil.rmtree(
                os.path.join(_roots_dir(deployment_dir), entry),
                ignore_errors=True,
            )


def prune_ann_roots(
    deployment_dir: str,
    grace_seconds: float = AI.DEFAULT_RETIRE_GRACE_SECONDS,
) -> list[str]:
    """Delete retired roots whose grace window has lapsed; returns the
    deployment-relative paths removed.  Grace 0 prunes immediately —
    correct only when no serve can still hold a pre-flip resolve (the
    same contract as the cell-level grace)."""
    p = _load_pointer(deployment_dir)
    if p is None:
        return []
    now = time.time()
    keep, removed = [], []
    for rel, ts in p.get("retired", []):
        if now - float(ts) >= float(grace_seconds):
            shutil.rmtree(
                os.path.join(deployment_dir, rel), ignore_errors=True
            )
            removed.append(rel)
        else:
            keep.append([rel, ts])
    if removed:
        p["retired"] = keep
        _write_pointer(deployment_dir, p)
    return removed


def ann_deployment_build(
    corpus: DataFrame,
    deployment_dir: str,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq: dict | None = None,
) -> str:
    """Create a deployment: build the first root, optionally PQ-augment
    it (``pq`` = kwargs for :func:`~.ann_index.pq_augment_ann_index`),
    then publish it with the first pointer write.  Returns the live
    root path (what :func:`resolve_ann_root` will hand serves)."""
    if _load_pointer(deployment_dir) is not None:
        raise ValueError(
            f"{deployment_dir} is already a deployment — use "
            "ann_deployment_rebuild to retrain it."
        )
    seq = _next_seq(deployment_dir)
    # a FIRST build that crashed before its pointer write left roots no
    # pointer references — without a pointer every root on disk is such
    # an orphan, and rebuild's sweep never runs here, so collect them
    # now (after seq allocation: crashed names are still never reused)
    try:
        for entry in os.listdir(_roots_dir(deployment_dir)):
            if _ROOT_RE.match(entry):
                shutil.rmtree(
                    os.path.join(_roots_dir(deployment_dir), entry),
                    ignore_errors=True,
                )
    except OSError:
        pass
    rel = os.path.join("roots", f"g{seq:06d}")
    root = os.path.join(deployment_dir, rel)
    AI.build_ann_index(
        corpus, root, n_centroids=n_centroids, n_iters=n_iters,
        id_col=id_col, vec_col=vec_col,
    )
    if pq is not None:
        AI.pq_augment_ann_index(corpus.sparkSession, root, **pq)
    _write_pointer(
        deployment_dir,
        {"format": _POINTER_FORMAT, "live": rel, "retired": []},
    )
    return root


def _live_corpus(spark: SparkSession, root: str, meta: dict) -> DataFrame:
    """The index's own live rows as a (id_col, vec_col) corpus frame —
    read via the manifest snapshot (base rows + every committed ingest
    batch, no retired/orphan directories), so a rebuild needs no
    externally retained corpus copy."""
    from pyspark.sql import functions as F

    cells = AI._read_cells(spark, root, AI._load_manifest(root))
    if cells is None:
        raise ValueError(f"index at {root} has no live cells to rebuild from")
    return cells.select(
        F.col("vec_id").alias(meta["id_col"]),
        F.col("cv").alias(meta["vec_col"]),
    )


def _carry_batch_id(old_root: str, root: str) -> None:
    """Record ``old_root``'s committed ingest ``batch_id`` in the
    manifest of ``root``, a rebuild not yet live.  An old root this
    engine refuses (an older manifest format) has no batch id to carry:
    rebuilding it from an explicit corpus is its repair."""
    try:
        batch_id = AI._load_manifest(old_root).get("batch_id")
    except ValueError:
        batch_id = None
    m = AI._load_manifest(root)
    m["batch_id"] = batch_id
    AI._write_manifest(root, m)


def ann_deployment_rebuild(
    spark: SparkSession,
    deployment_dir: str,
    corpus: DataFrame | None = None,
    n_centroids: int | None = None,
    n_iters: int | None = None,
    report_path: str | None = None,
    retire_grace_seconds: float = AI.DEFAULT_RETIRE_GRACE_SECONDS,
) -> str:
    """Retrain into a fresh root and flip the pointer — serves never
    stop.  Defaults reproduce the live root's recorded build dials
    (``_ann_meta.json``) and PQ dials (``_pq_meta.json``; skipped when
    the live root has no sidecar); ``corpus`` defaults to the live
    root's own rows via :func:`_live_corpus`.

    Order (each step invisible to serves until the single flip):
    sweep crashed-rebuild orphans → build new root → PQ re-augment →
    carry the live root's committed ingest ``batch_id`` into the new
    root's manifest (micro-batch ids stay monotone across the flip, so
    a checkpoint replay of an already-committed batch still no-ops) →
    re-baseline the drift
    monitor (``mark_rebuilt``) when ``report_path`` is given → pointer
    flip (atomic) → retire the old root behind ``retire_grace_seconds``
    and prune any retiree past it."""
    from ..streaming.ann_ingest import mark_rebuilt

    p = _load_pointer(deployment_dir)
    if p is None:
        raise FileNotFoundError(
            f"{deployment_dir} is not an ANN deployment — build it first."
        )
    old_rel = p["live"]
    old_root = os.path.join(deployment_dir, old_rel)
    meta_path = os.path.join(old_root, "_ann_meta.json")
    meta = read_json(meta_path)  # a torn meta raises naming it
    if meta is None:
        raise ValueError(f"ann_deployment_rebuild: {meta_path} is missing")
    # allocate the sequence BEFORE sweeping so a crashed attempt's name
    # is never reused — a lagging LIST on an eventually-consistent
    # object store could otherwise surface the dead directory's files
    # inside the new root
    seq = _next_seq(deployment_dir)
    _sweep_orphan_roots(deployment_dir, p)
    if corpus is None:
        corpus = _live_corpus(spark, old_root, meta)
    rel = os.path.join("roots", f"g{seq:06d}")
    root = os.path.join(deployment_dir, rel)
    AI.build_ann_index(
        corpus,
        root,
        n_centroids=int(
            meta["n_centroids"] if n_centroids is None else n_centroids
        ),
        n_iters=int(meta["n_iters"] if n_iters is None else n_iters),
        id_col=meta["id_col"],
        vec_col=meta["vec_col"],
    )
    pq_meta = read_json(os.path.join(old_root, "_pq_meta.json"))
    if pq_meta is not None and pq_meta.get("books"):
        AI.pq_augment_ann_index(
            spark,
            root,
            m_subspaces=int(pq_meta["m_subspaces"]),
            n_codes=int(pq_meta["n_codes"]),
            n_iters=int(pq_meta.get("n_iters", 4)),
            sample_rows=int(pq_meta.get("sample_rows", 65_536)),
        )
    _carry_batch_id(old_root, root)
    if report_path is not None:
        mark_rebuilt(spark, root, report_path)
    p["live"] = rel
    p.setdefault("retired", []).append([old_rel, time.time()])
    _write_pointer(deployment_dir, p)  # the flip: serves move over here
    prune_ann_roots(deployment_dir, retire_grace_seconds)
    return root
