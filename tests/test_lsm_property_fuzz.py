"""Property fuzz for the streaming LSM index (r11).

The targeted tests pin each maintenance path one at a time (segment
append, compact, rebucket, autocompact dial, replay, crash); this file
drives RANDOM INTERLEAVINGS of them — merge / replay / compact /
rebucket in hypothesis-chosen orders over hypothesis-chosen batches
(null values, null doc ids, hot values, empty batches) — and asserts
after every sequence:

- the logical view equals ``postings()`` of everything merged exactly
  once (replays are no-ops EVEN right after a compaction/rebucket,
  whose ``batch_id=None`` commits must preserve the replay guard);
- chunk rows stay bounded and per-segment (value, chunk) stays unique
  whenever the last mutation was a fold (compact/rebucket);
- the marker's fragmentation stats match the on-disk pointer state.
"""

from __future__ import annotations

import json
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import polars_w_inverted_index_spark.streaming.index_maintenance as im
from polars_w_inverted_index_spark.operators.inverted_index import postings
from polars_w_inverted_index_spark.session import get_session

ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 40)),          # doc_id
        st.one_of(
            st.none(), st.sampled_from(["a", "b", "hot", "", "é中"])
        ),                                                  # value
    ),
    min_size=0,
    max_size=12,
)

OPS = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), ROWS),
        st.tuples(st.just("replay"), st.none()),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("rebucket"), st.sampled_from([1, 3, 8])),
    ),
    min_size=2,
    max_size=6,
)

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@_SETTINGS
@given(ops=OPS, cap=st.sampled_from([1, 3]))
def test_fuzz_interleaved_maintenance_converges(ops, cap, tmp_path_factory):
    spark = get_session("property_tests")
    idx = str(tmp_path_factory.mktemp("lsm_fuzz") / "idx")

    merged: list[tuple] = []   # rows merged exactly once (truth input)
    last_batch_rows = None
    batch_id = 0
    folded = False
    for op, arg in ops:
        if op == "merge":
            im.merge_postings_batch(
                spark.createDataFrame(
                    arg, "event_id long, event_type string"
                ) if arg else spark.createDataFrame(
                    [], "event_id long, event_type string"
                ),
                "event_type", idx, "event_id",
                batch_id=batch_id, max_postings_per_row=cap,
                n_buckets=2, max_segments_per_bucket=None,
            )
            merged.extend(arg)
            last_batch_rows = arg
            batch_id += 1
            folded = False
        elif op == "replay":
            if last_batch_rows is None:
                continue  # nothing committed yet
            # foreachBatch at-least-once: same batch_id re-delivered —
            # must be a no-op even right after compact/rebucket
            im.merge_postings_batch(
                spark.createDataFrame(
                    last_batch_rows, "event_id long, event_type string"
                ) if last_batch_rows else spark.createDataFrame(
                    [], "event_id long, event_type string"
                ),
                "event_type", idx, "event_id",
                batch_id=batch_id - 1,
            )
        elif op == "compact":
            im.compact_index(spark, idx)
            folded = os.path.exists(os.path.join(idx, "_LATEST"))
        elif op == "rebucket":
            if not os.path.exists(os.path.join(idx, "_LATEST")):
                continue  # rebucket on an empty index raises by contract
            im.rebucket_index(spark, idx, arg)
            folded = True

    if not os.path.exists(os.path.join(idx, "_LATEST")):
        return  # sequence never merged anything

    truth_df = spark.createDataFrame(
        merged, "event_id long, event_type string"
    ) if merged else spark.createDataFrame(
        [], "event_id long, event_type string"
    )
    truth = {
        r["value"]: sorted(r["doc_ids"])
        for r in postings(truth_df, "event_type", "event_id").collect()
    }
    view = im.read_index_postings(spark, idx)
    got = {} if view is None else {
        r["value"]: list(r["doc_ids"]) for r in view.collect()
    }
    assert got == truth

    # marker stats match the pointer state it describes
    with open(os.path.join(idx, "_LATEST")) as f:
        marker = json.load(f)
    frag = im.index_fragmentation(idx)
    segs = [
        len(v) if isinstance(v, list) else 1
        for v in marker["buckets"].values()
    ]
    assert frag["segments"] == sum(segs)
    assert frag["max_segments_per_bucket"] == max(segs, default=0)

    raw = im.read_index(spark, idx)
    if raw is not None:
        # chunk rows bounded (merge slices exactly; folds re-chunk with
        # the hash assignment, bound 2x in expectation at tiny caps we
        # allow a wide multiplicative margin)
        assert all(
            len(r["doc_ids"]) <= max(4 * cap, 8) for r in raw.collect()
        )
        if folded:  # last mutation folded -> single segments, unique keys
            assert all(len(v) == 1 for v in marker["buckets"].values())
            dupes = (
                raw.groupBy("value", "chunk")
                .count()
                .where("count > 1")
                .count()
            )
            assert dupes == 0


CROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 30)),                # doc_id
        st.one_of(st.none(), st.sampled_from(["R", "N", ""])),   # f1
        st.one_of(st.none(), st.sampled_from(["F", "O"])),       # f2
    ),
    min_size=0,
    max_size=10,
)

COPS = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), CROWS),
        st.tuples(st.just("replay"), st.none()),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("rebucket"), st.sampled_from([1, 4])),
    ),
    min_size=2,
    max_size=5,
)


@_SETTINGS
@given(ops=COPS, cap=st.sampled_from([1, 3]))
def test_fuzz_composite_interleaved_maintenance(ops, cap, tmp_path_factory):
    """The composite (tuple-keyed) twin of the interleaving fuzz: the
    same maintenance mutations over two-field tuples, converging to the
    distinct-(tuple, id) truth with NULL components dropped (the
    postings null-pair rule applies to the WHOLE tuple)."""
    spark = get_session("property_tests")
    idx = str(tmp_path_factory.mktemp("lsm_cfuzz") / "idx")
    schema = "event_id long, f1 string, f2 string"

    merged: list[tuple] = []
    last_batch_rows = None
    batch_id = 0
    for op, arg in ops:
        if op == "merge":
            im.merge_composite_postings_batch(
                spark.createDataFrame(arg, schema),
                ["f1", "f2"], idx, "event_id",
                batch_id=batch_id, max_postings_per_row=cap,
                n_buckets=2, max_segments_per_bucket=None,
            )
            merged.extend(arg)
            last_batch_rows = arg
            batch_id += 1
        elif op == "replay":
            if last_batch_rows is None:
                continue
            im.merge_composite_postings_batch(
                spark.createDataFrame(last_batch_rows, schema),
                ["f1", "f2"], idx, "event_id", batch_id=batch_id - 1,
            )
        elif op == "compact":
            im.compact_index(spark, idx)
        elif op == "rebucket":
            if not os.path.exists(os.path.join(idx, "_LATEST")):
                continue
            im.rebucket_index(spark, idx, arg)

    if not os.path.exists(os.path.join(idx, "_LATEST")):
        return

    truth: dict = {}
    for did, f1, f2 in merged:  # multiplicity-preserving (P5 on tuples)
        if did is None or f1 is None or f2 is None:
            continue
        truth.setdefault((f1, f2), []).append(did)
    truth = {k: sorted(v) for k, v in truth.items()}

    view = im.read_composite_index(spark, idx)
    got = {} if view is None else {
        (r["v_f1"], r["v_f2"]): list(r["doc_ids"]) for r in view.collect()
    }
    assert got == truth


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",   # near-dup of [0]
    "the quick brown fox leaps over the lazy dog",   # near-dup of [0]
    "pack my box with five dozen liquor jugs",       # unrelated
    "the quick brown fox jumps over the lazy dog",   # exact dup of [0]
    "",                                              # no shingles
    "solo",                                          # < k words
]

NDOPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("batch"),
            st.lists(st.integers(0, len(TEXTS) - 1), min_size=0, max_size=5),
        ),
        st.tuples(st.just("replay"), st.none()),
    ),
    min_size=1,
    max_size=4,
)


@_SETTINGS
@given(ops=NDOPS, msb=st.sampled_from([1, 2]))
def test_fuzz_streaming_near_dedup_matches_batch_rule(
    ops, msb, tmp_path_factory
):
    """Random batch sequences (near-dups, exact dups, shingle-less
    texts, replays) through near_dedup_batch vs an independent greedy
    re-execution of its documented rule over the SAME collected band
    table: reject on >= min_shared_bands distinct bands shared with the
    accepted-corpus band union (a), then within-batch cluster-min-id
    canonicalization over pairwise shared-band edges (b)."""
    from polars_w_inverted_index_spark.operators.dedup import (
        _lsh_bands,
        minhash_signatures,
    )
    from polars_w_inverted_index_spark.streaming.near_dedup import (
        near_dedup_batch,
    )

    spark = get_session("property_tests")
    state = str(tmp_path_factory.mktemp("nd_fuzz") / "state")
    kw = dict(num_hashes=8, num_bands=4, shingle_k=2)

    # assign globally increasing ids per generated row
    batches, next_id = [], 0
    for op, arg in ops:
        if op == "batch":
            rows = [(next_id + i, TEXTS[t]) for i, t in enumerate(arg)]
            next_id += len(arg)
            batches.append(rows)

    all_rows = [r for b in batches for r in b]
    bands: dict[int, set] = {i: set() for i, _ in all_rows}
    if all_rows:
        bdf = _lsh_bands(
            minhash_signatures(
                spark.createDataFrame(all_rows, "doc_id long, text string"),
                num_hashes=8, shingle_k=2,
            ),
            4, 2,
        )
        for r in bdf.collect():
            bands[r["doc_id"]].add((r["band_idx"], r["band_hash"]))

    # independent truth: replay the documented rule in plain python
    corpus_bands: set = set()
    want_accepted: set = set()
    for rows in batches:
        ids = [i for i, _ in rows]
        step_a = [
            i for i in ids
            if len(bands[i] & corpus_bands) < msb
        ]
        # within-batch pairwise edges over ALL batch rows -> components
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i in ids:
            for j in ids:
                if i < j and len(bands[i] & bands[j]) >= msb:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        comp_min: dict = {}
        for i in ids:
            root = find(i)
            comp_min[root] = min(comp_min.get(root, i), i)
        kept = [i for i in step_a if comp_min[find(i)] == i]
        want_accepted.update(kept)
        corpus_bands |= set().union(*(bands[i] for i in kept)) if kept else set()

    # drive the streaming path, with replays interleaved as generated
    got_accepted: set = set()
    bi = 0
    last = None
    for op, arg in ops:
        if op == "batch":
            rows = batches[bi]
            out = near_dedup_batch(
                spark.createDataFrame(rows, "doc_id long, text string"),
                state, batch_id=bi, min_shared_bands=msb, **kw,
            )
            got_accepted.update(r["doc_id"] for r in out.collect())
            last = (bi, rows)
            bi += 1
        elif op == "replay" and last is not None:
            rep = near_dedup_batch(
                spark.createDataFrame(
                    last[1], "doc_id long, text string"
                ),
                state, batch_id=last[0], min_shared_bands=msb, **kw,
            )
            assert rep.count() == 0  # committed replay: empty, no double

    assert got_accepted == want_accepted


IDX_ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 20)),               # doc_id
        st.one_of(st.none(), st.sampled_from(["R", "N", ""])),  # f1
        st.one_of(st.none(), st.sampled_from(["F", "O", "x"])), # f2
    ),
    min_size=0,
    max_size=18,
)


@_SETTINGS
@given(
    rows=IDX_ROWS,
    q1=st.sampled_from(["R", "N", ""]),
    q2=st.sampled_from(["F", "O", "x"]),
    chunked=st.booleans(),
)
def test_fuzz_composite_index_serving_equals_base_filter(
    rows, q1, q2, chunked, tmp_path_factory
):
    """Index-served conjunctive lookups vs the base-table filter on
    random tiny frames (the §1.4 fine print the fixed fixtures only
    spot-check: null ids, null components, '' values, duplicate
    (tuple, id) rows — multiplicity must be preserved, and the chunked
    streaming build must serve identically to the static one)."""
    from polars_w_inverted_index_spark.engine import Engine
    from polars_w_inverted_index_spark.plans.catalog import IndexCatalog

    spark = get_session("property_tests")
    base = str(tmp_path_factory.mktemp("idx_fuzz"))
    df = spark.createDataFrame(rows, "event_id long, f1 string, f2 string")

    cat = IndexCatalog(spark, f"{base}/cat")
    if chunked:
        sidx = f"{base}/stream_idx"
        im.merge_composite_postings_batch(
            df, ["f1", "f2"], sidx, "event_id",
            batch_id=0, max_postings_per_row=2, n_buckets=2,
        )
        cat.adopt_streaming_composite(
            "t", ["f1", "f2"], sidx, doc_id_col="event_id"
        )
    else:
        cat.build_composite(df, "t", ["f1", "f2"], doc_id_col="event_id")

    eng = Engine(
        spark, df=df, doc_id_col="event_id", index_catalog=cat,
        table_name="t",
    )
    got = sorted(
        r["event_id"]
        for r in eng.get_doc_ids_where({"f1": q1, "f2": q2}).collect()
    )
    want = sorted(
        did for did, a, b in rows
        if did is not None and a == q1 and b == q2
    )
    assert got == want


class _Crash(RuntimeError):
    """Injected crash — distinguishable from any real failure."""


CRASH_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), ROWS),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("rebucket"), st.sampled_from([1, 3, 8])),
        st.tuples(st.just("crash_compact"), st.none()),
        st.tuples(st.just("crash_rebucket"), st.sampled_from([1, 3, 8])),
        st.tuples(st.just("crash_prune"), st.none()),
    ),
    min_size=3,
    max_size=7,
)


@_SETTINGS
@given(ops=CRASH_OPS, cap=st.sampled_from([1, 3]))
def test_fuzz_crash_windows_heal(ops, cap, tmp_path_factory):
    """r11 VERDICT task 7: crash-inject the two O(index) maintenance
    jobs (compact_index / rebucket_index) at their documented windows —

    - BETWEEN the ``m=`` data write and the marker swap
      (``crash_compact`` / ``crash_rebucket``: ``_commit`` raises): the
      marker must be byte-identical afterwards (readers never saw
      anything), the fresh ``m=`` directory is an orphan;
    - AFTER the swap but BEFORE pruning (``crash_prune``: ``_prune``
      raises inside ``_commit``): the marker must have advanced (the
      swap is the commit point), the superseded segment dirs are
      orphans.

    Interleaved with normal merges/folds in hypothesis-chosen orders,
    the logical view must always converge to the merged truth, and a
    final successful fold must leave the on-disk ``m=*/bucket=*`` set
    EXACTLY equal to the marker's live pointer set — every orphan from
    every injected crash collected (the orphan-collection story in
    ``_prune``'s docstring, pinned the way the delta-state chaos
    tests pin streaming commits)."""
    spark = get_session("property_tests")
    idx = str(tmp_path_factory.mktemp("lsm_crash") / "idx")
    schema = "event_id long, event_type string"
    merged: list[tuple] = []
    batch_id = 0

    def _marker():
        with open(os.path.join(idx, "_LATEST")) as f:
            return json.load(f)

    def _df(rows):
        return spark.createDataFrame(rows, schema) if rows else (
            spark.createDataFrame([], schema)
        )

    for op, arg in ops:
        has = os.path.exists(os.path.join(idx, "_LATEST"))
        if op == "merge":
            im.merge_postings_batch(
                _df(arg), "event_type", idx, "event_id",
                batch_id=batch_id, max_postings_per_row=cap,
                n_buckets=2, max_segments_per_bucket=None,
            )
            merged.extend(arg)
            batch_id += 1
        elif op == "compact":
            im.compact_index(spark, idx)
        elif op == "rebucket":
            if not has:
                continue
            im.rebucket_index(spark, idx, arg)
        else:
            if not has:
                continue
            before = _marker()
            target = "_prune" if op == "crash_prune" else "_commit"
            real = getattr(im, target)

            def _boom(*a, **k):
                raise _Crash()

            setattr(im, target, _boom)
            crashed = False
            try:
                if op == "crash_rebucket":
                    im.rebucket_index(spark, idx, arg)
                else:
                    im.compact_index(spark, idx)
            except _Crash:
                crashed = True
            finally:
                setattr(im, target, real)
            after = _marker()
            if op == "crash_prune":
                if crashed:  # swap IS the commit point: marker advanced
                    assert after["merge"] == before["merge"] + 1
            elif crashed:  # crash before the swap: marker untouched
                assert after == before
            else:  # job no-opped before its commit (e.g. empty index)
                assert after == before

    if not os.path.exists(os.path.join(idx, "_LATEST")):
        return  # sequence never merged anything

    def _view():
        view = im.read_index_postings(spark, idx)
        return {} if view is None else {
            r["value"]: sorted(r["doc_ids"]) for r in view.collect()
        }

    truth = {
        r["value"]: sorted(r["doc_ids"])
        for r in postings(_df(merged), "event_type", "event_id").collect()
    }
    assert _view() == truth  # correct THROUGH every injected crash

    # a later successful fold collects every orphan the crashes left
    im.compact_index(spark, idx)
    marker = _marker()
    live = {rel for segs in marker["buckets"].values() for rel in segs}
    on_disk = {
        os.path.join(m_dir, b_dir)
        for m_dir in os.listdir(idx)
        if m_dir.startswith("m=")
        for b_dir in os.listdir(os.path.join(idx, m_dir))
        if b_dir.startswith("bucket=")
    }
    assert on_disk == live
    assert _view() == truth  # healing changed layout, never content


def test_crash_orphan_dir_collected_deterministic(tmp_path):
    """Deterministic pin of the orphan window (the fuzz above covers it
    statistically): a compact that crashes between its ``m=`` write and
    the marker swap leaves an on-disk directory the marker never
    references; the NEXT successful commit's prune collects it."""
    spark = get_session("property_tests")
    idx = str(tmp_path / "idx")
    schema = "event_id long, event_type string"
    im.merge_postings_batch(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], schema),
        "event_type", idx, "event_id",
        batch_id=0, max_postings_per_row=1, n_buckets=2,
        max_segments_per_bucket=None,
    )

    def _state():
        with open(os.path.join(idx, "_LATEST")) as f:
            marker = json.load(f)
        live = {r for segs in marker["buckets"].values() for r in segs}
        on_disk = {
            os.path.join(m, b)
            for m in os.listdir(idx)
            if m.startswith("m=")
            for b in os.listdir(os.path.join(idx, m))
            if b.startswith("bucket=")
        }
        return marker, live, on_disk

    before, live0, disk0 = _state()
    assert disk0 == live0  # clean before the crash

    real = im._commit
    im._commit = lambda *a, **k: (_ for _ in ()).throw(_Crash())
    try:
        im.compact_index(spark, idx)
        raise AssertionError("injected crash did not fire")
    except _Crash:
        pass
    finally:
        im._commit = real

    after, live1, disk1 = _state()
    assert after == before            # readers never saw the crash
    assert disk1 > live1              # the orphan m= dir is on disk

    im.merge_postings_batch(
        spark.createDataFrame([(4, "a")], schema),
        "event_type", idx, "event_id", batch_id=1,
    )
    _, live2, disk2 = _state()
    assert disk2 == live2             # orphan collected by the commit
    got = {
        r["value"]: sorted(r["doc_ids"])
        for r in im.read_index_postings(spark, idx).collect()
    }
    assert got == {"a": [1, 3, 4], "b": [2]}
