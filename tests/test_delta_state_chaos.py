"""Delta-state compaction concurrency chaos test (VERDICT r5 task 5).

``streaming/_commit`` promises readers old-or-new state, never a mix:
the ``_LATEST`` marker is the ONLY thing a reader consults, and it is
swapped with tmp-write + ``os.replace`` (``functions/atomic_json``)
after the new ``v=`` directory is fully written.  These tests interpose a real reader at the exact
hazard points of a COMPACTING commit — after the compacted directory is
written but before the swap, at a crash that prevents the swap, and
after the swap — and assert the observed state is exactly the old or
exactly the new corpus total (a mix would double-count the compacted
rows against the old deltas, or drop rows).  Covers near_dedup and
span_scrub alike: both commit through this one helper.
"""

import os

import pytest

from polars_w_inverted_index_spark.functions import atomic_json as AJ
from polars_w_inverted_index_spark.streaming import _commit as DS


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, n long")


def _totals(spark, state_path):
    """What a consumer computes from the committed state: per-key sums
    (keys may repeat across deltas — consumers own the merge)."""
    df = DS.read_state(spark, state_path)
    if df is None:
        return {}
    return {
        r["k"]: r["s"]
        for r in df.groupBy("k").sum("n").withColumnRenamed("sum(n)", "s").collect()
    }


def _commit(spark, state_path, rows, max_delta_dirs=3):
    meta = DS.read_marker(state_path)
    delta = _mk(spark, rows)
    old = DS.read_state(spark, state_path)
    compacted = delta if old is None else old.unionByName(delta)
    return DS.commit_delta(
        state_path, delta, compacted, meta, {}, max_delta_dirs
    )


def test_reader_between_compact_write_and_swap_sees_old(spark, tmp_path, monkeypatch):
    state = str(tmp_path / "state")
    os.makedirs(state)
    # three commits fill the delta list (max_delta_dirs=3)
    _commit(spark, state, [("a", 1)])
    _commit(spark, state, [("b", 2)])
    _commit(spark, state, [("a", 3)])
    old_totals = _totals(spark, state)
    assert old_totals == {"a": 4, "b": 2}
    assert len(DS.read_marker(state)["dirs"]) == 3

    observed = {}
    real_replace = os.replace

    def replace_with_reader(src, dst):
        # the compacted v= directory exists on disk at this instant but
        # the marker has not moved: a concurrent reader must see OLD
        observed["mid"] = _totals(spark, state)
        real_replace(src, dst)

    monkeypatch.setattr(AJ.os, "replace", replace_with_reader)
    _commit(spark, state, [("c", 5)])  # 4th commit → compaction path
    monkeypatch.undo()

    assert observed["mid"] == old_totals  # old, not new, not a mix
    new_totals = _totals(spark, state)
    assert new_totals == {"a": 4, "b": 2, "c": 5}
    # compaction folded to a single directory and pruned the rest
    marker = DS.read_marker(state)
    assert len(marker["dirs"]) == 1
    on_disk = {d for d in os.listdir(state) if d.startswith("v=")}
    assert on_disk == set(marker["dirs"])


def test_crash_before_swap_leaves_old_state_and_replays_cleanly(
    spark, tmp_path, monkeypatch
):
    state = str(tmp_path / "state")
    os.makedirs(state)
    _commit(spark, state, [("a", 1)])
    _commit(spark, state, [("b", 2)])
    _commit(spark, state, [("a", 3)])
    old_totals = _totals(spark, state)
    old_marker = DS.read_marker(state)

    def crash(src, dst):
        raise OSError("simulated crash before marker swap")

    monkeypatch.setattr(AJ.os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        _commit(spark, state, [("c", 5)])
    monkeypatch.undo()

    # the orphaned v= directory exists but is unreferenced: readers are
    # untouched (old marker, old totals)
    assert DS.read_marker(state) == old_marker
    assert _totals(spark, state) == old_totals

    # the replayed commit reuses the same v number (overwrite mode), the
    # swap lands, and the orphan is gone — no double count, no garbage
    _commit(spark, state, [("c", 5)])
    assert _totals(spark, state) == {"a": 4, "b": 2, "c": 5}
    on_disk = {d for d in os.listdir(state) if d.startswith("v=")}
    assert on_disk == set(DS.read_marker(state)["dirs"])


def test_reader_frame_resolved_before_swap_still_serves_old_rows(
    spark, tmp_path
):
    """A reader that RESOLVED its frame before a non-compacting commit
    keeps reading its snapshot: non-compacting commits never delete the
    old directories (they remain referenced), so the lazy frame's pinned
    listing stays valid."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    _commit(spark, state, [("a", 1)])
    held = DS.read_state(spark, state)  # listing pinned here
    _commit(spark, state, [("b", 2)])  # appends v=1, keeps v=0
    assert {r["k"] for r in held.collect()} == {"a"}
    assert _totals(spark, state) == {"a": 1, "b": 2}


def test_interleaved_readers_never_observe_a_mix(spark, tmp_path, monkeypatch):
    """Chaos sweep: run 6 commits (two compactions at max_delta_dirs=3)
    with a reader interposed before AND after every marker swap; every
    observation must equal an exact prefix-total of the commit history —
    never a partial or double-counted hybrid."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    history = [
        [("a", 1)], [("b", 2)], [("a", 3)],
        [("c", 4)], [("b", 5)], [("d", 6)],
    ]

    def prefix_totals(i):
        acc = {}
        for rows in history[:i]:
            for k, n in rows:
                acc[k] = acc.get(k, 0) + n
        return acc

    valid = [prefix_totals(i) for i in range(len(history) + 1)]
    observations = []
    real_replace = os.replace

    def spy_replace(src, dst):
        observations.append(_totals(spark, state))
        real_replace(src, dst)
        observations.append(_totals(spark, state))

    monkeypatch.setattr(AJ.os, "replace", spy_replace)
    for rows in history:
        _commit(spark, state, rows)
    monkeypatch.undo()

    assert len(observations) == 2 * len(history)
    for obs in observations:
        assert obs in valid, (obs, valid)
    assert _totals(spark, state) == prefix_totals(len(history))


def test_compaction_write_is_file_bounded_no_retrigger(spark, tmp_path):
    """r8 ADVICE: the file-count trigger counted the live listing, but
    the compacted write was not coalesced — a compaction landing >=
    max_state_files part-files re-triggered compaction on EVERY
    subsequent commit (each micro-batch an O(corpus) rewrite).  The
    compacted directory must land under half the dial, and the next
    commit must be a plain delta append, not another compaction."""
    state = str(tmp_path / "state_bounded")
    os.makedirs(state)
    max_state_files = 8

    def commit(rows, compact_wide=False):
        meta = DS.read_marker(state)
        delta = _mk(spark, rows)
        old = DS.read_state(spark, state)
        compacted = delta if old is None else old.unionByName(delta)
        if compact_wide:
            # a wide corpus union: without the coalesce this lands
            # >= max_state_files part-files
            compacted = compacted.repartition(2 * max_state_files)
        return DS.commit_delta(
            state, delta, compacted, meta, {},
            max_delta_dirs=2, max_state_files=max_state_files,
        )

    commit([("a", 1)])
    commit([("b", 2)])
    # delta list full (max_delta_dirs=2) -> this commit compacts, and
    # the compacted frame is deliberately 16-partition wide
    meta = commit([("c", 3)], compact_wide=True)
    assert len(meta["dirs"]) == 1  # it DID compact
    assert (
        DS.state_file_count(state, meta) <= max_state_files // 2
    ), DS.state_file_count(state, meta)
    # the very next commit must append a delta, NOT re-compact
    meta2 = commit([("d", 4)])
    assert len(meta2["dirs"]) == 2, meta2
    assert _totals(spark, state) == {"a": 1, "b": 2, "c": 3, "d": 4}
