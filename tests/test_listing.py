"""functions/listing.py — the O(#dirs) token guarding the O(#files)
fingerprint walks (r8 VERDICT task 3).  Pure-filesystem tests, no Spark.
"""

from __future__ import annotations

import os
import time

from polars_w_inverted_index_spark.functions.listing import (
    cached_listing_digest,
    invalidate_listing_cache,
    listing_token,
    scan_token,
)


def _backdate(path, secs=10.0):
    t = time.time() - secs
    for dp, _dn, _fn in os.walk(path):
        os.utime(dp, (t, t))


def _mk_tree(tmp_path):
    root = tmp_path / "tbl"
    (root / "cell=1").mkdir(parents=True)
    (root / "cell=2").mkdir()
    (root / "cell=1" / "part-0.parquet").write_bytes(b"a" * 10)
    (root / "cell=2" / "part-1.parquet").write_bytes(b"b" * 20)
    (root / "_SUCCESS").write_bytes(b"")
    return str(root)


def test_fresh_tree_is_never_cached(tmp_path):
    src = _mk_tree(tmp_path)
    assert listing_token(src) is None  # inside the race window
    calls = []

    def compute(p):
        calls.append(p)
        return "D"

    invalidate_listing_cache()
    assert cached_listing_digest(src, compute, "t") == "D"
    assert cached_listing_digest(src, compute, "t") == "D"
    assert len(calls) == 2  # racily fresh: every call re-computes


def test_settled_tree_caches_and_any_dir_change_invalidates(tmp_path):
    src = _mk_tree(tmp_path)
    _backdate(src)
    t0 = listing_token(src)
    assert t0 is not None and t0 == listing_token(src)  # stable

    calls = []

    def compute(p):
        calls.append(p)
        return f"D{len(calls)}"

    invalidate_listing_cache()
    assert cached_listing_digest(src, compute, "t") == "D1"
    assert cached_listing_digest(src, compute, "t") == "D1"  # warm hit
    assert len(calls) == 1

    # a file landing in a NESTED partition dir moves that dir's mtime:
    # token changes, digest recomputes (after the window settles)
    with open(os.path.join(src, "cell=2", "part-9.parquet"), "wb") as f:
        f.write(b"c" * 5)
    assert listing_token(src) is None  # fresh again -> uncached
    _backdate(src)
    t1 = listing_token(src)
    assert t1 is not None and t1 != t0
    assert cached_listing_digest(src, compute, "t") == "D2"
    assert len(calls) == 2

    # namespaces are independent cache slots for one path
    assert cached_listing_digest(src, compute, "other") == "D3"
    assert cached_listing_digest(src, compute, "t") == "D2"
    assert len(calls) == 3


def test_missing_and_file_sources_never_cache(tmp_path):
    calls = []

    def compute(p):
        calls.append(p)
        return "D"

    invalidate_listing_cache()
    missing = str(tmp_path / "nope")
    assert listing_token(missing) is None
    assert cached_listing_digest(missing, compute, "t") == "D"

    lone = tmp_path / "table.parquet"
    lone.write_bytes(b"x")
    os.utime(lone, (time.time() - 10, time.time() - 10))
    # a lone file is one stat either way: token declines, compute runs
    # on EVERY call (never cached)
    assert listing_token(str(lone)) is None
    assert cached_listing_digest(str(lone), compute, "t") == "D"
    assert cached_listing_digest(str(lone), compute, "t") == "D"
    assert len(calls) == 3


def test_invalidate_by_path_and_all(tmp_path):
    src = _mk_tree(tmp_path)
    _backdate(src)
    calls = []

    def compute(p):
        calls.append(p)
        return "D"

    invalidate_listing_cache()
    cached_listing_digest(src, compute, "t")
    cached_listing_digest(src, compute, "t")
    assert len(calls) == 1
    invalidate_listing_cache(src)
    cached_listing_digest(src, compute, "t")
    assert len(calls) == 2
    invalidate_listing_cache()
    cached_listing_digest(src, compute, "t")
    assert len(calls) == 3


# ---------------------------------------------------------------------------
# Property fuzz: the fail-closed direction of the token.  Any tree
# mutation the SIZE-BASED digest would see (file added / removed /
# renamed / replaced-with-new-size, at any depth) must also change the
# mtime token once the tree settles — a token collision on a mutated
# tree is the one failure mode that could serve a stale digest.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_DIRS = ["", "a", "a/b", "c"]

_MUTATIONS = st.lists(
    st.tuples(
        st.sampled_from(["add", "remove", "rename", "resize"]),
        st.sampled_from(_DIRS),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(muts=_MUTATIONS)
def test_token_changes_whenever_digest_would(tmp_path_factory, muts):
    """The signal under test is the OS-maintained directory mtime, so
    the harness must NOT utime anything; instead the race window is
    zeroed for the duration (production keeps the 2 s window — here it
    would just force sleeps between snapshots)."""
    import shutil

    from polars_w_inverted_index_spark.functions import listing as L
    from polars_w_inverted_index_spark.plans.catalog import (
        _fingerprint_walk,
    )

    old_win = L.RACE_WINDOW_NS
    L.RACE_WINDOW_NS = 0
    root = str(tmp_path_factory.mktemp("fuzz"))
    try:
        for d in _DIRS:
            os.makedirs(os.path.join(root, d), exist_ok=True)
            for i in range(3):
                p = os.path.join(root, d, f"part-{i}.parquet")
                with open(p, "wb") as f:
                    f.write(b"x" * (10 + i))
        t0, d0 = L.listing_token(root), _fingerprint_walk(root)
        assert t0 is not None

        changed = False
        for op, d, i in muts:
            dp = os.path.join(root, d)
            target = os.path.join(dp, f"part-{i}.parquet")
            if op == "add":
                p = os.path.join(dp, f"new-{i}.parquet")
                if not os.path.exists(p):
                    with open(p, "wb") as f:
                        f.write(b"y")
                    changed = True
            elif op == "remove" and os.path.exists(target):
                os.remove(target)
                changed = True
            elif op == "rename" and os.path.exists(target):
                os.rename(target, target + ".moved")
                changed = True
            elif op == "resize" and os.path.exists(target):
                # parquet-immutability violation on purpose: replace
                # with a DIFFERENT-SIZE file under the same name (the
                # remove+create still moves the parent dir's mtime)
                os.remove(target)
                with open(target, "wb") as f:
                    f.write(b"z" * 99)
                changed = True
        t1, d1 = L.listing_token(root), _fingerprint_walk(root)
        if changed:
            assert d1 != d0  # the digest saw it...
            assert t1 != t0  # ...so must the token: no stale cache hit
        else:
            # no filesystem op ran at all: both snapshots identical
            assert d1 == d0 and t1 == t0
    finally:
        L.RACE_WINDOW_NS = old_win
        shutil.rmtree(root, ignore_errors=True)


def test_scan_token_lone_file_dir_and_uri(tmp_path):
    """The scan-handle memo's key: a settled lone file is keyed on its
    size and mtime (any rewrite moves it), a directory on its listing
    token, and a fresh file or a URI ``os.stat`` cannot see gets None."""
    lone = tmp_path / "t.parquet"
    lone.write_bytes(b"x")
    assert scan_token(str(lone)) is None  # inside the race window
    old = time.time() - 10
    os.utime(lone, (old, old))
    t0 = scan_token(str(lone))
    assert t0 is not None and t0 == scan_token(str(lone))
    lone.write_bytes(b"xy")
    os.utime(lone, (old - 5, old - 5))
    assert scan_token(str(lone)) not in (None, t0)

    src = _mk_tree(tmp_path)
    _backdate(src)
    assert scan_token(src) == listing_token(src) is not None
    assert scan_token(f"file://{src}") is None
    assert scan_token("s3a://bucket/t.parquet") is None
