"""Cached file-listing digests — the index-staleness gate at 100 TB.

The staleness gates (IndexCatalog postings fingerprints, the ANN cells
fingerprint, the JVM Catalyst rule's twin) digest a table's full
data-file listing — O(#files) stat calls.  At sf0.01 that is
microseconds; a 100 TB table has 10^5–10^6 part-files, and re-walking
it per SERVED QUERY is a full driver-side namespace listing duplicating
work Spark caches in its shared InMemoryFileIndex (r8 VERDICT "what's
wrong" #1).

The cache here keeps the expensive digest behind a CHEAP freshness
token: a digest of every (directory relpath, mtime_ns) pair under the
table root — O(#dirs), which under Hive partitioning is orders of
magnitude smaller than #files, and for a flat table is a single stat
plus one getdents sweep (scandir reads d_type without per-entry stats).
POSIX guarantees a directory's mtime changes whenever an entry is
added, removed, or renamed in it, and Spark never mutates parquet data
files in place (appends add part-files, overwrites write new names), so
any table change the size-based digest would see also moves some
directory mtime.

Fail-closed discipline preserved:

- the token is computed STRICTLY BEFORE the digest walk, so a write
  landing between the two can only cost a later recompute, never a
  stale hit;
- a table whose newest directory mtime is within ``RACE_WINDOW_NS`` of
  now is never cached (git's "racily clean" rule): sub-resolution
  writes during an active ingest cannot be masked;
- builds pass ``use_cache=False`` (explicit invalidation): recorded
  fingerprints always come from a real walk.

CONTRACT — write-once files (documented limit, r9 review): the token
sees entry adds/removes/renames (directory mtime moves) but NOT an
in-place rewrite of an existing file under the same name — no
directory entry changes, so a warm cache would keep serving the
pre-rewrite digest.  Spark never does this (appends add part-files,
overwrites write new names), and Spark's own shared file-status /
footer caches make the SAME write-once assumption (a non-Spark
in-place rewriter already breaks them until ``refreshByPath``).  A
pipeline that rewrites files in place must call
:func:`invalidate_listing_cache` (or rebuild the index, which passes
``use_cache=False``) — the same refresh discipline Spark itself
requires.

The JVM twin lives in PostingsIndexRule.listingToken — same token
construction, same race window, so the two planners cache-hit and
cache-miss identically.
"""

from __future__ import annotations

import hashlib
import os
import stat
import time

__all__ = [
    "RACE_WINDOW_NS",
    "cached_listing_digest",
    "invalidate_listing_cache",
    "listing_token",
    "scan_token",
    "session_scan",
]

RACE_WINDOW_NS = 2_000_000_000  # 2 s: newest-mtime guard window

# (namespace, src) -> (token, digest); process-wide, like the JVM twin
_CACHE: dict[tuple[str, str], tuple[str, str]] = {}


def listing_token(src: str) -> str | None:
    """O(#dirs) freshness token for the directory tree at ``src``:
    sha256 over sorted ``relpath:mtime_ns`` lines of every non-hidden
    directory (root included, as "").  None — meaning "do not cache" —
    when ``src`` is missing, unreadable, or modified within
    ``RACE_WINDOW_NS`` of now."""
    try:
        root_ns = os.stat(src).st_mtime_ns
    except OSError:
        return None
    now = time.time_ns()
    newest = root_ns
    parts: list[tuple[str, int]] = [("", root_ns)]
    stack = [src]
    while stack:
        d = stack.pop()
        try:
            with os.scandir(d) as it:
                for e in it:
                    if e.name.startswith((".", "_")):
                        continue
                    try:
                        if not e.is_dir(follow_symlinks=False):
                            continue
                        ns = e.stat(follow_symlinks=False).st_mtime_ns
                    except OSError:
                        return None
                    newest = max(newest, ns)
                    parts.append((os.path.relpath(e.path, src), ns))
                    stack.append(e.path)
        except OSError:
            return None
    if newest > now - RACE_WINDOW_NS:
        return None  # racily fresh: an in-window write could hide
    h = hashlib.sha256()
    for rel, ns in sorted(parts):
        h.update(f"{rel}:{ns}\n".encode())
    return h.hexdigest()


def cached_listing_digest(
    src: str,
    compute,
    namespace: str,
    use_cache: bool = True,
) -> str | None:
    """``compute(src)`` (the full O(#files) digest walk) memoized behind
    :func:`listing_token`.  ``namespace`` separates digest FORMATS
    (postings vs cells) sharing one path.  ``use_cache=False`` forces a
    real walk AND refreshes the cache — the build-path invalidation."""
    key = (namespace, src)
    token = listing_token(src)  # BEFORE the walk — see module docstring
    if use_cache and token is not None:
        hit = _CACHE.get(key)
        if hit is not None and hit[0] == token:
            return hit[1]
    digest = compute(src)
    if token is not None and digest is not None:
        _CACHE[key] = (token, digest)
    else:
        _CACHE.pop(key, None)
    return digest


def invalidate_listing_cache(src: str | None = None) -> None:
    """Drop cached digests for ``src`` (every namespace), or all."""
    if src is None:
        _CACHE.clear()
        return
    for key in [k for k in _CACHE if k[1] == src]:
        _CACHE.pop(key, None)


def scan_token(src: str) -> str | None:
    """:func:`listing_token` for a directory; for a lone file, its size
    and mtime_ns under the same race window.  None — "do not cache" —
    for anything ``os.stat`` cannot see (``s3a://``/``hdfs://`` URIs,
    missing paths) or written within ``RACE_WINDOW_NS``."""
    try:
        st = os.stat(src)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode):
        return listing_token(src)
    if st.st_mtime_ns > time.time_ns() - RACE_WINDOW_NS:
        return None
    return f"{st.st_size}:{st.st_mtime_ns}"


# Session attribute holding {path: (scan_token, DataFrame)}
_HANDLES_ATTR = "_pwis_scan_handles"


def session_scan(spark, path: str, read):
    """``read()`` — a LAZY scan handle for ``path`` — reused while
    :func:`scan_token` of ``path`` is unchanged.

    Each ``spark.read.parquet`` lists the files, infers the schema (a
    Spark job) and makes py4j round trips before any query runs; a
    reused handle skips all of it.  Only the plan is shared, never data:
    every action still reads the files.  The memo lives on the session
    object, so a stopped session frees its handles and two sessions
    never share plans.  A handle pins its file listing, so the token
    must move whenever the files do: the write-once contract above
    (Spark appends and overwrites always add, remove or rename
    entries), with anything inside the race window read uncached.
    """
    token = scan_token(path)
    memo = getattr(spark, _HANDLES_ATTR, None)
    if memo is None:
        memo = {}
        try:
            setattr(spark, _HANDLES_ATTR, memo)
        except (AttributeError, TypeError):  # session proxy: uncached
            return read()
    hit = memo.get(path)
    if token is not None and hit is not None and hit[0] == token:
        return hit[1]
    df = read()
    if token is not None:
        memo[path] = (token, df)
    else:
        memo.pop(path, None)
    return df
