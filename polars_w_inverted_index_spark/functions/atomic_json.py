"""Atomic JSON files: the one place the package swaps a file into view.

Every marker, manifest, pointer and catalog file the engine keeps beside
its parquet trees is written here.  A write dumps to ``<path>.tmp`` and
renames it over ``path`` with ``os.replace``, which is atomic within one
file system: a reader sees the old file or the new one, never a torn
one, and a crash mid-dump leaves the old file in place (the stale tmp is
overwritten by the next write).  ``tests/test_commit_protocol.py``
checks that no other module calls ``os.replace``.
"""

from __future__ import annotations

import json
import os


def read_json(path: str) -> dict | None:
    """The object stored at ``path``, or None when there is no file.  A
    torn file raises ``ValueError``: no writer here produces one."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` to ``path`` through a tmp file and ``os.replace``,
    making the parent directory first."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
