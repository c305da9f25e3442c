"""Driver-side pickling helper for worker closures.

The repo convention is that every mapInPandas/applyInPandas callback is
SELF-CONTAINED: imports inside the function, everything else a closure
VALUE.  A callback that references a module-level function makes
cloudpickle serialize that function BY REFERENCE (module + qualname),
and the executor-side Python worker then has to
``import polars_w_inverted_index_spark`` — which only resolves when the
driver process happens to run with the repo root on the worker path
(e.g. cwd = repo root).  A grading/driver harness importing the package
from any other cwd gets ``ModuleNotFoundError`` inside tasks (found in
r8 by driving the contract from /tmp; pack_documents was the offender).

When a helper is too substantial to inline (it has its own direct unit
tests), wrap it with :func:`by_value` at the call site: the wrapper is
a same-code copy whose qualname no longer resolves to itself in the
module, which flips cloudpickle to BY-VALUE serialization — the code
object ships inside the task binary and the worker never imports the
package.  Never bind the copy to its own qualname (``f = by_value(f)``
at module level): the lookup would then find the copy and ship it by
reference again.

Every closure handed to a Python stage (``mapInArrow``, ``mapInPandas``,
``applyInPandas``, ``applyInPandasWithState``) calls
:data:`guard_import_caches` as its FIRST statement.  PySpark's worker
runs ``importlib.invalidate_caches()`` at the start of every task, and
on CPython 3.11 each ``zipimporter`` answers that by re-parsing its
whole archive.  A worker holds 16 of them (most into ``pyspark.zip``),
26.7 k directory entries in all, so a task waits ~220 ms (4-core VM)
before its function starts, even on a reused worker.  The guard makes
that re-read depend on the archive actually changing.  It has to run
inside the worker, so it ships by value like the closures themselves
(``tests/test_worker_pickling.py`` scans every call site for it).
"""

from __future__ import annotations

import types

__all__ = ["by_value", "guard_import_caches"]


def by_value(fn):
    """A copy of ``fn`` that cloudpickle serializes by value.

    Constraint: ``fn`` may reference only stdlib/site-package globals
    (imports done inside the function body are always safe) — any
    referenced global that is itself a repo-module object would re-ship
    by reference and reintroduce the trap.  The copy's globals are
    restricted to the names ``fn`` actually references, so an accidental
    repo-global reference fails loudly at pickle/run time instead of
    resolving silently on the driver.
    """
    pkg = __name__.split(".")[0]

    def _check(kind, name, v):
        mod = getattr(v, "__module__", "") or ""
        if mod == pkg or mod.startswith(pkg + "."):
            raise ValueError(
                f"by_value({fn.__name__}): it references repo "
                f"{kind} {name!r} ({mod}), which would re-ship BY "
                "REFERENCE and reintroduce the worker-import trap. "
                "Inline that helper or wrap it with by_value too."
            )

    def _all_names(code):
        # Union co_names across the code object AND every nested code
        # object (defs/lambdas/comprehensions in co_consts, recursively):
        # a global referenced only inside a nested function would
        # otherwise be neither copied into the restricted globals
        # (NameError on executors) nor checked for repo references
        # (silent guard bypass through a nested def).
        names = set(code.co_names)
        for const in code.co_consts:
            if isinstance(const, types.CodeType):
                names |= _all_names(const)
        return names

    g = {}
    for k in sorted(_all_names(fn.__code__)):
        if k not in fn.__globals__:
            continue
        v = fn.__globals__[k]
        _check("global", k, v)
        g[k] = v
    # freevars carry the same hazard through closure cells
    for name, cell in zip(
        fn.__code__.co_freevars, fn.__closure__ or ()
    ):
        try:
            _check("closure variable", name, cell.cell_contents)
        except ValueError:
            raise
        except Exception:  # pragma: no cover - empty cell
            pass
    g["__builtins__"] = __builtins__
    copy = types.FunctionType(
        fn.__code__, g, fn.__name__, fn.__defaults__, fn.__closure__
    )
    copy.__kwdefaults__ = getattr(fn, "__kwdefaults__", None)
    # A copy without ``__module__`` sends cloudpickle's ``_whichmodule``
    # through every loaded module to find one (3.4 ms per function).
    # Naming the source's module costs one lookup, which still misses:
    # the qualname there resolves to ``fn``, not to this copy.
    copy.__module__ = fn.__module__
    return copy


def _guard_import_caches():
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Installs itself once per process (a second call finds the patched
    method's ``__wrapped__`` and returns).  The patched method stats the archive and re-reads
    it through the stock method only when ``(st_ino, st_size,
    st_mtime_ns)`` differs from the stat taken before that importer's
    last read, so a rewritten or replaced archive is re-read as
    before.  An importer with no recorded stat, or an archive that
    cannot be stat'ed (removed), always takes the stock path.  The stat
    is taken BEFORE the read, so a write racing the read only costs one
    extra re-read later.
    """
    import os
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    stock = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is not None and getattr(self, "_read_stat", None) == key:
            return
        stock(self)
        self._read_stat = key

    invalidate_caches.__wrapped__ = stock
    cls.invalidate_caches = invalidate_caches


# The by-value copy is what closures call: its qualname
# (``_guard_import_caches``) resolves to the original, not to itself,
# so cloudpickle ships its code inside every task.
guard_import_caches = by_value(_guard_import_caches)
