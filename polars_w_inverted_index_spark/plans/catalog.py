"""IndexCatalog: materialized inverted indexes as reusable artifacts.

The reference rebuilds its postings map per query and discards it
(main.rs:325-385) — SURVEY.md §4 calls materialization out as "the one
custom piece".  An index here is a parquet table ``[value string, doc_ids
array<long>]`` (chunked form adds ``chunk``) written per (table, field).

At 100 TB the index table is itself large; we bucket the write by value hash
(``repartition(n, value)`` + sorted within partitions) so a value-lookup
touches few files and no single file holds the whole index.  Prior art:
Microsoft Hyperspace (VLDB 2021) — index as a side table + a planner-layer
rewrite, no engine fork needed.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from ..functions.atomic_json import read_json, write_json_atomic
from ..functions.listing import session_scan
from ..operators.inverted_index import postings, postings_chunked


def _fingerprint_walk(src: str) -> str | None:
    """The full O(#files) digest walk: sha256 over sorted
    ``relpath:size`` lines, hidden (``.``/``_``) entries skipped —
    byte-identical to PostingsIndexRule.tableFingerprint.  Module-level
    so tests can interpose it (the cache contract: a warm lookup must
    not call this)."""
    import hashlib

    entries: list[tuple[str, int]] = []
    if os.path.isfile(src):
        entries.append(("", os.path.getsize(src)))
    elif os.path.isdir(src):
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames[:] = [
                d for d in dirnames if not d.startswith((".", "_"))
            ]
            for fn in filenames:
                if fn.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, fn)
                entries.append(
                    (os.path.relpath(p, src), os.path.getsize(p))
                )
    else:
        return None
    h = hashlib.sha256()
    for rel, size in sorted(entries):
        h.update(f"{rel}:{size}\n".encode())
    return h.hexdigest()


class IndexCatalog:
    """Tracks which (table, field) postings indexes exist on disk."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._meta_path = os.path.join(root, "_index_catalog.json")
        self._meta: dict[str, dict] = read_json(self._meta_path) or {}

    def _key(self, table: str, field: str) -> str:
        return f"{table}::{field}"

    def _path(self, table: str, field: str) -> str:
        safe = f"{os.path.basename(table)}__{field}".replace("/", "_")
        return os.path.join(self.root, safe)

    def build(
        self,
        df: DataFrame,
        table: str,
        field: str,
        doc_id_col: str = "doc_id",
        chunked: bool = False,
        max_postings_per_row: int = 1_000_000,
        num_buckets: int | None = None,
    ) -> str:
        """Materialize the postings index for (table, field) → parquet."""
        path = self._path(table, field)

        def _build_and_write(frame: DataFrame) -> None:
            idx = (
                postings_chunked(frame, field, doc_id_col, max_postings_per_row)
                if chunked
                else postings(frame, field, doc_id_col)
            )
            if num_buckets:
                idx = idx.repartition(num_buckets, "value").sortWithinPartitions(
                    "value"
                )
            idx.write.mode("overwrite").parquet(path)

        # Bind the index to its source data: the Catalyst rule refuses to
        # serve an index whose recorded source doesn't cover the scanned
        # path, so two tables sharing a file stem (or a relocated table)
        # can never be silently answered from the wrong index.  The source
        # is only recorded when the build frame was an unfiltered scan —
        # build(df.where(...), ...) would otherwise record the table path
        # for an index covering a subset of its rows, and the rule's
        # identity gate would serve wrong answers for full-table queries.
        src = self._source_root(df) if self._is_plain_scan(df) else None
        fp = self._write_with_stable_fingerprint(src, df, _build_and_write)
        if src is not None:
            with open(os.path.join(path, "_index_source"), "w") as f:
                f.write(src)
            # Full identity marker for the Catalyst rule: source path plus
            # the doc_id column and chunking the index was built with — an
            # index on doc_id_col=l_orderkey must not answer a postings
            # query over collect_list(l_partkey), and a chunked index's
            # partial rows must never be served as complete postings.
            # ``fingerprint`` snapshots the base table's file listing so a
            # later append/rewrite makes the index refuse to serve.
            write_json_atomic(
                os.path.join(path, "_index_meta.json"),
                {
                    "source": src,
                    "doc_id_col": doc_id_col,
                    "chunked": chunked,
                    "fingerprint": fp,
                },
            )
        self._meta[self._key(table, field)] = {
            "path": path,
            "chunked": chunked,
            "doc_id_col": doc_id_col,
            "source": src,
            "fingerprint": fp,
        }
        write_json_atomic(self._meta_path, self._meta)
        return path

    def build_many(
        self,
        df: DataFrame,
        table: str,
        fields: list[str],
        doc_id_col: str = "doc_id",
    ) -> dict[str, str]:
        """Materialize postings indexes for MANY fields in one pass.

        Per-field :meth:`build` scans the base table once per field — at
        100 TB that multiplies the dominant cost (the scan) by the field
        count.  Here all fields ride one scan and one shuffle: each row
        explodes into (field, value, doc_id) triples, one groupBy builds
        every field's postings, and the writer partitions by field.  The
        per-field outputs are then moved into the same per-(table, field)
        directory layout ``build`` produces — same markers, same lookup
        and Catalyst-rule behavior, so consumers cannot tell which build
        path made an index.  Returns {field: index_path}.
        """
        import re
        import shutil
        import uuid

        from pyspark.sql import functions as F

        from ..functions.paths import field_name_to_column

        # Field names become partition-directory values; restrict to
        # characters Spark writes verbatim so the relocation below can
        # rely on the literal ``field=<f>`` path (anything needing
        # partition-value escaping would silently miss and produce an
        # empty index).
        for f in fields:
            if not re.fullmatch(r"[A-Za-z0-9_.]+", f):
                raise ValueError(
                    f"build_many field name {f!r} needs partition escaping;"
                    " use per-field build() for such names"
                )
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"),
                        # same dotted-path resolution as postings()/build()
                        F.col(field_name_to_column(f))
                        .cast("string")
                        .alias("value"),
                    )
                    for f in fields
                ]
            )
        ).alias("p")
        # unique staging dir: two concurrent build_many calls for the
        # same table must not clobber each other's partial output
        staging = os.path.join(
            self.root,
            f"_staging_{os.path.basename(table)}_{uuid.uuid4().hex[:8]}",
        )

        def _build_and_write(frame: DataFrame) -> None:
            idx = (
                frame.select(F.col(doc_id_col).cast("long").alias("_id"), pairs)
                .select("p.field", "p.value", "_id")
                .where(F.col("value").isNotNull() & F.col("_id").isNotNull())
                .groupBy("field", "value")
                .agg(F.sort_array(F.collect_list("_id")).alias("doc_ids"))
            )
            idx.write.mode("overwrite").partitionBy("field").parquet(staging)

        src = self._source_root(df) if self._is_plain_scan(df) else None
        fp = self._write_with_stable_fingerprint(src, df, _build_and_write)
        out: dict[str, str] = {}
        for f in fields:
            part_dir = os.path.join(staging, f"field={f}")
            path = self._path(table, f)
            shutil.rmtree(path, ignore_errors=True)
            if os.path.exists(part_dir):
                shutil.move(part_dir, path)
            else:  # field was all-null: a valid, empty index (a bare
                # directory would fail schema inference on read)
                self.spark.createDataFrame(
                    [], "value string, doc_ids array<bigint>"
                ).write.mode("overwrite").parquet(path)
            # partitioned writes put _SUCCESS at the staging root only;
            # each index dir needs its own marker for the serving gates
            open(os.path.join(path, "_SUCCESS"), "w").close()
            if src is not None:
                with open(os.path.join(path, "_index_source"), "w") as fh:
                    fh.write(src)
                write_json_atomic(
                    os.path.join(path, "_index_meta.json"),
                    {
                        "source": src,
                        "doc_id_col": doc_id_col,
                        "chunked": False,
                        "fingerprint": fp,
                    },
                )
            self._meta[self._key(table, f)] = {
                "path": path,
                "chunked": False,
                "doc_id_col": doc_id_col,
                "source": src,
                "fingerprint": fp,
            }
            out[f] = path
        shutil.rmtree(staging, ignore_errors=True)
        write_json_atomic(self._meta_path, self._meta)
        return out

    def adopt_streaming(
        self,
        table: str,
        field: str,
        index_path: str,
        doc_id_col: str = "doc_id",
    ) -> None:
        """Register a STREAMING-maintained index
        (streaming/index_maintenance layout: m=/bucket= dirs behind a
        _LATEST pointer) so engine/planner lookups serve from it — the
        bridge between the foreachBatch maintenance path and the query
        path.  The pointer is re-resolved on every lookup, so queries
        always see the latest committed merge without re-registering.

        Python-planner only: the Catalyst JVM rule serves the static
        parquet layout and its identity gates (_index_meta.json) do not
        read _LATEST, so it correctly declines these entries.
        """
        self._meta[self._key(table, field)] = {
            "path": index_path,
            "chunked": False,
            "doc_id_col": doc_id_col,
            "source": None,
            "streaming": True,
        }
        write_json_atomic(self._meta_path, self._meta)

    def adopt_streaming_composite(
        self,
        table: str,
        fields: list[str],
        index_path: str,
        doc_id_col: str = "doc_id",
    ) -> None:
        """Register a streaming-maintained COMPOSITE index
        (streaming/index_maintenance.merge_composite_postings_batch
        layout) so :meth:`lookup_composite` serves conjunctive equality
        lookups from it — freshness is then the STREAM's contract
        (every committed micro-batch is visible on the next lookup via
        the re-resolved pointer), not the static fingerprint gate, which
        is exactly what closes r8 VERDICT task 8: a statically-built
        composite index is de-served by ANY base append until rebuilt.
        Python-planner only, like :meth:`adopt_streaming`."""
        norm = self._composite_fields(fields)
        if len(norm) < 2:
            raise ValueError(
                "adopt_streaming_composite needs >= 2 fields; use "
                "adopt_streaming for one"
            )
        fkey = self._composite_field_key(fields)
        self._meta[self._key(table, fkey)] = {
            "path": index_path,
            "chunked": False,
            "doc_id_col": doc_id_col,
            "source": None,
            "streaming": True,
            "composite_fields": norm,
        }
        write_json_atomic(self._meta_path, self._meta)

    def _write_with_stable_fingerprint(self, src, frame, write_fn) -> str | None:
        """Materialize an index (``write_fn(frame)`` builds and writes it
        from the given base frame) and return the base-table fingerprint
        it is valid for, closing the build-time TOCTOU (ADVICE r5): the
        fingerprint is taken BEFORE the write starts and re-taken after
        it finishes — parquet files are immutable, so an unchanged
        (listing, sizes) digest across the whole scan window proves the
        index saw exactly that snapshot.  A mismatch (an append landed
        mid-build) rebuilds once against the settled table, and a table
        still moving on the second attempt fails loudly rather than
        recording a fingerprint the index contents don't match.

        The rebuild does NOT re-execute the original frame (ADVICE r6):
        Spark pins a frame's file listing (InMemoryFileIndex) when the
        frame is created, so re-running it would rebuild from the
        PRE-append snapshot and stamp it with the post-append
        fingerprint — exactly the stale-serving this retry exists to
        prevent.  Instead the retry re-reads ``src`` fresh (re-resolving
        the listing, after invalidating the session's file-status cache)
        and hands the new frame to ``write_fn``.  The retry fingerprint
        is snapshotted BEFORE the fresh read so the
        listing-covers-fingerprint invariant holds on both attempts."""
        if src is None:
            write_fn(frame)
            return None
        # use_cache=False throughout the build: every fingerprint that
        # can be RECORDED comes from a real walk (and refreshes the
        # serving cache as a side effect) — the explicit build-time
        # invalidation the listing cache contract requires
        fp = self._table_fingerprint(src, use_cache=False)
        write_fn(frame)
        after = self._table_fingerprint(src, use_cache=False)
        if after == fp:
            return fp
        fp = after
        try:
            self.spark.catalog.refreshByPath(src)
        except Exception:  # pragma: no cover - cache invalidation best-effort
            pass
        write_fn(self.spark.read.parquet(src))
        after = self._table_fingerprint(src, use_cache=False)
        if after == fp:
            return fp
        raise RuntimeError(
            f"index build raced concurrent writes to {src} twice — the "
            "base table is being appended to during the build; pause the "
            "writer (single-writer build contract) or retry later."
        )

    @staticmethod
    def _is_plain_scan(df: DataFrame) -> bool:
        """True when the frame is the raw table scan (optionally projected)
        — no row-subsetting operator (Filter/Join/Sample/Limit/Aggregate)
        between the relation and the build.  Column-only Projects are fine:
        they never drop rows, so the index still covers the table."""
        plan = df._jdf.queryExecution().analyzed().toString()
        allowed = ("Relation", "Project", "SubqueryAlias")
        for line in plan.splitlines():
            node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
            if node and not node.startswith(allowed):
                return False
        return True

    @staticmethod
    def _table_fingerprint(
        src: str | None, use_cache: bool = True
    ) -> str | None:
        """Snapshot id of the base table: digest of its data-file listing
        (relative path + size).

        Spark never mutates parquet files in place — appends add new
        part-files, overwrites write new names — so the (listing, sizes)
        pair changes on EVERY append/rewrite of the table.  The reference
        rebuilds its postings map per query (main.rs:325-385) and cannot
        go stale; a materializing engine must detect that the base table
        moved out from under the index, or the first post-append query
        silently serves pre-append postings.  On an object store /
        HDFS the same digest is one prefix listing; table formats with
        real snapshot ids (Iceberg/Delta) would record that instead.

        The O(#files) walk is memoized behind an O(#dirs) mtime token
        (functions/listing.py — r8 VERDICT task 3): at 100 TB a table
        has 10^5–10^6 part-files and a per-lookup full listing is the
        one serving-path driver cost that grows with corpus file count.
        Builds pass ``use_cache=False`` so every RECORDED fingerprint
        comes from a real walk; the gate stays fail-closed (a stale
        token can only force a recompute, never a stale hit).
        """
        from ..functions.listing import cached_listing_digest

        if src is None:
            return None
        return cached_listing_digest(
            src, _fingerprint_walk, "postings", use_cache=use_cache
        )

    @staticmethod
    def _source_root(df: DataFrame) -> str | None:
        """Common root of the frame's input files (scheme-stripped); None
        for non-file sources (in-memory frames)."""
        from urllib.parse import urlparse

        files = [
            urlparse(f).path if "://" in f or f.startswith("file:") else f
            for f in df.inputFiles()
        ]
        if not files:
            return None
        if len(files) == 1:
            p = files[0]
            # A lone Spark part-file means the TABLE is its directory —
            # record that, or the staleness fingerprint would watch one
            # immutable file and miss appends landing beside it.  A
            # user-named single file (lineitem.parquet) IS the table.
            if os.path.basename(p).startswith("part-") and os.path.isdir(
                os.path.dirname(p)
            ):
                return os.path.dirname(p)
            return p
        common = os.path.commonpath(files)
        return common

    def _scan(self, path: str) -> DataFrame:
        """Lazy scan of a static index directory, reused across lookups
        while its listing token is unchanged (functions/listing
        .session_scan): a fresh ``spark.read.parquet`` re-lists the
        files and runs a schema-inference job on every lookup.  Any
        rebuild rewrites the directory and moves the token; the gates in
        the callers still run on every lookup."""
        return session_scan(
            self.spark, path, lambda: self.spark.read.parquet(path)
        )

    def lookup(
        self,
        table: str,
        field: str,
        doc_id_col: str | None = None,
        value: str | None = None,
    ) -> DataFrame | None:
        """Postings DataFrame for (table, field) if materialized, else None.

        Chunked indexes are re-merged lazily (groupBy value + flatten) so
        callers always see the logical ``[value, doc_ids]`` shape.

        ``value`` restricts the result to that value's rows (a point
        lookup).  A streaming entry then reads only the value's bucket
        and returns its chunk rows unmerged — several rows whose
        ``doc_ids`` together are the postings, the same multiset under
        an ``explode`` (:func:`..streaming.index_maintenance
        .read_index_postings`); a static entry filters the frame above.

        Scale guard: for a CHUNKED index the merge rebuilds exactly the
        unbounded per-value array the chunked form exists to avoid — safe
        only when the consumer filters by value first (Catalyst pushes the
        value predicate below the merge) or the result set is small.  A
        whole-index merged read of a hot-valued chunked index at scale
        should use the raw ``(value, chunk, doc_ids)`` rows instead
        (``spark.read.parquet`` on the index path).

        ``doc_id_col``: when given, the lookup DECLINES (returns None)
        unless the index was built over that id column — the same
        identity gate the Catalyst rule enforces via _index_meta.json; an
        index of l_orderkey postings must never answer a query expecting
        l_partkey postings.  Callers that pass None own that check.

        Staleness gate: when the build recorded a base-table fingerprint
        (file listing + sizes — see :meth:`_table_fingerprint`), the
        lookup recomputes it and DECLINES on mismatch, so an index over
        a table that was later appended to or rewritten falls back to
        the base-table plan instead of serving pre-append postings.
        Rebuild with :meth:`build` to re-validate.  Per-lookup cost is
        an O(#dirs) mtime-token walk; the O(#files) digest itself is
        cached behind that token (functions/listing.py) — at 100 TB the
        difference between stat-ing a handful of partition dirs and
        re-listing 10^6 part-files per query.
        """
        meta = self._meta.get(self._key(table, field))
        if meta is None or not os.path.exists(meta["path"]):
            return None
        if meta.get("composite_fields"):
            # a composite entry (tuple-keyed v_<f> columns) must never be
            # served as a single-field postings table — the schema
            # differs; reachable when a literal field name collides with
            # an order-normalized composite key
            return None
        if (
            doc_id_col is not None
            and meta.get("doc_id_col") != doc_id_col
        ):
            return None
        fp = meta.get("fingerprint")
        if fp is not None and self._table_fingerprint(
            meta.get("source")
        ) != fp:
            return None  # base table changed since the build: stale
        if meta.get("streaming"):
            from ..streaming.index_maintenance import read_index_postings

            return read_index_postings(self.spark, meta["path"], value)
        from pyspark.sql import functions as F

        df = self._scan(meta["path"])
        if meta.get("chunked"):
            df = (
                df.groupBy("value")
                .agg(F.sort_array(F.flatten(F.collect_list("doc_ids"))).alias("doc_ids"))
            )
        if value is not None:
            df = df.where(F.col("value") == F.lit(str(value)))
        return df

    def lookup_by_doc_ids(
        self, table: str, field: str, doc_ids, doc_id_col: str | None = None
    ) -> DataFrame | None:
        """Id-set postings (main.rs:271-395) served FROM the index: filter
        each value's postings to the requested ids and drop emptied values
        — no base-table scan.  Returns None (caller falls back to the base
        plan) when the index is absent, was built over a different
        ``doc_id_col`` (identity gate, see :meth:`lookup`), the id list
        has duplicates (the reference's join semantics duplicate postings
        per duplicated requested id — a posting-filter cannot), or the
        list is too large for a literal predicate
        (plans/rewrite.ISIN_THRESHOLD)."""
        from .rewrite import ISIN_THRESHOLD, sql_in_ids

        ids = [int(i) for i in doc_ids]
        if len(ids) > ISIN_THRESHOLD or len(set(ids)) != len(ids):
            return None
        df = self.lookup(table, field, doc_id_col=doc_id_col)
        if df is None:
            return None
        return df.selectExpr(
            "value", f"filter(doc_ids, x -> {sql_in_ids('x', ids)}) AS doc_ids"
        ).where("size(doc_ids) > 0")

    # -- composite (multi-field) indexes ----------------------------------

    @staticmethod
    def _composite_fields(fields) -> list[str]:
        # conjunctions are order-free and dotted paths alias their
        # flattened column (paths.field_name_to_column): normalize BOTH
        # so build(a.b, c) serves lookup(c, a_b) and the value columns
        # are legal unquoted names (v_a.b would parse as struct access)
        from ..functions.paths import field_name_to_column

        return sorted(field_name_to_column(f) for f in fields)

    @classmethod
    def _composite_field_key(cls, fields) -> str:
        return "+".join(cls._composite_fields(fields))

    def build_composite(
        self,
        df: DataFrame,
        table: str,
        fields: list[str],
        doc_id_col: str = "doc_id",
        num_buckets: int | None = None,
    ) -> str:
        """Materialize postings keyed by the VALUE TUPLE of ``fields``
        — the index a conjunctive filter (level = 'error' AND region =
        'eu') is served from with zero base-table scan.

        Layout: one row per distinct tuple, ``[v_<f1>, v_<f2>, ...,
        doc_ids array<long>]`` with the tuple values as SEPARATE string
        columns (not a packed struct/string): each equality in a lookup
        then reaches the parquet reader as its own pushed filter, so
        row-group stats prune on every component independently.  The
        write is clustered by the tuple (repartition + sort within
        partitions) so each tuple's postings sit in few row groups.
        Rows where ANY component is null are suppressed — equality
        conjunctions cannot match null (the single-field null-pair
        suppression, P5, extended to tuples).

        Same source/fingerprint/doc_id identity discipline as
        :meth:`build`; the entry lives in the same catalog metadata
        under the order-normalized key ``table::f1+f2``."""
        from pyspark.sql import functions as F

        from ..functions.paths import field_name_to_column

        if len(fields) < 2:
            raise ValueError(
                "build_composite needs >= 2 fields; use build() for one"
            )
        norm = self._composite_fields(fields)
        if len(set(norm)) != len(norm):
            raise ValueError(f"duplicate fields in {fields}")
        for f in norm:
            if "+" in f:
                # '+' joins the order-normalized catalog key — a field
                # containing it would make (a+b) ambiguous with the
                # composite of (a, b)
                raise ValueError(
                    f"composite field name {f!r} contains '+'; rename "
                    "or use a single-field build()"
                )
        fkey = self._composite_field_key(fields)
        path = self._path(table, fkey.replace("+", "__AND__"))
        vcols = [f"v_{f}" for f in norm]

        def _build_and_write(frame: DataFrame) -> None:
            # norm entries ARE the flattened column names
            sel = [
                F.col(f).cast("string").alias(f"v_{f}") for f in norm
            ]
            idx = (
                frame.select(
                    F.col(doc_id_col).cast("long").alias("_id"), *sel
                )
                .where(
                    reduce(
                        lambda a, b: a & b,
                        [F.col(c).isNotNull() for c in vcols],
                        F.col("_id").isNotNull(),
                    )
                )
                .groupBy(*vcols)
                .agg(F.sort_array(F.collect_list("_id")).alias("doc_ids"))
            )
            if num_buckets:
                idx = idx.repartition(
                    num_buckets, *vcols
                ).sortWithinPartitions(*vcols)
            idx.write.mode("overwrite").parquet(path)

        src = self._source_root(df) if self._is_plain_scan(df) else None
        fp = self._write_with_stable_fingerprint(src, df, _build_and_write)
        meta = {
            "path": path,
            "chunked": False,
            "doc_id_col": doc_id_col,
            "source": src,
            "fingerprint": fp,
            "composite_fields": norm,
        }
        if src is not None:
            with open(os.path.join(path, "_index_source"), "w") as f:
                f.write(src)
            write_json_atomic(os.path.join(path, "_index_meta.json"), meta)
        self._meta[self._key(table, fkey)] = meta
        write_json_atomic(self._meta_path, self._meta)
        return path

    def lookup_composite(
        self,
        table: str,
        equals: dict[str, str],
        doc_id_col: str | None = None,
    ) -> DataFrame | None:
        """Postings row(s) for a conjunctive equality lookup, served
        FROM the composite index: ``[v_<f1>, ..., doc_ids]`` filtered to
        the requested tuple — every equality is a parquet pushed filter
        on its own column, no base-table scan.  Returns None (caller
        falls back to the base plan) when no composite index exists for
        EXACTLY this field set (a (level, region) index cannot serve a
        (level,)-only filter — its rows partition doc_ids by region
        too, which a correct fallback must re-merge; the single-field
        index or base scan owns that query), or on the usual identity /
        staleness gates (see :meth:`lookup`)."""
        from pyspark.sql import functions as F

        norm_eq = {
            nf: v
            for nf, v in zip(
                (self._composite_fields([f])[0] for f in equals),
                equals.values(),
            )
        }
        fkey = self._composite_field_key(equals)
        meta = self._meta.get(self._key(table, fkey))
        if meta is None or not os.path.exists(meta["path"]):
            return None
        if meta.get("composite_fields") != sorted(norm_eq):
            return None
        if doc_id_col is not None and meta.get("doc_id_col") != doc_id_col:
            return None
        fp = meta.get("fingerprint")
        if fp is not None and self._table_fingerprint(
            meta.get("source")
        ) != fp:
            return None  # base table changed since the build: stale
        if meta.get("streaming"):
            from ..streaming.index_maintenance import read_composite_index

            df = read_composite_index(self.spark, meta["path"])
            if df is None:
                return None
        else:
            df = self._scan(meta["path"])
        for f, v in norm_eq.items():
            df = df.where(F.col(f"v_{f}") == F.lit(str(v)))
        return df

    def drop(self, table: str, field: str) -> None:
        self._meta.pop(self._key(table, field), None)
        write_json_atomic(self._meta_path, self._meta)
