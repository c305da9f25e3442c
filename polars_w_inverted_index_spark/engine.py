"""Engine facade: the reference's four public query functions, Spark-first.

API parity with /root/reference/src/main.rs §2.10 (SURVEY.md):

- ``get_field_values(field)``                → main.rs:398-499
- ``get_field_values_by_doc_ids(field, ids)``→ main.rs:271-395
- ``get_numeric_stats(field)``               → main.rs:611-689
- ``get_numeric_stats_by_doc_ids(field,ids)``→ main.rs:510-608

Differences by design (SURVEY.md §3): the postings build is in-engine
(groupBy + collect_list) instead of a driver loop, so only final postings
rows cross the executor→driver boundary; the id-set filter can be rewritten
to a scan-prunable isin predicate (plans/rewrite.py); results are returned
as DataFrames (lazy) with ``*_collected`` convenience wrappers that also
produce the reference's ``FieldValueResult``/``NumericStats`` shapes and a
``QueryStats`` record.

Index-awareness: if an :class:`~.plans.catalog.IndexCatalog` is attached and
holds a materialized postings table for (table, field), full-table
field-values queries are answered from the index — a metadata read instead
of a base-table scan+shuffle (Hyperspace-style, VLDB 2021; SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .functions.paths import field_name_to_column
from .operators.inverted_index import postings, to_value_map, to_value_map_arrow
from .operators.stats import numeric_stats
from .plans.rewrite import filter_by_doc_ids
from .stats import QueryStats


@dataclass
class NumericStats:
    """Mirror of the reference's result struct (main.rs:502-507)."""

    min: float | None
    max: float | None
    avg: float | None


@dataclass
class FieldValueResult:
    """Mirror of main.rs:265-268 — the inverted index as a value map.

    Postings are contiguous int64 arrays (numpy) when materialized via
    Arrow — the parity shape for the reference's ``Vec<i64>`` — or python
    lists on the fallback path; both are ``Sequence[int]``."""

    value_map: dict[str, "Sequence[int]"]


class Engine:
    """Query engine over one document table keyed by ``doc_id``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        df: DataFrame | None = None,
        doc_id_col: str = "doc_id",
        low_memory: bool = False,
        index_catalog=None,
        table_name: str | None = None,
    ):
        if df is None and path is None:
            raise ValueError("need path or df")
        self.spark = spark
        self.doc_id_col = doc_id_col
        self.low_memory = low_memory
        self.catalog = index_catalog
        self.table_name = table_name or path or "df"
        self._df = df if df is not None else spark.read.parquet(path)

    @property
    def df(self) -> DataFrame:
        return self._df

    # -- the four reference queries, DataFrame-returning --------------------

    def get_field_values(self, field: str) -> DataFrame:
        """Full-table postings (main.rs:398-499). Consults the index
        catalog first: a materialized index answers this with a plain read."""
        if self.catalog is not None:
            hit = self.catalog.lookup(
                self.table_name, field, doc_id_col=self.doc_id_col
            )
            if hit is not None:
                return hit
        return postings(self._df, field, self.doc_id_col)

    def get_field_values_by_doc_ids(
        self, field: str, doc_ids: Sequence[int]
    ) -> DataFrame:
        """Postings restricted to an id set (main.rs:271-395):
        scan → id filter (join/isin) → project → group.  With an index
        catalog attached, the index serves this as a posting-filter (no
        base-table scan) when semantics allow (unique ids, bounded list)."""
        if self.catalog is not None:
            hit = self.catalog.lookup_by_doc_ids(
                self.table_name, field, doc_ids, doc_id_col=self.doc_id_col
            )
            if hit is not None:
                return hit
        filtered = filter_by_doc_ids(self._df, doc_ids, self.doc_id_col)
        return postings(filtered, field, self.doc_id_col)

    def get_doc_ids_where(self, equals: dict[str, str]) -> DataFrame:
        """``[doc_id]`` rows matching a CONJUNCTION of equality
        predicates (``{"level": "error", "region": "eu"}``) —
        multiplicity-preserving (one output row per matching base row,
        the same contract as the id-set join, SURVEY §1.4.1).

        Consults the catalog for a composite index over EXACTLY this
        field set first (:meth:`~.plans.catalog.IndexCatalog
        .lookup_composite`): a hit answers from the index's tuple-keyed
        postings — each equality a parquet pushed filter on its own
        ``v_<field>`` column, zero base-table scan.  Otherwise the
        conjunction filters the base scan (all predicates pushed down).
        The reference has no conjunctive restriction at all (its only
        row filter is the id-set join, main.rs:310-318); this is the
        log-exploration shape SURVEY §2.2 exposes Spark-first."""
        from pyspark.sql import functions as F

        if not equals:
            raise ValueError("get_doc_ids_where needs >= 1 predicate")
        if self.catalog is not None and len(equals) >= 2:
            hit = self.catalog.lookup_composite(
                self.table_name, equals, doc_id_col=self.doc_id_col
            )
            if hit is not None:
                return hit.select(
                    F.explode("doc_ids").alias(self.doc_id_col)
                )
        if self.catalog is not None and len(equals) == 1:
            # single-equality lookups ride the single-field postings
            # index: value point-filter (pushed to the index scan) +
            # explode — same zero-base-scan serving as the composite
            (field, value), = equals.items()
            hit = self.catalog.lookup(
                self.table_name, field, doc_id_col=self.doc_id_col,
                value=str(value),
            )
            if hit is not None:
                return hit.select(
                    F.explode("doc_ids").alias(self.doc_id_col)
                )
        cond = None
        for f, v in equals.items():
            c = F.col(field_name_to_column(f)).cast("string") == str(v)
            cond = c if cond is None else (cond & c)
        return self._df.where(
            cond & F.col(self.doc_id_col).isNotNull()
        ).select(self.doc_id_col)

    def get_numeric_stats(self, field: str) -> DataFrame:
        """Whole-table min/max/avg (main.rs:611-689)."""
        return numeric_stats(self._df, field)

    def get_numeric_stats_by_doc_ids(
        self, field: str, doc_ids: Sequence[int]
    ) -> DataFrame:
        """min/max/avg over an id set (main.rs:510-608)."""
        filtered = filter_by_doc_ids(self._df, doc_ids, self.doc_id_col)
        return numeric_stats(filtered, field)

    # -- collected variants with reference result shapes + QueryStats -------

    def get_field_values_collected(
        self, field: str, doc_ids: Sequence[int] | None = None
    ) -> tuple[FieldValueResult, QueryStats]:
        name = (
            f"get_field_values_by_doc_ids({field})"
            if doc_ids is not None
            else f"get_field_values({field})"
        )
        st = QueryStats(
            name,
            field_name=field,
            doc_ids_count=len(doc_ids) if doc_ids is not None else None,
        ).attach_spark(self.spark)
        try:
            with st.phase("setup"):
                df = self._df
            if doc_ids is not None:
                with st.phase("filter_creation"):
                    pass
                with st.phase("join_operation"):
                    df = filter_by_doc_ids(df, doc_ids, self.doc_id_col)
            with st.phase("collect"):
                vm = to_value_map_arrow(postings(df, field, self.doc_id_col))
            with st.phase("processing"):
                result = FieldValueResult(vm)
        finally:
            # a raising query must not leave the thread tagged with this
            # query's job group (ADVICE r7) — finalize() won't run
            st.restore_group()
        st.set_result_rows(sum(len(v) for v in result.value_map.values()))
        return result, st.finalize()

    def get_numeric_stats_collected(
        self, field: str, doc_ids: Sequence[int] | None = None
    ) -> tuple[NumericStats, QueryStats]:
        name = (
            f"get_numeric_stats_by_doc_ids({field})"
            if doc_ids is not None
            else f"get_numeric_stats({field})"
        )
        st = QueryStats(
            name,
            field_name=field,
            doc_ids_count=len(doc_ids) if doc_ids is not None else None,
        ).attach_spark(self.spark)
        try:
            with st.phase("setup"):
                df = self._df
            if doc_ids is not None:
                with st.phase("join_operation"):
                    df = filter_by_doc_ids(df, doc_ids, self.doc_id_col)
            with st.phase("collect"):
                row = numeric_stats(df, field).collect()[0]
            with st.phase("processing"):
                result = NumericStats(row["min"], row["max"], row["avg"])
        finally:
            st.restore_group()  # see get_field_values_collected
        # honest row count — the reference forgets this for the full-table
        # stats query (SURVEY.md §2.9/I4); we record 1.
        st.set_result_rows(1)
        return result, st.finalize()

    # -- general predicates (SURVEY.md §2.2: absent in the reference, whose
    # only row-restriction is the id-set join; free in Spark, so exposed) ----

    def where(self, condition) -> "Engine":
        """New Engine over ``df.filter(condition)`` (Column or SQL string).

        Predicates compose with every query: e.g.
        ``eng.where("level = 'error'").get_numeric_stats("payload_size")``.
        Filters reach the parquet scan via Catalyst pushdown — strictly more
        capable than the reference's join-only restriction (main.rs:310-318).
        """
        return Engine(
            self.spark,
            df=self._df.filter(condition),
            doc_id_col=self.doc_id_col,
            low_memory=self.low_memory,
            index_catalog=None,  # filtered view ≠ the indexed base table
            table_name=f"{self.table_name}(filtered)",
        )

    # -- convenience ---------------------------------------------------------

    def to_value_map(self, field: str) -> dict[str, list[int]]:
        return to_value_map(self.get_field_values(field))

    def resolve(self, field: str) -> str:
        return field_name_to_column(field)
