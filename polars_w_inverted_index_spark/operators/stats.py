"""Whole-table numeric stats (min / max / avg), reference-parity.

Mirrors ``get_numeric_stats_refactored`` (main.rs:611-689): min/max computed
on the native integer/numeric column then cast to double; avg computed on the
double-cast column (main.rs:559-574, SURVEY.md §1.4.6).  Empty input yields a
single row of nulls, matching ``NumericStats { None, None, None }``
(main.rs:582-587).

This is a pure aggregation — Catalyst plans it as partial (map-side) +
final aggregate with no wide shuffle of data rows, so it scales linearly
with input and is network-bound only on the tiny partial-agg states.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.paths import field_name_to_column, sql_ident


def numeric_stats(df: DataFrame, field: str) -> DataFrame:
    """1-row ``DataFrame[min double, max double, avg double]``."""
    col = sql_ident(field_name_to_column(field))
    # one SQL string per aggregate (same plan as the Column form, a
    # handful of py4j calls instead of one per Column node)
    return df.selectExpr(
        f"CAST(min({col}) AS DOUBLE) AS min",
        f"CAST(max({col}) AS DOUBLE) AS max",
        f"avg(CAST({col} AS DOUBLE)) AS avg",
    )
