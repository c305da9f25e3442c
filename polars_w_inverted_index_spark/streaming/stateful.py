"""Custom stateful streaming operator via ``applyInPandasWithState``.

A running per-user accumulator (event count + value sum) that survives
across micro-batches — the pattern for any custom streaming state Spark's
built-in aggregations can't express (per-key models, decaying counters,
CEP-ish logic).  State is partitioned by key across executors; each key's
state lives on exactly one executor per batch, so the operator scales
horizontally with key cardinality, never with stream length.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.pickling import guard_import_caches


# Ship this module's code with the closure (workers may not have the
# package importable — see operators/multimodal.py for the rationale).
def _self_register_by_value() -> None:
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover
        pass


_self_register_by_value()

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double"
STATE_SCHEMA = "n long, total double"


def _update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    guard_import_caches()
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 4)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, sum_value), updated every micro-batch.

    Input must be a streaming DataFrame with (user_id, value) columns.
    """
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
