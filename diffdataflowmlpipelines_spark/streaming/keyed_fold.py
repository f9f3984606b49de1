"""The one grouped-map state contract of the executor-state operators.

Every such operator is a pure per-key fold over the micro-batch's rows
(the reference's per-key aggregates over consolidated deltas, PAPER.md
§1.1; e.g. ``minmax_scaler.rs:16-47``). ``keyed_fold`` owns the Spark
side of it, ``applyInPandasWithState``, so no operator touches Arrow
chunks or ``GroupState``: per group it concatenates the chunks once (a
group larger than ``spark.sql.execution.arrow.maxRecordsPerBatch``
arrives as several), sorts once, stably, on ``order_by``, calls the
fold, stores its new state and emits its rows.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StructType


def keyed_fold(
    df: DataFrame,
    by: str | Sequence[str],
    fold: Callable,
    *,
    state_schema: str,
    output_schema: str,
    order_by: Sequence[str] = (),
    mode: str = "update",
) -> DataFrame:
    """Group ``df`` by ``by`` and run ``fold(key, state, rows) ->
    (new_state, out)`` per group and micro-batch: ``state`` is the
    group's stored tuple (None before its first batch), ``rows`` the
    group's rows of the batch as one pandas frame sorted on
    ``order_by``, ``new_state`` a tuple of ``state_schema`` and ``out``
    the rows to emit, a list of row tuples in ``output_schema``'s order
    or a dict of columns by name (empty: emit nothing)."""
    schema = StructType.fromDDL(output_schema)
    columns, empty = schema.names, pd.DataFrame(columns=df.columns)
    order = list(order_by)

    def run(key, pdfs, state):
        chunks = [c for c in pdfs if len(c)]
        rows = pd.concat(chunks, ignore_index=True) if chunks else empty
        if order:
            rows = rows.sort_values(order, kind="stable")
        new_state, out = fold(key, state.get if state.exists else None, rows)
        state.update(new_state)
        out = pd.DataFrame(out, columns=columns)
        if len(out):
            yield out

    by = [by] if isinstance(by, str) else list(by)
    return df.groupBy(*by).applyInPandasWithState(
        run,
        outputStructType=schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
