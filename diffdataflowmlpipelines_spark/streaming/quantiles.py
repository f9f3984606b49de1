"""Streaming bottom-k quantile sketch: the incremental twin of
``functions/sketches.bottomk_quantile_sketch`` (KMV uniform sample —
keep the k rows per group with the smallest md5 row hash, answer
quantiles exactly within the sample).

Because bottom-k is a semilattice (merge == sketch of the concatenated
input, tested on the batch side), the streaming fold is exact, not
heuristic: after ANY in-order or out-of-order epoch split, the held
sample — and therefore every emitted quantile — is identical to the
batch sketch over everything seen so far. Replayed rows are free: the
row hash is a pure function of the id, so a duplicate delivery collides
with its existing hash and is dropped (at-least-once in, exactly-once
state).

The fold runs per group through ``keyed_fold``. State per group is two
parallel arrays bounded at k (hash, value) — O(k) regardless of stream
volume, the same bounded-state story as the count-min cells and HLL
registers. Emission is update-mode: one row per
group per batch that touched it, carrying the current quantile
estimates; the latest row per group wins (ExactlyOnceParquetSink
``read_current`` semantics).

(Reference has no sketches — SURVEY.md §2.3; the streaming treatment
follows this repo's stateful-operator conventions, not a reference
counterpart.)
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from diffdataflowmlpipelines_spark.streaming.keyed_fold import keyed_fold

QUANTILE_OUTPUT_SCHEMA = (
    "group string, n_sample long, p50 double, p90 double, p99 double"
)
QUANTILE_STATE_SCHEMA = "hs array<long>, vals array<double>"


def md5_hash60_py(s: str) -> int:
    """Driver/worker-python twin of functions/dedup.md5_hash60 (first 15
    hex chars of md5 as a 60-bit int) — bit-identical to the Spark and
    DuckDB expressions, so batch and streaming sketches sample the SAME
    rows."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _percentile_cont(sorted_vals: list[float], q: float) -> float:
    """ANSI percentile_cont on an ascending list — the (n-1)*q linear
    interpolation Spark's ``percentile`` and DuckDB implement."""
    n = len(sorted_vals)
    if n == 1:
        return sorted_vals[0]
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = math.ceil(pos)
    lower = sorted_vals[int(lo)]
    higher = sorted_vals[int(hi)]
    return lower + (higher - lower) * (pos - lo)


def _quantiles_fold(k: int, quantiles: tuple[float, ...]):
    def fold(key, state, pdf):
        sample = dict(zip(*state)) if state else {}
        touched = False
        pdf = pdf[pdf["id"].notna()]
        for rid, val in zip(pdf["id"], pdf["value"]):
            # id arrives Spark-cast to string (matching the batch
            # sketch's md5_hash60(cast(id as string)) input exactly)
            # — casting to long here instead would hash '0123' as
            # '123' and abort on non-numeric ids under ANSI
            h = md5_hash60_py(rid)
            if h in sample:
                continue  # duplicate delivery of the same row id
            sample[h] = None if pd.isna(val) else float(val)
            touched = True
        for h in sorted(sample)[k:]:
            del sample[h]
        hs = sorted(sample)
        out = []
        vals = sorted(v for v in sample.values() if v is not None)
        if touched and vals:
            out.append(
                [key[0], len(sample)]
                + [round(_percentile_cont(vals, q), 6) for q in quantiles]
            )
        return (hs, [sample[h] for h in hs]), out

    return fold


def streaming_bottomk_quantiles(
    rows: DataFrame,
    *,
    group_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    k: int = 128,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Update-mode quantile estimates per group over an unbounded
    stream. NULL values stay in the sample (they occupy their hash slot,
    exactly like the batch sketch's row) but are excluded from the
    quantile computation — the sample stays a uniform row sample, not a
    value sample."""
    if len(quantiles) != 3:
        raise ValueError("schema is pinned to three quantile columns")
    keyed = rows.select(
        F.col(group_col).cast("string").alias("group"),
        # string, NOT long: the batch twin hashes cast(id as string), so
        # any id type the batch sketch accepts must sample identically
        # here (a long cast would both diverge on string ids like '0123'
        # and throw under Spark 4 ANSI on non-numeric ones)
        F.col(id_col).cast("string").alias("id"),
        F.col(value_col).cast("double").alias("value"),
    )
    return keyed_fold(
        keyed,
        "group",
        _quantiles_fold(k, quantiles),
        state_schema=QUANTILE_STATE_SCHEMA,
        output_schema=QUANTILE_OUTPUT_SCHEMA,
    )
