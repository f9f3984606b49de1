"""Streaming scalar-quantizer fit — the incremental face of
``functions/similarity.scalar_quant_fit``.

A 100 TB embedding store doesn't refit its int8 quantizer by
rescanning the corpus: the per-dimension (min, max) is exactly the
retraction-capable statistic the streaming core already maintains for
MinMaxScaler (reference ``minmax_scaler.rs:53-72``), keyed by
embedding DIMENSION instead of by feature column. This module is that
composition: posexplode fan-out (stateless, stays in the scan stage)
into ``incremental_scaler_stats``, plus the fold from the emitted
update rows back to the ``(mins, scales)`` pair that
``scalar_quantize`` consumes — so batch fit and streamed fit are the
same numbers, test-pinned, including under retractions of the row
that held a dimension's extreme.

Raggedness is detected via a dedicated LENGTH statistic streamed
alongside the per-dim rows (key ``len``, value ``size(vec)``), NOT by
comparing per-dim populations: ``incremental_scaler_stats`` suppresses
emissions whose (mean, var, min, max) are unchanged — n excluded — so
a constant (dead/padding) dimension legitimately keeps a stale ``n``
while varying dims advance, and an n-parity guard would reject
perfectly regular input. ``min(len) != max(len)`` is suppression-proof
(a second distinct length always changes the len statistic) and
retraction-correct (the multiset forgets a retracted length)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stats import incremental_scaler_stats

LEN_KEY = "len"


def scalar_quant_stats_stream(
    df: DataFrame, vec_col: str, *, diff_col: str = "diff"
) -> DataFrame:
    """Per-dimension incremental statistics over a stream of
    ``(vec, diff)`` deltas, plus one ``len`` row per vector carrying
    ``size(vec)`` (the ragged-input detector — see module docstring).
    Output (update mode): ``(key, n, mean, var_pop, min, max)`` with
    key in {"0", "1", ..., "len"} — state is bounded by dimensionality
    x distinct values per dim, never by corpus size.

    Element-level NULLs (a non-NULL vector containing NULL elements)
    DIVERGE from the batch fit (advice r5 #3, documented contract):
    ``scalar_quant_fit`` raises 'ragged embedding dimensions' because
    per-dim counts skew, while this stream feeds them into
    ``incremental_scaler_stats``, where a NULL x is not an observation
    — the streamed fit proceeds on the non-NULL population. The ``len``
    statistic counts elements including NULLs, so it cannot see them
    either. Pre-filter element-NULL vectors upstream when the batch
    parity claim must hold for such inputs. A NaN element IS an
    observation, as in ``scalar_quant_fit``: its dimension's max is NaN
    (emitted as NULL), and so is its scale."""
    vec = F.col(vec_col).cast("array<double>")
    exploded = df.select(
        F.posexplode(vec).alias("dim", "x"),
        F.col(diff_col).cast("long").alias("diff"),
    ).select(F.col("dim").cast("string").alias("dim"), "x", "diff")
    lens = df.filter(vec.isNotNull()).select(
        F.lit(LEN_KEY).alias("dim"),
        F.size(vec).cast("double").alias("x"),
        F.col(diff_col).cast("long").alias("diff"),
    )
    return incremental_scaler_stats(exploded.unionByName(lens), "dim", "x")


def quant_params_from_stats(rows) -> tuple[list[float], list[float]]:
    """Fold emitted stats rows into ``(mins, scales)`` for
    :func:`~diffdataflowmlpipelines_spark.functions.similarity.scalar_quantize`.

    ``rows`` must be ordered oldest-first (e.g. the exactly-once sink's
    frame sorted by epoch; ``read_current`` already dedups
    latest-per-key): later updates for a key overwrite earlier ones,
    exactly the update-mode contract. Dimensions whose multiset emptied
    out (n == 0 after retractions) are dropped before the contiguity
    check. Raggedness comes from the ``len`` statistic when present
    (min != max -> mixed vector lengths); per-dim ``n`` values are NOT
    compared — suppression keeps them stale for constant dims."""
    latest: dict[str, dict] = {}
    for r in rows:
        latest[str(r["key"])] = r
    len_row = latest.pop(LEN_KEY, None)
    if (
        len_row is not None
        and int(len_row["n"]) > 0
        and float(len_row["min"]) != float(len_row["max"])
    ):
        raise ValueError("quant_params_from_stats: ragged dimensions")
    live = {int(k): r for k, r in latest.items() if int(r["n"]) > 0}
    if not live:
        raise ValueError("quant_params_from_stats: no live statistics")
    dims = sorted(live)
    if dims != list(range(len(dims))):
        raise ValueError("quant_params_from_stats: ragged dimensions")
    if len_row is not None and int(len_row["n"]) > 0 and len(dims) != int(
        float(len_row["max"])
    ):
        # a TRAILING all-retracted dim leaves a contiguous prefix; the
        # recorded vector length still exposes it
        raise ValueError("quant_params_from_stats: ragged dimensions")
    # a NaN statistic crosses the pandas boundary as NULL
    mins, maxs = (
        [float("nan") if live[d][c] is None else float(live[d][c]) for d in dims]
        for c in ("min", "max")
    )
    return mins, [(mx - mn) / 255.0 for mn, mx in zip(mins, maxs)]
