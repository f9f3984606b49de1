"""The one incremental (mean, var_pop) statistic, and the per-key
streaming form of StandardScaler/MinMaxScaler fit built on it
(reference ``standard_scaler.rs:63-98``, ``minmax_scaler.rs:129-166``).

``fold`` and ``meta`` are the statistic: a signed batch's deltas of
(n, NaN count, +inf count, -inf count, sum, sum of squares), Chan-
mergeable and retraction-correct, and the rounded (mean, var) they
give. The incremental scalers (``incremental_transform``) keep one per
value column; ``incremental_scaler_stats`` keeps one per key.

``incremental_scaler_stats`` adds the value->count map needed for exact
min/max under retraction (the reference's MinMaxAggregate count-map,
``minmax_scaler.rs:16-47``; its two heaps are unnecessary at pandas
speed). Emission is suppressed unless the ROUNDED statistics changed
(reference rounding optimization ``standard_scaler.rs:73-76,116-120``):
downstream re-encodes only happen when a statistic drifts past a 10^n
boundary.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.streaming.keyed_fold import keyed_fold

STATS_OUTPUT_SCHEMA = (
    "key string, n long, mean double, var_pop double, min double, max double"
)
STATS_STATE_SCHEMA = (
    "n long, nan long, pinf long, ninf long, s1 double, s2 double, "
    "vals array<double>, cnts array<long>"
)

_NAN, _INF = float("nan"), float("inf")


def _round_to(x: float, n: int) -> float:
    # reference round_to_decimal: half away from zero at 10^n
    f = 10.0 ** n
    q = x / f
    r = int(q + 0.5) if q >= 0 else -int(-q + 0.5)
    return r * f


def fold(x: np.ndarray, valid: np.ndarray, d: np.ndarray) -> tuple:
    """The deltas (n, nan, pinf, ninf, s1, s2) of the values ``x`` with
    signed multiplicities ``d``, under the batch StandardScaler's rule
    (operators/collection._obs_diff): a NULL (``valid`` False) is not an
    observation; a NaN or an infinity is one. NaNs and infinities are
    counted apart and kept out of s1/s2, which they would poison for
    good (a retraction cannot subtract inf or NaN back out)."""
    finite = np.isfinite(x) & valid
    xd = x[finite] * d[finite]
    return (
        int(d[valid].sum()),
        int(d[valid & np.isnan(x)].sum()),
        int(d[valid & (x == _INF)].sum()),
        int(d[valid & (x == -_INF)].sum()),
        float(xd.sum()),
        float((xd * x[finite]).sum()),
    )


def meta(n, nan, pinf, ninf, s1, s2, round_to: tuple[int, int] | None) -> tuple:
    """(mean, var), what the batch StandardScaler returns for the folded
    values: NaN without observations or with a live NaN; a live +inf
    (-inf) makes the mean +inf (-inf) and the variance inf - inf = NaN;
    both signs make both NaN. ``round_to`` rounds finite values only.
    Every NaN is the one module-level object, so equal statistics
    compare equal as tuples (identity first) and trigger no emission."""
    if n <= 0 or nan > 0 or (pinf > 0 and ninf > 0):
        return _NAN, _NAN
    if pinf > 0 or ninf > 0:
        return (_INF if pinf > 0 else -_INF), _NAN
    mean = s1 / n
    var = s2 / n - mean * mean
    if round_to:
        rm, rv = round_to
        mean = _round_to(mean, rm) if math.isfinite(mean) else mean
        var = _round_to(var, rv) if math.isfinite(var) else var
    return mean, var


def _view(stat: tuple, counts: dict, round_to) -> tuple:
    """The emitted (live, mean, var, min, max) of a key: all NaN for a
    dead key, else min/max over the live values in Spark's order, where
    NaN is the greatest."""
    if stat[0] <= 0:
        return False, _NAN, _NAN, _NAN, _NAN
    alive = [v for v, c in counts.items() if c > 0]
    mn = min(alive) if alive else _NAN
    mx = max(alive) if alive and stat[1] <= 0 else _NAN
    return (True, *meta(*stat, round_to), mn, mx)


def _stats_fold(round_to):
    def fold_key(key, state, rows):
        if state is None:
            stat, counts = (0, 0, 0, 0, 0.0, 0.0), {}
        else:
            stat, counts = tuple(state[:6]), dict(zip(state[6], state[7]))
        before = _view(stat, counts, round_to)
        valid = rows["valid"].to_numpy(bool)
        x = rows["x"].to_numpy(np.float64) + 0.0  # -0.0 joins 0.0
        d = rows["diff"].to_numpy(np.int64)
        stat = tuple(a + b for a, b in zip(stat, fold(x, valid, d)))
        keep = valid & ~np.isnan(x)
        for v, c in pd.Series(d[keep]).groupby(x[keep]).sum().items():
            v, c = float(v), int(c) + counts.get(v, 0)
            if c:
                counts[v] = c
            else:
                counts.pop(v, None)
        after = _view(stat, counts, round_to)
        vals = sorted(counts)
        out = []
        if after != before:
            # a key that turns dead emits its n=0 tombstone row (NaN
            # statistics) so an upsert sink retracts the stale ones.
            # key[0] verbatim, never str(): a NULL key must stay NULL
            out.append((key[0], stat[0], *after[1:]))
        return (*stat, vals, [counts[v] for v in vals]), out

    return fold_key


def incremental_scaler_stats(
    df: DataFrame,
    key_col: str,
    value_col: str,
    *,
    round_to: tuple[int, int] | None = None,
) -> DataFrame:
    """Stateful (mean, var_pop, min, max) per key over a stream of
    (key, value, diff). Emits a row for a key only on (rounded) change
    or when it turns live or dead. A NULL value is not an observation; a
    NaN is one, as in the batch StandardScaler and MinMaxScaler fits.
    The validity column carries the difference: a pandas frame reads a
    NULL double as NaN."""
    x = F.col(value_col).cast("double")
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        x.alias("x"),
        x.isNotNull().alias("valid"),
        F.col("diff").cast("long").alias("diff"),
    )
    return keyed_fold(
        keyed,
        "key",
        _stats_fold(round_to),
        state_schema=STATS_STATE_SCHEMA,
        output_schema=STATS_OUTPUT_SCHEMA,
    )
