"""Property test of the shared incremental statistic (``streaming/stats.py``
``fold``/``meta``), without Spark: over any signed history whose
consolidation is a multiset, the folded statistic gives the batch
StandardScaler's (mean, var_pop) of that multiset, and folding the
negated history returns the zero state."""

from __future__ import annotations

import math
import random

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from diffdataflowmlpipelines_spark.streaming.stats import fold, meta

# finite values are multiples of 1/8 far below 2^53 in every sum, so
# any summation order is exact and the comparison can be exact too
VALUES = st.one_of(
    st.integers(-(2**16), 2**16).map(lambda i: i / 8),
    st.sampled_from([None, math.nan, math.inf, -math.inf, -0.0, 0.0]),
)


def _arrays(history):
    x = np.array([np.nan if v is None else v for v, _ in history], dtype=np.float64)
    valid = np.array([v is not None for v, _ in history], dtype=bool)
    d = np.array([c for _, c in history], dtype=np.int64)
    return x, valid, d


def _batch(multiset):
    """SQL AVG / VAR_POP over the live values, as Spark computes them:
    IEEE sums of the non-NULL values, NaN for no observations."""
    x = np.array([v for v in multiset if v is not None], dtype=np.float64)
    if not len(x):
        return math.nan, math.nan
    with np.errstate(invalid="ignore", over="ignore"):
        mean = float(x.sum()) / len(x)
        return mean, float((x * x).sum()) / len(x) - mean * mean


def _same(a, b):
    return a == b or (math.isnan(a) and math.isnan(b))


@settings(derandomize=True, max_examples=200, deadline=None)
@given(
    live=st.lists(st.tuples(VALUES, st.integers(1, 3)), max_size=12),
    churn=st.lists(VALUES, max_size=8),
    seed=st.integers(0, 2**16),
)
def test_fold_meta_match_batch_rule(live, churn, seed):
    # the signed history: the live multiset's inserts, plus values
    # inserted and retracted again, in a shuffled order
    history = live + [(v, 1) for v in churn] + [(v, -1) for v in churn]
    random.Random(seed).shuffle(history)
    stat = fold(*_arrays(history))
    multiset = [v for v, c in live for _ in range(c)]
    got, want = meta(*stat, None), _batch(multiset)
    assert _same(got[0], want[0]) and _same(got[1], want[1]), (got, want)
    assert stat[0] == sum(1 for v in multiset if v is not None)

    negated = [(v, -c) for v, c in history]
    back = fold(*_arrays(negated))
    assert tuple(a + b for a, b in zip(stat, back)) == (0, 0, 0, 0, 0.0, 0.0)
