"""Regression tests for the round-4 ADVICE findings (fixed in round 5):

* initial_symbols: the Java split regex '(?!^)(?=.)' excluded Unicode
  line terminators (U+0085, U+2028, U+2029) — they survive tokenize's
  ASCII-only \\s+ split, so Spark fused a multi-char symbol where the
  python twin (list(w)) and the DuckDB oracle split per codepoint. Now
  DOTALL: '(?s)(?!^)(?=.)'.
* StandardScaler zero-variance branch: Spark orders NaN greater than
  every double, so `x > mean` mapped a NaN input to +inf while the
  emulated IEEE result (NaN - mean)/0.0 is NaN (the non-zero-variance
  branch already yielded NaN). Now guards isnan first.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.functions.bpe import initial_symbols
from diffdataflowmlpipelines_spark.operators.encoders import StandardScaler


def test_initial_symbols_splits_unicode_line_terminators(spark):
    # U+2028 (line separator), U+0085 (NEL), U+2029 (paragraph sep)
    # embedded INSIDE a word — tokenize's ASCII \s+ does not strip them.
    for ch in ("\u2028", "\u0085", "\u2029"):
        w = f"a{ch}b"
        got = (
            spark.range(1)
            .select(initial_symbols(F.lit(w)).alias("s"))
            .first()["s"]
        )
        assert got == list(w) + ["</w>"], (repr(w), got)


def test_standard_scaler_zero_variance_nan_input_stays_nan(spark):
    df = spark.createDataFrame(
        [(1.0,), (1.0,), (float("nan"),), (None,), (2.0,), (0.0,)],
        "x double",
    )
    fitted = StandardScaler().fit(df.filter(F.col("x") == 1.0), "x")
    assert fitted.var_ == 0.0
    rows = {
        (None if r["x"] is None else str(r["x"])): r["y"]
        for r in fitted.transform(df, "x", "y").collect()
    }
    import math

    assert math.isnan(rows["nan"])  # was +inf before the guard
    assert rows[None] is None
    assert rows["2.0"] == float("inf")
    assert rows["0.0"] == float("-inf")
    assert math.isnan(rows["1.0"])  # x == mean

