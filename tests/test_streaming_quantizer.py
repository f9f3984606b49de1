"""Streaming scalar-quantizer fit (streaming/quantizer.py): the
per-dimension retraction-capable min/max statistic folded back into
(mins, scales), pinned EQUAL to the batch scalar_quant_fit over the
consolidated multiset — including when a retraction removes the row
that held a dimension's max — and the quantization produced from the
streamed parameters pinned equal to the batch path's codes."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.functions.similarity import (
    scalar_quant_fit,
    scalar_quantize,
)
from diffdataflowmlpipelines_spark.streaming.quantizer import (
    quant_params_from_stats,
    scalar_quant_stats_stream,
)
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("vec", T.ArrayType(T.DoubleType()), False),
        T.StructField("diff", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)

T0 = datetime(2024, 1, 1)

V0 = [
    [0.0, 10.0, -5.0],
    [1.0, 12.0, -4.0],
    [2.0, 99.0, -3.0],  # vec 2 holds dim-1's max — retracted in epoch 1
]
V1 = [
    [5.0, 11.0, -9.0],  # extends dim-0 max and dim-2 min
]


def ep(i, rows):
    return pd.DataFrame(
        {
            "vec_id": [vid for vid, *_ in rows],
            "vec": [v for _, v, *_ in rows],
            "diff": [r[2] if len(r) > 2 else 1 for r in rows],
            "event_time": [
                T0 + timedelta(seconds=i * 10 + j) for j in range(len(rows))
            ],
        }
    )


def run(spark, tmp_path, epochs):
    src = EpochFileSource(spark, str(tmp_path / "src"), SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["key"])
    for e in epochs:
        src.add_epoch(e)
    q = (
        scalar_quant_stats_stream(src.stream(), "vec")
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sink


def _batch_df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, vec array<double>"
    )


def test_streamed_fit_equals_batch_fit_under_retraction(spark, tmp_path):
    epochs = [
        ep(0, [(i, v) for i, v in enumerate(V0)]),
        ep(1, [(2, V0[2], -1), (3, V1[0])]),  # retract the dim-1 max
    ]
    sink = run(spark, tmp_path, epochs)
    mins_s, scales_s = quant_params_from_stats(
        sink.read_current(spark).collect()
    )

    surviving = [V0[0], V0[1], V1[0]]
    mins_b, scales_b = scalar_quant_fit(_batch_df(spark, surviving), "vec")
    assert mins_s == mins_b
    assert scales_s == scales_b
    # dim-1 max must be 12.0 (the 99.0 was retracted), dim-2 min -9.0
    assert mins_s == [0.0, 10.0, -9.0]
    assert scales_s[1] == pytest.approx((12.0 - 10.0) / 255.0)


def test_streamed_params_quantize_identically(spark, tmp_path):
    epochs = [
        ep(0, [(i, v) for i, v in enumerate(V0)]),
        ep(1, [(2, V0[2], -1), (3, V1[0])]),
    ]
    sink = run(spark, tmp_path, epochs)
    mins_s, scales_s = quant_params_from_stats(
        sink.read_current(spark).collect()
    )
    surviving = _batch_df(spark, [V0[0], V0[1], V1[0]])
    mins_b, scales_b = scalar_quant_fit(surviving, "vec")
    got = (
        scalar_quantize(surviving, "vec", mins_s, scales_s, code_col="c")
        .select("vec_id", "c")
        .collect()
    )
    want = (
        scalar_quantize(surviving, "vec", mins_b, scales_b, code_col="c")
        .select("vec_id", "c")
        .collect()
    )
    assert sorted((r["vec_id"], list(r["c"])) for r in got) == sorted(
        (r["vec_id"], list(r["c"])) for r in want
    )


def test_fully_retracted_dimension_set_raises(spark, tmp_path):
    epochs = [
        ep(0, [(0, [1.0, 2.0])]),
        ep(1, [(0, [1.0, 2.0], -1)]),  # everything retracted
    ]
    sink = run(spark, tmp_path, epochs)
    with pytest.raises(ValueError, match="no live statistics"):
        quant_params_from_stats(sink.read_current(spark).collect())


def test_stale_then_fresh_rows_fold_in_order():
    # whole-vector streams advance every dim's n together, so the
    # fresh emission carries n=2 for BOTH dims; the stale n=1 rows for
    # each dim must be overwritten by the later ones
    rows = [
        {"key": "0", "n": 1, "min": 0.0, "max": 5.0},
        {"key": "1", "n": 1, "min": 0.0, "max": 1.0},
        {"key": "0", "n": 2, "min": 0.0, "max": 10.0},  # later update wins
        {"key": "1", "n": 2, "min": 0.0, "max": 1.0},  # inside old range
    ]
    mins, scales = quant_params_from_stats(rows)
    assert mins == [0.0, 0.0]
    assert scales == [10.0 / 255.0, 1.0 / 255.0]


def test_ragged_len_statistic_raises():
    # the len statistic exposes mixed vector lengths (min != max) even
    # though the per-dim rows are a contiguous prefix
    rows = [
        {"key": "0", "n": 3, "min": 1.0, "max": 2.0},
        {"key": "1", "n": 3, "min": 1.0, "max": 2.0},
        {"key": "2", "n": 1, "min": 3.0, "max": 3.0},
        {"key": "len", "n": 3, "min": 2.0, "max": 3.0},
    ]
    with pytest.raises(ValueError, match="ragged"):
        quant_params_from_stats(rows)


def test_ragged_stream_end_to_end_raises(spark, tmp_path):
    epochs = [
        ep(0, [(0, [1.0, 2.0])]),
        ep(1, [(1, [1.0, 2.0, 3.0])]),  # a 3-dim vector joins a 2-dim corpus
    ]
    sink = run(spark, tmp_path / "ragged", epochs)
    with pytest.raises(ValueError, match="ragged"):
        quant_params_from_stats(sink.read_current(spark).collect())


def test_constant_dimension_not_flagged_as_ragged(spark, tmp_path):
    # regression: incremental_scaler_stats suppresses emissions whose
    # (mean, var, min, max) are unchanged — n excluded — so a constant
    # dim keeps a stale n while varying dims advance. The old n-parity
    # guard rejected this perfectly regular input.
    epochs = [
        ep(0, [(0, [1.0, 2.0])]),
        ep(1, [(1, [1.0, 3.0])]),  # dim 0 constant -> emission suppressed
    ]
    sink = run(spark, tmp_path / "constdim", epochs)
    mins_s, scales_s = quant_params_from_stats(
        sink.read_current(spark).collect()
    )
    mins_b, scales_b = scalar_quant_fit(
        _batch_df(spark, [[1.0, 2.0], [1.0, 3.0]]), "vec"
    )
    assert mins_s == mins_b == [1.0, 2.0]
    assert scales_s == scales_b
    assert scales_s[0] == 0.0  # the constant dim


def test_nan_dimension_gives_nan_scale():
    # a NaN element is an observation: its dimension's max is NaN, which
    # the stats operator emits as NULL, and the scale is NaN as in
    # scalar_quant_fit (Spark orders NaN above every value)
    import math

    rows = [
        {"key": "0", "n": 2, "min": 1.0, "max": None},
        {"key": "1", "n": 2, "min": 0.0, "max": 2.0},
    ]
    mins, scales = quant_params_from_stats(rows)
    assert mins == [1.0, 0.0]
    assert math.isnan(scales[0]) and scales[1] == 2.0 / 255.0
