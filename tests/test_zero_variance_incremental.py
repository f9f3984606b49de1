"""Zero-variance epochs through the incremental scaler pipelines.

Reference ``standard_scaler.rs:112``: transform divides by the VARIANCE
with plain f64 IEEE semantics — a constant column (or ``round_to``
collapsing a small variance to 0.0) yields +/-inf, NaN at x == mean.
Spark 4 ANSI ``/`` instead THROWS on a 0.0 divisor; before
standard_scale_expr was shared with streaming/incremental_transform.py
both pipelines crashed mid-stream on any zero-variance epoch whose
encode ran distributed (found in the round-5 streaming-core review).
These tests pin: no crash on the cascade or on an epoch encoded under an
unchanged meta, IEEE values matching the batch StandardScaler, and
NaN-vs-NULL fidelity (computed NaN is a NaN VALUE in the sink, never
collapsed to NULL).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from diffdataflowmlpipelines_spark.operators.encoders import StandardScaler
from diffdataflowmlpipelines_spark.streaming import incremental_transform
from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
    IncrementalMultiScalerPipeline,
    IncrementalScalerPipeline,
)


def _scaled_by_id(pipe):
    return {r["id"]: r["scaled"] for r in pipe.current_output().collect()}


def _same(a, b):
    if a is None or b is None:
        return a is b
    if math.isnan(a):
        return math.isnan(b)
    return a == b


def test_constant_column_distributed_cascade(spark, tmp_path, monkeypatch):
    # SMALL_EPOCH_ROWS=0 sends every batch through toArrow(): epoch 0
    # fits a constant column (var == 0.0 exactly) and the meta-changed
    # cascade divides by 0.0 — the shape that threw DIVIDE_BY_ZERO
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 0)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["id"], "x"
    )
    df = spark.createDataFrame([(0, 5.0), (1, 5.0)], "id bigint, x double")
    pipe.process_epoch(df, 0)
    out = _scaled_by_id(pipe)
    assert math.isnan(out[0]) and math.isnan(out[1])  # x == mean -> 0/0

    # epoch 1 breaks the tie: variance becomes nonzero, plain division
    pipe.process_epoch(
        spark.createDataFrame([(2, 8.0)], "id bigint, x double"), 1
    )
    out = _scaled_by_id(pipe)
    assert out[2] == pytest.approx((8.0 - 6.0) / 2.0)


def test_rounded_variance_collapses_to_zero_matches_batch(
    spark, tmp_path, monkeypatch
):
    # round_to=(-2,-1) rounds var to the nearest 0.1: a genuinely small
    # variance rounds to 0.0 on DISTINCT values -> +/-inf, NaN at the mean
    rows = [(i, 10.0 + (0.1 if i == 0 else 0.0)) for i in range(100)]
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 0)
    pipe = IncrementalScalerPipeline(
        spark,
        str(tmp_path / "p"),
        ["id"],
        "x",
        round_to=(-2, -1),
    )
    df = spark.createDataFrame(rows, "id bigint, x double")
    pipe.process_epoch(df, 0)
    got = _scaled_by_id(pipe)
    oracle = {
        r["id"]: r["y"]
        for r in StandardScaler(round_to=(-2, -1))
        .fit_transform(df, "x", "y")
        .collect()
    }
    assert set(got) == set(oracle)
    for k in got:
        assert _same(got[k], oracle[k]), (k, got[k], oracle[k])
    assert got[0] == float("inf")  # 10.1 > rounded mean 10.0
    assert math.isnan(got[1])  # 10.0 == rounded mean


def test_small_epoch_scalar_lane_keeps_nan_value(spark, tmp_path, monkeypatch):
    # the first single-row epoch cascades (meta changed), the second
    # identical row is encoded under the unchanged meta — the IEEE NaN
    # must stay a VALUE (pd.array would silently collapse it to parquet
    # NULL)
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 64)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["id"], "x"
    )
    pipe.process_epoch_local(
        pd.DataFrame({"id": pd.array([0], dtype="Int64"), "x": [5.0]}), 0
    )
    pipe.process_epoch_local(
        pd.DataFrame({"id": pd.array([1], dtype="Int64"), "x": [5.0]}), 1
    )
    cur = pipe.output_sink.read_current(spark)
    rows = {r["id"]: r for r in cur.collect()}
    # NaN, not NULL: isnan on a NULL would be NULL -> filter drops it
    assert rows[1]["scaled"] is not None and math.isnan(rows[1]["scaled"])
    # a NULL input still encodes to NULL
    pipe.process_epoch_local(
        pd.DataFrame({"id": pd.array([2], dtype="Int64"), "x": [None]}), 2
    )
    rows = {r["id"]: r for r in pipe.output_sink.read_current(spark).collect()}
    assert rows[2]["scaled"] is None


def test_small_epoch_series_lane_zero_variance(spark, tmp_path, monkeypatch):
    # multi-row insert-only epoch under an unchanged zero-variance
    # meta: inf above the mean, NaN at it
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 64)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["id"], "x"
    )
    pipe.process_epoch_local(
        pd.DataFrame({"id": pd.array([0, 1], dtype="Int64"), "x": [5.0, 5.0]}), 0
    )
    assert pipe.last_meta == ((5.0, 0.0),)
    # mean/var of {5,5,5,4,6} stay (5, 0.4) -> rounded? no rounding: the
    # meta CHANGES here, so instead feed rows that keep it unchanged:
    # two more 5.0s (mean 5, var 0)
    pipe.process_epoch_local(
        pd.DataFrame({"id": pd.array([2, 3], dtype="Int64"), "x": [5.0, None]}), 1
    )
    out = {r["id"]: r["scaled"] for r in pipe.output_sink.read_current(spark).collect()}
    assert math.isnan(out[2])
    assert out[3] is None


def test_multi_pipeline_constant_column(spark, tmp_path, monkeypatch):
    # one constant column + one varying column through the list assembly
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 0)
    pipe = IncrementalMultiScalerPipeline(
        spark, str(tmp_path / "p"), ["id"], ["a", "b"]
    )
    df = spark.createDataFrame(
        [(0, 7.0, 1.0), (1, 7.0, 3.0)], "id bigint, a double, b double"
    )
    pipe.process_epoch(df, 0)
    out = {r["id"]: r["features"] for r in pipe.current_output().collect()}
    assert math.isnan(out[0][0]) and math.isnan(out[1][0])  # a: x == mean
    assert out[0][1] == pytest.approx((1.0 - 2.0) / 1.0)  # b: var 1.0
    assert out[1][1] == pytest.approx((3.0 - 2.0) / 1.0)


def test_multi_pipeline_scalar_and_series_lanes(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 64)
    pipe = IncrementalMultiScalerPipeline(
        spark, str(tmp_path / "p"), ["id"], ["a", "b"]
    )
    pipe.process_epoch_local(
        pd.DataFrame(
            {
                "id": pd.array([0, 1], dtype="Int64"),
                "a": [7.0, 7.0],
                "b": [1.0, 3.0],
            }
        ),
        0,
    )
    # insert-only epoch with unchanged meta: a stays constant at
    # its mean (NaN), 9.0 sits above b's mean 2.0 with var 1.0
    pipe.process_epoch_local(
        pd.DataFrame(
            {"id": pd.array([2], dtype="Int64"), "a": [7.0], "b": [None]}
        ),
        1,
    )
    out = {
        r["id"]: r["features"]
        for r in pipe.output_sink.read_current(spark).collect()
    }
    assert math.isnan(out[2][0])  # constant column, x == mean -> IEEE NaN
    assert out[2][1] is None  # NULL input -> NULL element
    # multi-row epoch (a stays constant and the {1.0, 3.0} pair
    # preserves b's mean 2 / var 1, so the meta is identical): NaN kept
    # as a VALUE, NULL as NULL
    pipe.process_epoch_local(
        pd.DataFrame(
            {
                "id": pd.array([3, 4, 5], dtype="Int64"),
                "a": [7.0, 7.0, 7.0],
                "b": [None, 1.0, 3.0],
            }
        ),
        2,
    )
    assert pipe.last_meta == ((7.0, 0.0), (2.0, 1.0))
    out = {
        r["id"]: r["features"]
        for r in pipe.output_sink.read_current(spark).collect()
    }
    assert math.isnan(out[3][0]) and out[3][1] is None
    assert math.isnan(out[4][0])
    assert out[4][1] == pytest.approx(-1.0)
