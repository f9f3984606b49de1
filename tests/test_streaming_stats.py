"""Incremental scaler statistics: retraction-correct running
(mean, var, min, max) per key with rounding-gated update suppression
(reference standard_scaler.rs rounding optimization)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource
from diffdataflowmlpipelines_spark.streaming.stats import incremental_scaler_stats

SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("x", T.DoubleType(), False),
        T.StructField("diff", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)

T0 = datetime(2024, 1, 1)


def ep(i, rows):
    return pd.DataFrame(
        {
            "key": [k for k, *_ in rows],
            "x": [x for _, x, *_ in rows],
            "diff": [r[2] if len(r) > 2 else 1 for r in rows],
            "event_time": [T0 + timedelta(seconds=i * 10 + j) for j in range(len(rows))],
        }
    )


def run(spark, tmp_path, epochs, schema=SCHEMA, **kw):
    src = EpochFileSource(spark, str(tmp_path / "src"), schema)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["key"])
    for e in epochs:
        src.add_epoch(e)
    q = (
        incremental_scaler_stats(src.stream(), "key", "x", **kw)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sink


def test_stats_parity_and_retraction(spark, tmp_path):
    # epoch 0: values 0..9 on key 'a'; epoch 1: retract the 9
    epochs = [
        ep(0, [("a", float(i)) for i in range(10)]),
        ep(1, [("a", 9.0, -1)]),
    ]
    sink = run(spark, tmp_path, epochs)
    cur = {r["key"]: r for r in sink.read_current(spark).collect()}
    a = cur["a"]
    mean = sum(range(9)) / 9.0
    var = sum((i - mean) ** 2 for i in range(9)) / 9.0
    assert a["n"] == 9
    assert a["mean"] == pytest.approx(mean)
    assert a["var_pop"] == pytest.approx(var)
    assert (a["min"], a["max"]) == (0.0, 8.0)  # max retraction handled exactly


def test_stats_rounding_suppression(spark, tmp_path):
    # with rounding (-2, 0): epoch 1 adds a value that barely moves the
    # stats -> suppressed (no new emission); epoch 2 moves them past a
    # boundary -> emitted.
    # tight distribution: mean 499.5, var 0.25 (rounds to 0 at 10^0);
    # adding the exact mean moves var by var/n ~ 0.00025 and mean by 0 —
    # both inside the rounding deadband -> suppressed.
    epochs = [
        ep(0, [("a", 499.0 if i % 2 else 500.0) for i in range(1000)]),
        ep(1, [("a", 499.5)]),  # inside the deadband
        ep(2, [("a", 1e6)]),    # big jump
    ]
    sink = run(spark, tmp_path, epochs, round_to=(-2, 0))
    per_epoch = sink.read_all(spark).select("epoch", "key", "mean").collect()
    epochs_emitting = sorted({r["epoch"] for r in per_epoch})
    # epoch 0 emits, epoch 1 suppressed, epoch 2 emits
    assert 0 in epochs_emitting
    assert 1 not in epochs_emitting
    assert any(e >= 2 for e in epochs_emitting)


def test_stats_multi_key_isolation(spark, tmp_path):
    epochs = [ep(0, [("a", 1.0), ("b", 100.0), ("a", 3.0), ("b", 300.0)])]
    sink = run(spark, tmp_path, epochs)
    cur = {r["key"]: r for r in sink.read_current(spark).collect()}
    assert cur["a"]["mean"] == pytest.approx(2.0)
    assert cur["b"]["mean"] == pytest.approx(200.0)
    assert cur["a"]["n"] == 2 and cur["b"]["n"] == 2


def test_stats_full_retraction_emits_tombstone(spark, tmp_path):
    """Retracting a key's last live row must emit an n=0 row so an
    upsert consumer retracts the stale statistics (the old gate
    suppressed any emission at n<=0)."""
    import math

    epochs = [
        ep(0, [("a", 10.0)]),
        ep(1, [("a", 10.0, -1)]),  # key fully retracted
    ]
    sink = run(spark, tmp_path, epochs)
    (r,) = sink.read_current(spark).collect()
    assert r["n"] == 0
    # "no statistic": NaN in the emission, read back as NaN or NULL
    assert r["mean"] is None or math.isnan(r["mean"])


def test_stats_null_values_ignored(spark, tmp_path):
    """A NULL value is not an observation: the old code counted its
    diff in n while pandas skipna dropped it from the sums, silently
    corrupting the mean."""
    nullable = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("x", T.DoubleType(), True),
            T.StructField("diff", T.LongType(), False),
            T.StructField("event_time", T.TimestampType(), False),
        ]
    )
    pdf = pd.DataFrame(
        {
            "key": ["a", "a"],
            "x": [None, 10.0],
            "diff": [1, 1],
            "event_time": [T0, T0 + timedelta(seconds=1)],
        }
    )
    src = EpochFileSource(spark, str(tmp_path / "src"), nullable)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["key"])
    src.add_epoch(pdf)
    q = (
        incremental_scaler_stats(src.stream(), "key", "x")
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    (r,) = sink.read_current(spark).collect()
    assert (r["n"], r["mean"], r["var_pop"]) == (1, 10.0, 0.0)


def test_stats_null_key_stays_null(spark, tmp_path):
    """A NULL group key must come back as a NULL key, not the phantom
    string "None" (the old emission str()-ed the key; the batch groupBy
    twin keeps the null group)."""
    nullable = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("x", T.DoubleType(), True),
            T.StructField("diff", T.LongType(), False),
            T.StructField("event_time", T.TimestampType(), False),
        ]
    )
    pdf = pd.DataFrame(
        {
            "key": [None, "a"],
            "x": [4.0, 10.0],
            "diff": [1, 1],
            "event_time": [T0, T0 + timedelta(seconds=1)],
        }
    )
    src = EpochFileSource(spark, str(tmp_path / "src"), nullable)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["key"])
    src.add_epoch(pdf)
    q = (
        incremental_scaler_stats(src.stream(), "key", "x")
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {r["key"]: r for r in sink.read_current(spark).collect()}
    assert set(rows) == {None, "a"}  # no "None" string key
    assert rows[None]["mean"] == pytest.approx(4.0)
    assert rows["a"]["mean"] == pytest.approx(10.0)


NULLABLE = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("diff", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)


def masked_ep(i, rows):
    """``ep`` with a masked x column: None is NULL and a float NaN stays
    NaN in the parquet file (a numpy float column writes NaN as NULL)."""
    import numpy as np

    pdf = ep(i, [(k, 0.0 if x is None else x, *r) for k, x, *r in rows])
    mask = np.array([x is None for _, x, *_ in rows])
    pdf["x"] = pd.arrays.FloatingArray(pdf["x"].to_numpy(), mask)
    return pdf


def current(spark, tmp_path, epochs):
    """The live row per key after streaming ``epochs`` of NULLABLE."""
    sink = run(spark, tmp_path, epochs, NULLABLE)
    return {r["key"]: r for r in sink.read_current(spark).collect()}


def _same(got, want):
    """A streamed statistic equals the batch one; the operator's output
    crosses the pandas boundary, which writes a NaN as NULL."""
    import math

    got = math.nan if got is None else got
    return got == want or (math.isnan(got) and math.isnan(want))


def test_stats_inf_retraction_recovers(spark, tmp_path):
    """Retracting a +inf leaves the statistic of what remains: the
    infinity is counted apart from the sums, so it cannot poison them."""
    inf = float("inf")
    epochs = [masked_ep(0, [("a", 1.0), ("a", inf)]), masked_ep(1, [("a", inf, -1)])]
    a = current(spark, tmp_path, epochs)["a"]
    got = (a["n"], a["mean"], a["var_pop"], a["min"], a["max"])
    assert got == (1, 1.0, 0.0, 1.0, 1.0)


def test_stats_match_batch_fits(spark, tmp_path):
    """Per key, the streamed (mean, var_pop) is StandardScaler.fit's and
    (min, max) is MinMaxScaler.fit's and scalar_quant_fit's over the
    consolidated multiset: a NULL is not an observation, a NaN is one
    (mean and var NaN; the max under Spark's order, where NaN is the
    greatest), and a retracted NaN or infinity leaves no trace."""
    from diffdataflowmlpipelines_spark.functions.similarity import scalar_quant_fit
    from diffdataflowmlpipelines_spark.operators.collection import consolidate
    from diffdataflowmlpipelines_spark.operators.encoders import (
        MinMaxScaler,
        StandardScaler,
    )
    from pyspark.sql import functions as F

    nan, inf = float("nan"), float("inf")
    epochs = [
        [
            ("a", 1.0), ("a", 2.0), ("a", None), ("a", 4.0),
            ("b", 1.0), ("b", nan), ("b", 3.0),
            ("c", 2.0), ("c", 5.0), ("c", nan), ("c", inf),
            ("d", -2.0), ("d", nan), ("d", 0.5),
        ],
        [("c", nan, -1), ("c", 5.0, -1), ("b", 7.0), ("d", nan, -1), ("d", -0.0)],
    ]
    cur = current(spark, tmp_path, [masked_ep(i, e) for i, e in enumerate(epochs)])
    history = spark.createDataFrame(
        [(k, x, r[0] if r else 1) for e in epochs for k, x, *r in e],
        "key string, x double, diff long",
    )
    alive = consolidate(history).filter(F.col("diff") > 0)
    assert set(cur) == {"a", "b", "c", "d"}
    for key, got in cur.items():
        rows = alive.filter(F.col("key") == key)
        std, mm = StandardScaler().fit(rows, "x"), MinMaxScaler().fit(rows, "x")
        mn, mx = (float("nan") if got[c] is None else got[c] for c in ("min", "max"))
        assert _same(got["mean"], std.mean_) and _same(got["var_pop"], std.var_), key
        assert _same(mn, mm.min_) and _same(mx - mn, mm.range_), key
        copies = F.array_repeat(F.array("x"), F.col("diff").cast("int"))
        vecs = rows.filter(F.col("x").isNotNull()).select(F.explode(copies).alias("v"))
        (qmin,), (scale,) = scalar_quant_fit(vecs, "v")
        assert _same(mn, qmin) and _same((mx - mn) / 255.0, scale), key
