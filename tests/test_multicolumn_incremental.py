"""Multi-column incremental pipeline — the reference's headline
experiment shape (pipeline_3_diabetes.rs:12-60: k StandardScalers with
rounding maintained per-row-update, columnar assembly). Parity oracle:
from-scratch batch fit over the consolidated input prefix, same
rounding."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
    IncrementalMultiScalerPipeline,
)
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource

K = 6  # diabetes shape is 21; 6 keeps the test fast with identical code paths
COLS = [f"x{i}" for i in range(K)]
SCHEMA = T.StructType(
    [T.StructField("row_id", T.LongType(), False)]
    + [T.StructField(c, T.DoubleType(), False) for c in COLS]
    + [
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("diff", T.LongType(), False),
    ]
)
T0 = datetime(2024, 1, 1)


def mk_epoch(i, row_ids, values, diffs=None):
    n = len(row_ids)
    data = {"row_id": row_ids}
    for j, c in enumerate(COLS):
        data[c] = [float(v[j]) for v in values]
    data["event_time"] = [T0 + timedelta(seconds=i * 100 + k) for k in range(n)]
    data["diff"] = diffs or [1] * n
    return pd.DataFrame(data)


def gen_rows(rng, n):
    # diabetes-like: heterogeneous scales per column
    return [
        [rng.normal(loc=10.0 * (j + 1), scale=2.0 * (j + 1)) for j in range(K)]
        for _ in range(n)
    ]


def batch_oracle(pdfs, round_to):
    full = pd.concat(pdfs, ignore_index=True)
    # consolidate: net multiplicity per (row_id, values); keep positive
    net = full.groupby(["row_id"] + COLS, as_index=False)["diff"].sum()
    net = net[net["diff"] > 0]
    # expand multiplicities for the statistic
    rep = net.loc[net.index.repeat(net["diff"])]
    feats = {}
    means, varis = {}, {}
    for c in COLS:
        mean = rep[c].mean()
        var = rep[c].var(ddof=0)
        if round_to:
            f1, f2 = 10.0 ** round_to[0], 10.0 ** round_to[1]
            rnd = lambda v, f: (int(v / f + 0.5) if v >= 0 else -int(-v / f + 0.5)) * f  # noqa: E731
            mean, var = rnd(mean, f1), rnd(var, f2)
        means[c], varis[c] = mean, var
    out = {}
    for _, r in net.iterrows():
        out[int(r["row_id"])] = [
            (r[c] - means[c]) / varis[c] for c in COLS
        ]
    return out


def run_epochs(spark, tmp_path, epochs, round_to):
    src = EpochFileSource(spark, str(tmp_path / "src"), SCHEMA)
    pipe = IncrementalMultiScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], COLS, round_to=round_to
    )
    for e in epochs:
        src.add_epoch(e)
        q = (
            src.stream()
            .writeStream.foreachBatch(pipe.foreach_batch())
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return pipe


def test_multicolumn_parity_with_retraction(spark, tmp_path):
    rng = np.random.default_rng(7)
    init = gen_rows(rng, 50)
    epochs = [
        mk_epoch(0, list(range(50)), init),
        mk_epoch(1, [50], gen_rows(rng, 1)),                 # insert
        mk_epoch(2, [0], [init[0]], diffs=[-1]),             # retract row 0
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=None)
    got = {
        r["row_id"]: list(r["features"])
        for r in pipe.current_output().collect()
    }
    want = batch_oracle(epochs, None)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k
    # no rounding -> every epoch moves some statistic -> 3 cascades
    assert pipe.full_reencodes == 3


def test_multicolumn_rounding_suppresses_cascade(spark, tmp_path):
    """The reference's actual experiment: with rounding (−2, −1), a
    single-row epoch that doesn't move any rounded statistic re-encodes
    only itself — O(batch), independent of snapshot size."""
    rng = np.random.default_rng(11)
    # controlled distributions: exact mean 100(j+1), exact var 25, so an
    # extra mean-valued row leaves the rounded mean identical and moves
    # var only by 25/(n+1) ≈ 0.025 — under the 10^-1 rounding grain
    init = [[100.0 * (j + 1) + (5.0 if i % 2 else -5.0) for j in range(K)]
            for i in range(1000)]
    mean_row = [[100.0 * (j + 1) for j in range(K)]]
    epochs = [
        mk_epoch(0, list(range(1000)), init),
        mk_epoch(1, [2000], mean_row),
        mk_epoch(2, [2001], mean_row),
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=(-2, -1))
    assert pipe.full_reencodes == 1  # only the init epoch cascaded
    got = {
        r["row_id"]: list(r["features"])
        for r in pipe.current_output().collect()
    }
    assert len(got) == 1002
    want = batch_oracle(epochs, (-2, -1))
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_multicolumn_driver_restart(spark, tmp_path):
    rng = np.random.default_rng(13)
    init = gen_rows(rng, 40)
    src = EpochFileSource(spark, str(tmp_path / "src"), SCHEMA)

    def run_one(pipe, e):
        src.add_epoch(e)
        q = (
            src.stream()
            .writeStream.foreachBatch(pipe.foreach_batch())
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    e0 = mk_epoch(0, list(range(40)), init)
    e1 = mk_epoch(1, [40], gen_rows(rng, 1))
    e2 = mk_epoch(2, [41], gen_rows(rng, 1))
    pipe1 = IncrementalMultiScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], COLS, round_to=None
    )
    run_one(pipe1, e0)
    run_one(pipe1, e1)

    pipe2 = IncrementalMultiScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], COLS, round_to=None
    )
    assert pipe2._n == pipe1._n
    assert pipe2._s1 == pytest.approx(pipe1._s1)
    # unrounded meta: restore recomputes in ONE Spark aggregate while the
    # live pipeline accumulated per-epoch partials — float addition order
    # differs, so compare to ulp tolerance (a last-bit mismatch costs at
    # most one extra cascade, never a wrong output; rounded production
    # configs are exactly stable)
    for a, b in zip(pipe2.last_meta, pipe1.last_meta):
        assert a == pytest.approx(b, rel=1e-12)

    run_one(pipe2, e2)
    got = {
        r["row_id"]: list(r["features"])
        for r in pipe2.current_output().collect()
    }
    want = batch_oracle([e0, e1, e2], None)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_multicolumn_value_update_same_epoch(spark, tmp_path):
    """ADVICE r2 (multi-column twin): retract-old + insert-new for one
    key in one epoch; the live row must win over the net-0 tombstone."""
    rng = np.random.default_rng(17)
    init = gen_rows(rng, 30)
    new_row = gen_rows(rng, 1)
    epochs = [
        mk_epoch(0, list(range(30)), init),
        mk_epoch(1, [7, 7], [init[7], new_row[0]], diffs=[-1, 1]),
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=None)
    got = {
        r["row_id"]: list(r["features"])
        for r in pipe.current_output().collect()
    }
    want = batch_oracle(epochs, None)
    assert set(got) == set(range(30))
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_multi_small_epoch_null_value_rows(spark, tmp_path):
    """A null value in a <=64-row epoch must produce a NULL feature
    element (the batch F.array behavior), not crash the encode
    (float(None)) or get dropped by the consolidation."""
    nullable = T.StructType(
        [T.StructField("row_id", T.LongType(), False)]
        + [T.StructField(c, T.DoubleType(), True) for c in COLS]
        + [
            T.StructField("event_time", T.TimestampType(), False),
            T.StructField("diff", T.LongType(), False),
        ]
    )
    base = mk_epoch(0, list(range(10)), [[float(i + j) for j in range(K)] for i in range(10)])
    holey = mk_epoch(1, [100], [[1.0] * K])
    holey.loc[0, COLS[2]] = None  # one null value column
    pipe = IncrementalMultiScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], COLS, round_to=(-6, -6)
    )
    pipe.process_epoch(spark.createDataFrame(base, SCHEMA), 0)
    pipe.process_epoch(spark.createDataFrame(holey, nullable), 1)
    rows = {r["row_id"]: r["features"] for r in pipe.current_output().collect()}
    assert 100 in rows
    feats = rows[100]
    assert feats[2] is None
    assert all(feats[j] is not None for j in range(K) if j != 2)


def test_multi_output_epochs_have_pinned_schema(spark, tmp_path):
    """Every output epoch carries exactly (key, values, diff, features),
    whichever lane wrote it. The one-row small-epoch lane used to copy
    the caller's whole frame (event_time included), so plain
    spark.read.parquet over the output depended on which epoch's footer
    Spark sampled."""
    around = [
        [1000.0 * (j + 1) + (1.0 if i % 2 else -1.0) for j in range(K)]
        for i in range(40)
    ]
    epochs = [
        mk_epoch(0, list(range(40)), around),               # first: cascade
        mk_epoch(1, [100], [[1000.0 * (j + 1) for j in range(K)]]),  # one-row insert
        mk_epoch(2, list(range(200, 230)), [[1e6] * K] * 30),  # meta moves: cascade
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=(2, 4))
    # epoch 1 took the insert-only lane, the other two cascaded
    assert pipe.full_reencodes == 2
    want = {"row_id", *COLS, "diff", "features"}
    for e in pipe.output_sink.committed_epochs():
        got = set(spark.read.parquet(pipe.output_sink.epoch_dir(e)).columns)
        assert got == want, (e, got)
