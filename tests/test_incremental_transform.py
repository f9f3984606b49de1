"""Incremental fit+transform maintenance: per-epoch parity with the
from-scratch batch oracle (reference pipeline_3 trace semantics) and
rounding-based re-encode suppression."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.operators.encoders import StandardScaler
from diffdataflowmlpipelines_spark.streaming import incremental_transform
from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
    IncrementalScalerPipeline,
)
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource

SCHEMA = T.StructType(
    [
        T.StructField("row_id", T.LongType(), False),
        T.StructField("x", T.DoubleType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("diff", T.LongType(), False),
    ]
)

T0 = datetime(2024, 1, 1)


def ep(i, rows):
    return pd.DataFrame(
        {
            "row_id": [r[0] for r in rows],
            "x": [float(r[1]) for r in rows],
            "event_time": [T0 + timedelta(seconds=i * 10 + j) for j in range(len(rows))],
            "diff": [r[2] if len(r) > 2 else 1 for r in rows],
        }
    )


def run_epochs(spark, tmp_path, epochs, round_to):
    src = EpochFileSource(spark, str(tmp_path / "src"), SCHEMA)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=round_to
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


def batch_oracle(spark, pdfs):
    full = pd.concat(pdfs, ignore_index=True)
    df = spark.createDataFrame(full, SCHEMA)
    from diffdataflowmlpipelines_spark.operators.collection import consolidate

    net = consolidate(df.select("row_id", "x", "diff"), ["row_id", "x"]).filter(
        "diff > 0"
    )
    return {
        r["row_id"]: r["y"]
        for r in StandardScaler().fit_transform(net, "x", "y").collect()
    }


def test_incremental_transform_parity_with_retraction(spark, tmp_path):
    epochs = [
        ep(0, [(i, float(i)) for i in range(10)]),
        ep(1, [(10, 55.0)]),            # shifts mean/var -> full re-encode
        ep(2, [(10, 55.0, -1)]),        # retract it again
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=None)
    got = {r["row_id"]: r["scaled"] for r in pipe.current_output().collect()}
    want = batch_oracle(spark, epochs)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k
    # without rounding every epoch changes the statistic -> 3 cascades
    assert pipe.full_reencodes == 3


def test_incremental_transform_driver_restart(spark, tmp_path):
    """The running (n, s1, s2) statistic lives in driver memory; a NEW
    pipeline object over the same workdir (simulated driver restart)
    must rebuild it from the committed input prefix, not from scratch
    (ADVICE r1: post-restart outputs were scaled with a wrong mean)."""
    epochs = [
        ep(0, [(i, float(i)) for i in range(10)]),
        ep(1, [(10, 55.0)]),
        ep(2, [(11, 30.0)]),
    ]
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

    pipe1 = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=None
    )
    run_one(pipe1, epochs[0])
    run_one(pipe1, epochs[1])

    # driver restart: fresh object, same workdir
    pipe2 = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=None
    )
    assert pipe2._n == pipe1._n
    assert pipe2._s1 == pytest.approx(pipe1._s1)
    assert pipe2._s2 == pytest.approx(pipe1._s2)
    assert pipe2.last_meta[0] == pytest.approx(pipe1.last_meta[0], rel=1e-12)

    run_one(pipe2, epochs[2])
    got = {r["row_id"]: r["scaled"] for r in pipe2.current_output().collect()}
    want = batch_oracle(spark, epochs)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_incremental_transform_rounding_suppression(spark, tmp_path):
    # tight distribution: adding the exact mean doesn't move the rounded
    # statistic -> epoch 1 encodes ONLY the new row (no cascade)
    epochs = [
        ep(0, [(i, 499.0 if i % 2 else 500.0) for i in range(1000)]),
        ep(1, [(2000, 499.5)]),
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=(-2, -2))
    assert pipe.full_reencodes == 1  # only the init epoch cascaded
    got = {r["row_id"]: r["scaled"] for r in pipe.current_output().collect()}
    assert len(got) == 1001
    # parity with the batch oracle under the SAME rounding
    full = pd.concat(epochs, ignore_index=True)
    df = spark.createDataFrame(full, SCHEMA)
    want = {
        r["row_id"]: r["y"]
        for r in StandardScaler(round_to=(-2, -2))
        .fit_transform(df.select("row_id", "x", "diff"), "x", "y")
        .collect()
    }
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9)


def test_incremental_value_update_same_epoch_cascade(spark, tmp_path):
    """ADVICE r2: an epoch that UPDATES a key's value (retract old +
    insert new — the canonical diff-dataflow update) makes the cascade
    path emit both a net-0 tombstone and a net-1 row for that key in
    the SAME epoch; read_current must deterministically keep the live
    row (diff-desc tie-break), never the tombstone."""
    epochs = [
        ep(0, [(i, float(i)) for i in range(10)]),
        # same-epoch value update for key 5: 5.0 -> 99.0
        ep(1, [(5, 5.0, -1), (5, 99.0, 1)]),
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=None)
    got = {r["row_id"]: r["scaled"] for r in pipe.current_output().collect()}
    want = batch_oracle(spark, epochs)
    assert set(got) == set(range(10))  # key 5 survives, exactly once
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_incremental_value_update_same_epoch_no_cascade(spark, tmp_path):
    """Same-epoch value update on the UNCHANGED-statistic path (rounding
    suppresses the cascade): the affected-keys branch also emits net-0 +
    net-1 rows for the updated key at one epoch."""
    epochs = [
        ep(0, [(i, 490.0 if i % 2 else 510.0) for i in range(1000)]),
        # swap row 0's value 510.0 -> 509.9: rounded (mean, var) with
        # grain 10^-1 is unmoved, so no cascade — 'else' branch
        ep(1, [(0, 510.0, -1), (0, 509.9, 1)]),
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=(-1, -1))
    assert pipe.full_reencodes == 1  # only init cascaded
    got = {r["row_id"]: r["scaled"] for r in pipe.current_output().collect()}
    assert len(got) == 1000
    full = pd.concat(epochs, ignore_index=True)
    df = spark.createDataFrame(full, SCHEMA)
    want = {
        r["row_id"]: r["y"]
        for r in StandardScaler(round_to=(-1, -1))
        .fit_transform(
            df.select("row_id", "x", "diff"), "x", "y"
        )
        .collect()
    }
    assert got[0] == pytest.approx(want[0], rel=1e-9)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_small_epoch_fast_path_lineage_and_replay(spark, tmp_path):
    """Every epoch commits driver-locally (pyarrow-written commits,
    lineage marked local), a tiny one collected by the size probe and
    the 500-row epoch 0 read by toArrow() alike; replaying a committed
    epoch is a no-op; the output equals the batch oracle across both
    arrivals."""
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=(-1, 0)
    )
    epochs = [
        ep(0, [(i, 490.0 if i % 2 else 510.0) for i in range(500)]),
        ep(1, [(1000, 500.0)]),   # tiny insert, rounded meta unmoved
        ep(2, [(1001, 500.1)]),
    ]
    for i, e in enumerate(epochs):
        pipe.process_epoch(spark.createDataFrame(e, SCHEMA), i)
    # every epoch committed driver-locally (input AND output)
    lin_in = {l["epoch"]: l for l in pipe.input_sink.lineage()}
    lin_out = {l["epoch"]: l for l in pipe.output_sink.lineage()}
    assert lin_in[1].get("local") and lin_in[2].get("local")
    assert lin_out[1].get("local") and lin_out[2].get("local")
    assert lin_in[0].get("local")
    # replay: same epoch again must change nothing
    n_before = pipe._n[0]
    pipe.process_epoch(spark.createDataFrame(epochs[1], SCHEMA), 1)
    assert pipe._n[0] == n_before
    got = {r["row_id"]: r["scaled"] for r in pipe.current_output().collect()}
    assert len(got) == 502
    want = batch_oracle(spark, epochs)
    # oracle uses unrounded scaler; recompute with same rounding instead
    full = pd.concat(epochs, ignore_index=True)
    df = spark.createDataFrame(full, SCHEMA)
    want = {
        r["row_id"]: r["y"]
        for r in StandardScaler(round_to=(-1, 0))
        .fit_transform(df.select("row_id", "x", "diff"), "x", "y")
        .collect()
    }
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_crash_between_input_and_output_commit_repaired(spark, tmp_path):
    """Exactly-once gap: a crash AFTER the input commit but BEFORE the
    output commit used to leave the output epoch missing forever (the
    replay early-return assumed both committed). The replay must now
    repair the missing output epoch."""
    import shutil as sh

    epochs = [
        ep(0, [(i, float(i)) for i in range(10)]),
        ep(1, [(10, 55.0)]),
    ]
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=None
    )
    for i, e in enumerate(epochs):
        pipe.process_epoch(spark.createDataFrame(e, SCHEMA), i)
    # simulate the crash window: output epoch 1 never committed
    sh.rmtree(pipe.output_sink.epoch_dir(1))
    # driver restart + foreachBatch replay of epoch 1
    pipe2 = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=None
    )
    pipe2.process_epoch(spark.createDataFrame(epochs[1], SCHEMA), 1)
    assert pipe2.output_sink.is_committed(1)
    got = {r["row_id"]: r["scaled"] for r in pipe2.current_output().collect()}
    want = batch_oracle(spark, epochs)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_same_process_replay_before_fold(spark, tmp_path, monkeypatch):
    """Crash AFTER the input commit but BEFORE the statistic fold, then
    a replay on the SAME object (long-lived session — no restart, so
    _restore_from_sink never re-runs). The replay must fold the
    committed epoch; the old repair path assumed the fold had happened
    and permanently corrupted the statistic."""
    from diffdataflowmlpipelines_spark.operators.collection import with_diff

    epochs = [
        ep(0, [(i, float(i)) for i in range(10)]),
        ep(1, [(10, 55.0)]),
        ep(2, [(11, 7.0)]),
    ]
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 0)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x",
        round_to=None,
    )
    pipe.process_epoch(spark.createDataFrame(epochs[0], SCHEMA), 0)
    # simulate the crash window: input epoch 1 commits, fold never runs
    pipe.input_sink.write_batch(
        with_diff(spark.createDataFrame(epochs[1], SCHEMA)), 1
    )
    # foreachBatch replays epoch 1 on the same object, then epoch 2
    pipe.process_epoch(spark.createDataFrame(epochs[1], SCHEMA), 1)
    pipe.process_epoch(spark.createDataFrame(epochs[2], SCHEMA), 2)
    got = {r["row_id"]: r["scaled"] for r in pipe.current_output().collect()}
    want = batch_oracle(spark, epochs)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k
    # and the in-memory statistic equals a from-scratch restore
    pipe2 = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=None
    )
    assert (pipe._n[0], pipe._s1[0], pipe._s2[0]) == pytest.approx(
        (pipe2._n[0], pipe2._s1[0], pipe2._s2[0])
    )


def test_small_epoch_null_rows_not_dropped(spark, tmp_path):
    """A null-bearing row in a <=64-row epoch must flow through the
    lane like any other row: pandas' groupby default silently drops
    null-keyed rows and astype('int64') crashes on a null key."""
    nullable = T.StructType(
        [
            T.StructField("row_id", T.LongType(), True),
            T.StructField("x", T.DoubleType(), True),
            T.StructField("event_time", T.TimestampType(), False),
            T.StructField("diff", T.LongType(), False),
        ]
    )
    pdf = pd.DataFrame(
        {
            "row_id": pd.array([1, None, 3], dtype="Int64"),
            "x": [1.0, 2.0, None],
            "event_time": [T0 + timedelta(seconds=j) for j in range(3)],
            "diff": [1, 1, 1],
        }
    )
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "pipe"), ["row_id"], "x", round_to=None
    )
    pipe.process_epoch(spark.createDataFrame(pdf, nullable), 0)
    rows = pipe.output_sink.read_current(spark).collect()
    # all three rows present, including the null-key and null-value ones
    assert len(rows) == 3
    got = {r["row_id"]: r["scaled"] for r in rows}
    assert set(got) == {1, None, 3}
    # null VALUE encodes to parquet NULL (the distributed path's
    # behavior), not NaN
    assert got[3] is None


def test_process_epoch_local_parity_and_replay(spark, tmp_path):
    """process_epoch_local (the no-size-probe driver-local entry) must
    leave byte-identical sink state to the Spark-df path and honor the
    same replay semantics (committed epoch re-sent -> no double fold)."""
    epochs = [
        ep(0, [(i, 100 + i) for i in range(40)]),
        ep(1, [(100, 57.5)]),
        ep(2, [(101, 61.0), (40, 90.0)]),
    ]
    # path A: the normal Spark-df route
    pa = IncrementalScalerPipeline(
        spark, str(tmp_path / "a"), ["row_id"], "x", round_to=(-2, 0)
    )
    for i, e in enumerate(epochs):
        pa.process_epoch(spark.createDataFrame(e, SCHEMA), i)
    # path B: driver-local pandas route (dtypes already parquet-stable)
    pb = IncrementalScalerPipeline(
        spark, str(tmp_path / "b"), ["row_id"], "x", round_to=(-2, 0)
    )
    for i, e in enumerate(epochs):
        e = e.copy()
        e["event_time"] = pd.to_datetime(e["event_time"]).dt.tz_localize("UTC")
        pb.process_epoch_local(e, i)
    va = {
        (r["row_id"]): r["scaled"]
        for r in pb.output_sink.read_current(spark).collect()
    }
    vb = {
        (r["row_id"]): r["scaled"]
        for r in pa.output_sink.read_current(spark).collect()
    }
    assert va == vb
    assert (pa._n, pa._s1, pa._s2) == (pb._n, pb._s1, pb._s2)
    # replay: re-sending a committed epoch must not double-fold
    stat = (pb._n[0], pb._s1[0], pb._s2[0])
    e1 = epochs[1].copy()
    e1["event_time"] = pd.to_datetime(e1["event_time"]).dt.tz_localize("UTC")
    pb.process_epoch_local(e1, 1)
    assert (pb._n[0], pb._s1[0], pb._s2[0]) == stat


def test_process_epoch_local_takes_a_large_delta(spark, tmp_path, monkeypatch):
    """A delta above ``SMALL_EPOCH_ROWS`` takes process_epoch_local's
    lane too: both epochs commit and every row is folded."""
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 8)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x",
        round_to=(-2, 0),
    )
    big = ep(0, [(i, 100 + i) for i in range(50)])
    big["event_time"] = pd.to_datetime(big["event_time"]).dt.tz_localize("UTC")
    pipe.process_epoch_local(big, 0)
    assert pipe.input_sink.is_committed(0) and pipe.output_sink.is_committed(0)
    assert pipe._n == [50]


def test_output_epochs_have_pinned_schema(spark, tmp_path):
    """Review r4d: insert-only epochs wrote the raw batch columns (incl.
    event_time) while cascade epochs wrote _consolidated()'s — with
    plain spark.read.parquet (no mergeSchema) the result schema then
    depended on which epoch's footer Spark sampled. Every output epoch
    now carries exactly (key, value, diff, scaled)."""
    from diffdataflowmlpipelines_spark.operators.collection import DIFF

    epochs = [
        ep(0, [(i, 100 + i) for i in range(40)]),   # insert-only, first
        ep(1, [(100, 57.5)]),                       # small-epoch local lane
        ep(2, [(i, 500 + 7 * i) for i in range(30)]),  # cascade (meta moves)
    ]
    pipe = run_epochs(spark, tmp_path, epochs, round_to=(-2, 0))
    assert pipe.full_reencodes >= 1  # the cascade epoch really cascaded
    want = {"row_id", "x", DIFF, "scaled"}
    for e in pipe.output_sink.committed_epochs():
        got = set(spark.read.parquet(pipe.output_sink.epoch_dir(e)).columns)
        assert got == want, (e, got)


def test_replay_restores_stale_last_meta(spark, tmp_path, monkeypatch):
    """Review r4d: a crash between the output rename and the last_meta
    assignment left last_meta stale on a both-committed replay; the
    replay path now restores it from the statistic (post-fold,
    last_meta == _current_meta() invariantly)."""
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 0)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x", round_to=(-2, 0),
    )
    e0 = ep(0, [(i, 100 + i) for i in range(40)])
    pipe.process_epoch(spark.createDataFrame(e0, SCHEMA), 0)
    good = pipe.last_meta
    assert good == pipe._current_meta()
    pipe.last_meta = ("stale", "stale")  # simulate the crash window
    pipe.process_epoch(spark.createDataFrame(e0, SCHEMA), 0)  # replay
    assert pipe.last_meta == good


def test_nan_is_an_observation_on_both_folds(spark, tmp_path, monkeypatch):
    """A NaN value is an observation that makes the statistic NaN, as
    in the batch StandardScaler, whether the epoch arrives through
    toArrow() or the size probe. Retracting it restores the finite
    statistic of the rows without it."""
    import math

    rows = [
        (i, float("nan") if i == 37 else float(i), T0 + timedelta(seconds=i), 1)
        for i in range(100)
    ]
    nan_row = rows[37]
    df = spark.createDataFrame(rows, SCHEMA)
    want = StandardScaler(round_to=(-1, -1)).fit(df, "x")
    assert math.isnan(want.mean_) and math.isnan(want.var_)
    finite = spark.createDataFrame([r for r in rows if r is not nan_row], SCHEMA)
    want_finite = StandardScaler(round_to=(-1, -1)).fit(finite, "x")
    retract = spark.createDataFrame([(*nan_row[:3], -1)], SCHEMA)
    for small in (0, 200):
        monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", small)
        pipe = IncrementalScalerPipeline(
            spark, str(tmp_path / f"p{small}"), ["row_id"], "x",
            round_to=(-1, -1),
        )
        pipe.process_epoch(df, 0)
        assert pipe._n == [100], small
        ((mean, var),) = pipe.last_meta
        assert math.isnan(mean) and math.isnan(var), small
        pipe.process_epoch(retract, 1)
        assert pipe._n == [99], small
        assert pipe.last_meta[0] == pytest.approx(
            (want_finite.mean_, want_finite.var_)
        ), small
        out = pipe.current_output().collect()
        assert len(out) == 99 and not any(math.isnan(r["scaled"]) for r in out)


def test_infinity_is_an_observation_on_both_lanes(spark, tmp_path, monkeypatch):
    """An infinite value is an observation as in the batch StandardScaler:
    +inf makes the mean +inf and the variance inf - inf = NaN, which a
    rounded scaler returns unrounded instead of raising. Retracting the
    inf row restores the finite statistic of the rows without it."""
    import math

    rows = [
        (i, float("inf") if i == 7 else float(i), T0 + timedelta(seconds=i), 1)
        for i in range(20)
    ]
    inf_row = rows[7]
    df = spark.createDataFrame(rows, SCHEMA)
    want = StandardScaler(round_to=(-1, -1)).fit(df, "x")
    assert want.mean_ == float("inf") and math.isnan(want.var_)
    finite = spark.createDataFrame([r for r in rows if r is not inf_row], SCHEMA)
    want_finite = StandardScaler(round_to=(-1, -1)).fit(finite, "x")
    retract = spark.createDataFrame([(*inf_row[:3], -1)], SCHEMA)
    for small in (0, 64):
        monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", small)
        pipe = IncrementalScalerPipeline(
            spark, str(tmp_path / f"p{small}"), ["row_id"], "x", round_to=(-1, -1)
        )
        pipe.process_epoch(df, 0)
        assert pipe._n == [20], small
        ((mean, var),) = pipe.last_meta
        assert mean == want.mean_ and math.isnan(var), small
        pipe.process_epoch(retract, 1)
        assert pipe._n == [19], small
        assert pipe.last_meta[0] == pytest.approx(
            (want_finite.mean_, want_finite.var_)
        ), small
        out = pipe.current_output().collect()
        assert len(out) == 19 and all(math.isfinite(r["scaled"]) for r in out)


def test_driver_lane_commits_what_the_distributed_lane_commits(
    spark, tmp_path, monkeypatch
):
    """One <=64-row insert epoch with a NULL key, a NULL value, a NaN
    value and two NaN-valued rows of one key, after an epoch whose NaN
    already makes the statistic NaN (so the epoch keeps the meta and
    its output is encoded under it). The epoch commits the same input
    and output rows, NULL and NaN included, with the same Spark-read
    schemas, through the size probe as through toArrow()."""
    import math

    schema = "row_id long, x double"
    nan = float("nan")
    epochs = [
        [(1, 1.0), (2, 2.0), (3, nan)],
        [(None, 5.0), (10, None), (11, nan), (12, nan), (12, nan), (13, 4.0)],
    ]

    def cell(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    def committed(sink):
        df = spark.read.parquet(sink.epoch_dir(1))
        rows = sorted(
            (tuple(cell(v) for v in r) for r in df.collect()),
            key=lambda r: tuple((v is None, str(v)) for v in r),
        )
        return df.schema, rows

    got = {}
    for small in (0, 64):
        monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", small)
        pipe = IncrementalScalerPipeline(
            spark, str(tmp_path / f"p{small}"), ["row_id"], "x"
        )
        for i, rows in enumerate(epochs):
            pipe.process_epoch(spark.createDataFrame(rows, schema), i)
        assert pipe.full_reencodes == 1, small  # epoch 1 kept the meta
        got[small] = (committed(pipe.input_sink), committed(pipe.output_sink))
    lin = IncrementalScalerPipeline(spark, str(tmp_path / "p64"), ["row_id"], "x")
    assert lin.output_sink.lineage()[1].get("local")
    assert got[64] == got[0]
    (_, inputs), (_, outputs) = got[64]
    assert len(inputs) == 6
    # the two (12, NaN) rows consolidate into one net row
    assert (12, "NaN", 2, "NaN") in outputs and len(outputs) == 5
    assert (None, 5.0, 1, "NaN") in outputs and (10, None, 1, None) in outputs
