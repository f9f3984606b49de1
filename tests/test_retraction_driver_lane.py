"""Retraction epochs on the incremental scalers' one lane: the touched
keys' history is read from the input sink with pyarrow
(``ExactlyOnceParquetSink.read_keys_local``), so a retraction that keeps
the rounded statistic starts no Spark job, and a batch commits the same
rows whether it reaches the driver through the size probe or through
``toArrow()``."""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from diffdataflowmlpipelines_spark.operators.encoders import StandardScaler
from diffdataflowmlpipelines_spark.streaming import incremental_transform
from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
    IncrementalMultiScalerPipeline,
    IncrementalScalerPipeline,
)
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink

NAN = float("nan")
# a base whose rounded statistic (mean 4, var 7 at round_to (0, 0))
# none of the cases' extra rows or retractions moves
BASE = [(i, float(i % 9), 1) for i in range(100)]

# name -> (pipeline kwargs, schema, epoch 0 rows, epoch 1 rows, the
# output rows of epoch 1 projected to (*key_cols, *value_cols, diff))
CASES = {
    "null_key": (
        {"key_cols": ["row_id"], "value_col": "x"},
        "row_id long, x double, diff long",
        [*BASE, (None, 5.0, 1)],
        [(None, 5.0, -1)],
        [(None, 5.0, 0)],  # a NULL key is a key: its net-zero tombstone
    ),
    "nan_value": (
        {"key_cols": ["row_id"], "value_col": "x"},
        "row_id long, x double, diff long",
        # a second NaN row stays live, so the meta stays (NaN, NaN)
        [*BASE, (200, NAN, 1), (201, NAN, 1)],
        [(200, NAN, -1)],
        [(200, "NaN", 0)],
    ),
    "hot_key_one_value_retracted": (
        {"key_cols": ["row_id"], "value_col": "x"},
        "row_id long, x double, diff long",
        [*BASE, (300, 2.0, 1), (300, 7.0, 1)],
        [(300, 2.0, -1)],
        [(300, 2.0, 0), (300, 7.0, 1)],
    ),
    "key_fully_retracted": (
        {"key_cols": ["row_id"], "value_col": "x"},
        "row_id long, x double, diff long",
        BASE,
        [(5, 5.0, -1)],
        [(5, 5.0, 0)],  # the net-zero tombstone
    ),
    "nan_key": (
        {"key_cols": ["k"], "value_col": "x"},
        "k double, x double, diff long",
        [(float(i), v, d) for i, v, d in BASE] + [(NAN, 1.0, 1), (NAN, 3.0, 1)],
        [(NAN, 1.0, -1)],
        [("NaN", 1.0, 0), ("NaN", 3.0, 1)],
    ),
    "multi_key_tuples": (
        {"key_cols": ["g", "h"], "value_cols": ["x", "y"]},
        "g string, h long, x double, y double, diff long",
        [(f"c{i}", 0, v, v + 10, d) for i, v, d in BASE]
        + [(g, h, 0.0, 10.0, 1) for g in "ab" for h in (1, 2)],
        [("a", 1, 0.0, 10.0, -1), ("b", 2, 0.0, 10.0, -1)],
        # ("a", 2) and ("b", 1) are live and untouched: the per-column
        # cross product of the touched keys must not reach the output
        [("a", 1, 0.0, 10.0, 0), ("b", 2, 0.0, 10.0, 0)],
    ),
    "signed_zero_grain": (
        {"key_cols": ["k"], "value_col": "x"},
        "k double, x double, diff long",
        [(float(i), v, d) for i, v, d in BASE],
        # key 300.0 holds the values -0.0 and 0.0, and the float key
        # -0.0 retracts the row of key 0.0
        [(300.0, -0.0, 1), (300.0, 0.0, 1), (-0.0, 0.0, -1)],
        # one net row per group, as Spark's groupBy merges -0.0 and 0.0
        [(0.0, 0.0, 0), (300.0, 0.0, 2)],
    ),
}


def _cell(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _sorted(rows):
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def _pipeline(spark, workdir, kwargs):
    multi = "value_cols" in kwargs
    cls = IncrementalMultiScalerPipeline if multi else IncrementalScalerPipeline
    return cls(spark, workdir, round_to=(0, 0), **kwargs)


def _batch_scaled(spark, rows: pd.DataFrame) -> dict:
    """The batch StandardScaler over the consolidated live (row_id, x)
    rows: (row_id, x) -> scaled."""
    net = rows.groupby(["row_id", "x"], as_index=False)["diff"].sum()
    net = net[net["diff"] > 0]
    return {
        (r["row_id"], r["x"]): r["y"]
        for r in StandardScaler(round_to=(0, 0))
        .fit_transform(spark.createDataFrame(net), "x", "y")
        .collect()
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_retraction_lanes_commit_the_same_rows(spark, tmp_path, monkeypatch, case):
    """A retraction epoch that keeps the rounded statistic commits the
    same input and output rows, with the same Spark-read schemas, whether
    it arrives through the size probe or through ``toArrow()``."""
    kwargs, schema, rows0, rows1, want = CASES[case]

    def committed(sink):
        df = spark.read.parquet(sink.epoch_dir(1))
        return df.schema, _sorted(tuple(_cell(v) for v in r) for r in df.collect())

    got = {}
    for small in (0, 64):
        monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", small)
        pipe = _pipeline(spark, str(tmp_path / f"p{small}"), kwargs)
        for i, rows in enumerate((rows0, rows1)):
            pipe.process_epoch(spark.createDataFrame(rows, schema), i)
        assert pipe.full_reencodes == 1, small  # epoch 1 kept the meta
        got[small] = (committed(pipe.input_sink), committed(pipe.output_sink))
    assert pipe.output_sink.lineage()[1].get("local")
    assert got[64] == got[0]
    (_, outputs) = got[64][1]
    assert [r[:-1] for r in outputs] == _sorted(want)


def test_single_row_retraction_starts_no_spark_job(spark, tmp_path, job_group):
    """process_epoch_local: a one-row retraction that keeps the rounded
    statistic folds, reads the key's history and commits both epochs
    with pyarrow alone."""
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x", round_to=(0, 0)
    )
    cols = ["row_id", "x", "diff"]
    pipe.process_epoch_local(pd.DataFrame(BASE, columns=cols), 0)
    with job_group("retract") as jobs:
        pipe.process_epoch_local(pd.DataFrame([(5, 5.0, -1)], columns=cols), 1)
    assert jobs() == []
    assert pipe.full_reencodes == 1
    assert pipe.output_sink.lineage()[1].get("local")
    assert 5 not in {r["row_id"] for r in pipe.current_output().collect()}


def test_single_row_cascade_starts_no_spark_job(spark, tmp_path, job_group):
    """process_epoch_local: a one-row insert that moves the rounded
    statistic re-encodes the whole consolidated input with pyarrow
    alone, and the live output equals the batch StandardScaler's."""
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x", round_to=(0, 0)
    )
    cols = ["row_id", "x", "diff"]
    epochs = [BASE, [(200, 90.0, 1)]]
    pipe.process_epoch_local(pd.DataFrame(epochs[0], columns=cols), 0)
    with job_group("cascade") as jobs:
        pipe.process_epoch_local(pd.DataFrame(epochs[1], columns=cols), 1)
    assert jobs() == []
    assert pipe.full_reencodes == 2
    assert pq.read_table(pipe.output_sink.epoch_dir(1)).num_rows == 101
    want = _batch_scaled(spark, pd.DataFrame([*BASE, *epochs[1]], columns=cols))
    got = {(r["row_id"], r["x"]): r["scaled"] for r in pipe.current_output().collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_file_backed_large_epoch_cost(spark, tmp_path, job_group):
    """process_epoch on a file-backed batch above ``SMALL_EPOCH_ROWS``
    starts the size probe's job and the toArrow() job and nothing else:
    the fold, the cascade and both commits run in pyarrow."""
    path = str(tmp_path / "batch")
    base = spark.createDataFrame(BASE, "row_id long, x double, diff long")
    base.coalesce(1).write.parquet(path)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x", round_to=(0, 0)
    )
    batch = spark.read.parquet(path)
    with job_group("large") as jobs:
        pipe.process_epoch(batch, 0)
    assert len(jobs()) == 2
    assert pipe.full_reencodes == 1 and pipe._n == [len(BASE)]
    assert all(r.get("local") for r in pipe.output_sink.lineage())


def test_file_backed_single_row_epoch_cost(spark, tmp_path, job_group):
    """process_epoch on a single-row micro-batch read from one parquet
    file, as a file stream's foreachBatch hands one over (a
    createDataFrame frame collects on the driver without a job): an
    insert and a retraction that keep the rounded statistic start one
    Spark job each, the size probe ``limit(n + 1).collect()``."""
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x", round_to=(0, 0)
    )
    cols = ["row_id", "x", "diff"]
    pipe.process_epoch_local(pd.DataFrame(BASE, columns=cols), 0)
    for epoch, row in enumerate([(500, 4.0, 1), (5, 5.0, -1)], start=1):
        path = str(tmp_path / f"batch{epoch}")
        batch = spark.createDataFrame([row], "row_id long, x double, diff long")
        batch.coalesce(1).write.parquet(path)
        one = spark.read.parquet(path)
        with job_group(f"epoch-{epoch}") as jobs:
            pipe.process_epoch(one, epoch)
        assert len(jobs()) == 1, epoch
    assert pipe.full_reencodes == 1
    assert pipe.output_sink.lineage()[2].get("local")
    live = {r["row_id"] for r in pipe.current_output().collect()}
    assert 500 in live and 5 not in live


def test_failed_output_commit_of_a_retraction_is_repaired(spark, tmp_path, monkeypatch):
    """The output ``write_batch_local`` of a driver-lane retraction
    raises once: the input epoch is committed and folded, the output is
    not. Replaying the epoch repairs the output, and the live output
    equals the batch StandardScaler over the consolidated inputs."""
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x", round_to=(0, 0)
    )
    cols = ["row_id", "x", "diff"]
    epochs = [
        pd.DataFrame(BASE, columns=cols),
        pd.DataFrame([(300, 2.0, 1), (300, 7.0, 1)], columns=cols),
        pd.DataFrame([(300, 2.0, -1), (5, 5.0, -1)], columns=cols),
    ]
    for i, e in enumerate(epochs[:2]):
        pipe.process_epoch_local(e, i)
    write = pipe.output_sink.write_batch_local
    failed = []

    def fail_once(table, epoch_id):
        if not failed:
            failed.append(epoch_id)
            raise OSError("injected: output commit lost")
        write(table, epoch_id)

    monkeypatch.setattr(pipe.output_sink, "write_batch_local", fail_once)
    with pytest.raises(OSError, match="injected"):
        pipe.process_epoch_local(epochs[2], 2)
    assert failed == [2]
    assert pipe.input_sink.is_committed(2) and not pipe.output_sink.is_committed(2)
    pipe.process_epoch_local(epochs[2], 2)  # the replay
    assert pipe.output_sink.is_committed(2)
    assert pipe.full_reencodes == 1

    want = _batch_scaled(spark, pd.concat(epochs, ignore_index=True))
    got = {(r["row_id"], r["x"]): r["scaled"] for r in pipe.current_output().collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_read_keys_local_matches_as_a_left_semi_join(tmp_path):
    """NULL matches NULL (a null-safe left-semi join); NaN matches NaN
    and -0.0 matches 0.0, in every committed file (parquet statistics
    leave NaN out); only the exact key tuples of a multi-column key
    match; part files alone are read, cast to the requested schema."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "s"), ["f", "g"])
    sink.write_batch_local(
        pa.table({
            "f": [1.0, NAN, None, -0.0, 1.0],
            "g": pa.array([1, 1, 1, 2, 2], pa.int32()),
            "v": ["a", "b", "c", "d", "e"],
        }),
        0,
    )
    sink.write_batch_local(
        pa.table({"f": [0.0, NAN, 2.0], "g": pa.array([2, 1, 1], pa.int32()),
                  "v": ["f", "g", "h"]}),
        1,
    )
    # a stray non-part file in a live epoch and a staged epoch are not read
    stray = tmp_path / "s" / "epoch=1" / "_x.parquet"
    pq.write_table(pa.table({"v": ["x"]}), str(stray))
    sink.write_batch_local(pa.table({"f": [1.0], "g": [1], "v": ["staged"]}), 9)
    (tmp_path / "s" / "epoch=9").rename(tmp_path / "s" / "_staging" / "epoch=9.x")

    schema = pa.schema([("f", pa.float64()), ("g", pa.int64()), ("v", pa.string())])
    keys = pa.table({
        "f": [NAN, 0.0, 1.0, None, 2.0],
        "g": pa.array([1, 2, 1, 1, None], pa.int64()),
    })
    got = sink.read_keys_local(keys, schema)
    assert got.schema == schema
    # (1.0, 2) and (NaN, 2) are in the cross product only; (NULL, 1)
    # matches its row, and no row has the key (2.0, NULL)
    assert sorted(got["v"].to_pylist()) == ["a", "b", "c", "d", "f", "g"]
    assert sink.read_keys_local(keys.slice(3), schema)["v"].to_pylist() == ["c"]
    absent = pa.table({"f": [5.0], "g": pa.array([1], pa.int64())})
    assert sink.read_keys_local(absent, schema).num_rows == 0


@pytest.mark.parametrize("small", [0, 64])
def test_hot_key_keeps_every_live_output_row(spark, tmp_path, monkeypatch, small):
    """A key holding two live values keeps both output rows: the output
    sink is keyed by the grain (key, value), so ``current_output()``
    holds what the batch StandardScaler returns, on both lanes."""
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", small)
    pipe = IncrementalScalerPipeline(
        spark, str(tmp_path / "p"), ["row_id"], "x", round_to=(0, 0)
    )
    cols = ["row_id", "x", "diff"]
    epochs = [BASE, [(300, 2.0, 1), (300, 7.0, 1)]]
    for i, rows in enumerate(epochs):
        pipe.process_epoch_local(pd.DataFrame(rows, columns=cols), i)
    want = _batch_scaled(spark, pd.DataFrame([*BASE, *epochs[1]], columns=cols))
    got = {(r["row_id"], r["x"]): r["scaled"] for r in pipe.current_output().collect()}
    assert len(want) == len(got) == 102
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k
