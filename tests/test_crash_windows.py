"""Injected raises at the commit points of the driver-state epoch protocol
(``sink._DriverEpochs``): the incremental scaler fed pandas frames and
fed Spark batches through ``process_epoch``'s ``toArrow()`` arrival
(``SMALL_EPOCH_ROWS = 0``), the multi-column scaler and
``DriverVocabularyPipeline``.

Each case raises once at one commit point of an insert epoch, of a
retraction epoch and of an epoch that moves the statistic, and replays
each epoch on the same object or on a restarted one. The run must end
where a crash-free run ends: the same live output (for the scalers, the
batch ``StandardScaler``'s too), the generated Σdiff in the input sink,
on the same object the same ``full_reencodes``, a lineage record for
every input and output epoch, and no staging directory left behind."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from diffdataflowmlpipelines_spark.operators.encoders import StandardScaler
from diffdataflowmlpipelines_spark.streaming import incremental_transform
from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
    IncrementalMultiScalerPipeline,
    IncrementalScalerPipeline,
)
from diffdataflowmlpipelines_spark.streaming.vocabulary import DriverVocabularyPipeline

# epoch 0 is the base, epochs 1-3 an insert, a retraction and an epoch
# that moves the rounded statistic (4, 7) at round_to (0, 0); for the
# vocabulary, one that compresses a shard
SCALER = [
    [(i, float(i % 9), 1) for i in range(40)],
    [(100, 4.0, 1)],
    [(5, 5.0, -1)],
    [(200, 90.0, 1)],
]
TOKENS = [
    [(t, 1) for t in "abcdefgh"],
    [("i", 1)],
    [("a", -1)],
    [(t, -1) for t in "bcdef"],
]


def _scaler(spark, workdir):
    return IncrementalScalerPipeline(spark, workdir, ["row_id"], "x", round_to=(0, 0))


def _multi(spark, workdir):
    return IncrementalMultiScalerPipeline(
        spark, workdir, ["row_id"], ["x", "y"], round_to=(0, 0)
    )


def _vocab(spark, workdir):
    return DriverVocabularyPipeline(spark, workdir, n_shards=2)


def _local(spark, pipe, frame, epoch_id):
    pipe.process_epoch_local(frame, epoch_id)


def _to_arrow(spark, pipe, frame, epoch_id):
    """The frame as a Spark batch, which reaches the driver through
    ``toArrow()`` under ``SMALL_EPOCH_ROWS = 0``."""
    pipe.process_epoch(spark.createDataFrame(frame), epoch_id)


# name -> (pipeline factory, its fold, how an epoch arrives); the
# scaler-distributed row takes a Spark batch's toArrow() arrival
PIPELINES = {
    "scaler-driver": (_scaler, "_fold", _local),
    "scaler-distributed": (_scaler, "_fold", _to_arrow),
    "multi": (_multi, "_fold", _local),
    "vocab": (_vocab, "_apply", _local),
}
# a restarted object finds the epochs of a crashed fold on disk as a
# crashed output write leaves them, so that pair is one case
CASES = [
    (name, point, replay)
    for name in sorted(PIPELINES)
    for point in ("input-write", "fold", "output-write", "output-lineage")
    for replay in ("same", "restart")
    if (point, replay) != ("fold", "restart")
]


def _frames(name: str) -> list[pd.DataFrame]:
    if name == "vocab":
        return [
            pd.DataFrame(
                {
                    "token": [t for t, _ in e],
                    "diff": [d for _, d in e],
                    "event_time": pd.Timestamp(2024, 1, 1, i, tz="UTC"),
                }
            )
            for i, e in enumerate(TOKENS)
        ]
    frames = [pd.DataFrame(e, columns=["row_id", "x", "diff"]) for e in SCALER]
    if name == "multi":
        for f in frames:
            f.insert(2, "y", 3.0 - f["x"])
    return frames


def _inject(pipe, point: str, fold: str) -> None:
    """Make commit point ``point`` of ``pipe`` raise once. A write fills
    its staging directory and then raises, before the rename; the
    lineage write raises after the rename."""
    obj, name = {
        "input-write": (pipe.input_sink, "_commit"),
        "fold": (pipe, fold),
        "output-write": (pipe.output_sink, "_commit"),
        "output-lineage": (pipe.output_sink, "_write_lineage"),
    }[point]
    real = getattr(obj, name)

    def fail(*_):
        raise OSError(f"injected: {point}")

    def crash(*args):
        del obj.__dict__[name]  # once
        if name == "_commit":
            epoch_id, write = args

            def write_then_fail(staging):
                write(staging)
                fail()

            real(epoch_id, write_then_fail)
        fail()

    setattr(obj, name, crash)


def _live(pipe) -> dict:
    if isinstance(pipe, DriverVocabularyPipeline):
        # vec_len is left out: a whole-dictionary output refreshes it on
        # rows that a crash-free run last wrote under an older length
        return {
            (r["shard"], r["token"]): (r["idx"], r["count"])
            for r in pipe.current_vocabulary().collect()
        }
    out = pipe._out_field.name
    return {
        tuple(r[c] for c in pipe._grain): r[out]
        for r in pipe.current_output().collect()
    }


def _batch_scaled(spark, frames: list[pd.DataFrame], values: list[str]) -> dict:
    """The batch StandardScaler of each value column over the live
    consolidated rows: grain -> the scaled value(s)."""
    grain = ["row_id", *values]
    net = pd.concat(frames).groupby(grain, as_index=False)["diff"].sum()
    df = spark.createDataFrame(net[net["diff"] > 0])
    for c in values:
        df = StandardScaler(round_to=(0, 0)).fit_transform(df, c, f"{c}_scaled")
    scaled = [f"{c}_scaled" for c in values]
    out = {tuple(r[c] for c in grain): [r[c] for c in scaled] for r in df.collect()}
    # the k=1 pipeline's output column holds the scaled value itself
    return {g: v[0] for g, v in out.items()} if len(values) == 1 else out


@pytest.fixture(scope="module")
def crash_free(spark, tmp_path_factory):
    """name -> (live output, full_reencodes) of a crash-free run."""
    runs = {}

    def run(name: str):
        if name not in runs:
            make, _, feed = PIPELINES[name]
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 0)
                pipe = make(spark, str(tmp_path_factory.mktemp(name)))
                frames = _frames(name)
                for i, frame in enumerate(frames):
                    feed(spark, pipe, frame, i)
                live = _live(pipe)
            if name == "vocab":
                # epoch 3 compresses a shard: it re-emits renumbered
                # tokens that it did not touch
                out = pq.read_table(pipe.output_sink.epoch_dir(3))["token"]
                assert set(out.to_pylist()) - {t for t, _ in TOKENS[3]}
            else:
                assert pipe.full_reencodes == 2  # epochs 0 and 3
                assert live == _batch_scaled(spark, frames, pipe.value_cols)
            runs[name] = (live, getattr(pipe, "full_reencodes", None))
        return runs[name]

    return run


@pytest.mark.parametrize("name, point, replay", CASES)
def test_crash_at_a_commit_point_then_replay(
    spark, tmp_path, monkeypatch, crash_free, name, point, replay
):
    make, fold, feed = PIPELINES[name]
    live, full_reencodes = crash_free(name)
    monkeypatch.setattr(incremental_transform, "SMALL_EPOCH_ROWS", 0)
    workdir = str(tmp_path / "pipe")
    frames = _frames(name)
    pipe = make(spark, workdir)
    feed(spark, pipe, frames[0], 0)
    for i, frame in enumerate(frames[1:], start=1):
        _inject(pipe, point, fold)
        with pytest.raises(OSError, match="injected"):
            feed(spark, pipe, frame, i)
        if replay == "restart":
            pipe = make(spark, workdir)
        feed(spark, pipe, frame, i)

    assert _live(pipe) == live
    sum_diff = sum(
        pc.sum(pq.read_table(pipe.input_sink.epoch_dir(e))["diff"]).as_py()
        for e in pipe.input_sink.committed_epochs()
    )
    assert sum_diff == sum(int(f["diff"].sum()) for f in frames)
    if replay == "same":
        assert getattr(pipe, "full_reencodes", None) == full_reencodes
    for sink in (pipe.input_sink, pipe.output_sink):
        assert [r["epoch"] for r in sink.lineage()] == [0, 1, 2, 3]
        assert os.listdir(os.path.join(sink.root, "_staging")) == []
