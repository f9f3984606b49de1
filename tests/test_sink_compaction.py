"""ExactlyOnceParquetSink.compact: fold committed epochs into one
snapshot without changing read_current semantics, the replay contract
(is_committed must survive the folded directories' deletion), or later
epochs — plus the crash-window recovery of the staged snapshot."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa

from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink, _table

_SCHEMA = pa.schema([("k", pa.string()), ("v", pa.int64()), ("diff", pa.int64())])


def _batch(rows):
    return _table(rows, _SCHEMA)


def _mk(tmp_path, name):
    sink = ExactlyOnceParquetSink(str(tmp_path / name), ["k"])
    sink.write_batch_local(_batch([("a", 1, 1), ("b", 2, 1)]), 0)
    sink.write_batch_local(_batch([("a", 10, 1)]), 1)
    sink.write_batch_local(_batch([("c", 3, 1)]), 2)
    sink.write_batch_local(_batch([("b", 20, 1)]), 3)
    return sink


def _current(spark, sink):
    return {
        r["k"]: r["v"] for r in sink.read_current(spark).collect()
    }


def test_compact_preserves_upsert_view_and_replay_contract(spark, tmp_path):
    sink = _mk(tmp_path, "s1")
    before = _current(spark, sink)
    assert before == {"a": 10, "b": 20, "c": 3}

    target = sink.compact(spark, up_to=2)
    assert target == 2
    # the folded dirs are gone, the snapshot + later epochs remain
    live = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(sink.root)
        if d.startswith("epoch=")
    )
    assert live == [2, 3]
    # commit history is intact through the manifest
    assert sink.committed_epochs() == [0, 1, 2, 3]
    assert sink.is_committed(0) and sink.is_committed(1)
    # the upsert view is unchanged
    assert _current(spark, sink) == before

    # a replayed delivery of a folded epoch must STILL be dropped
    sink.write_batch_local(_batch([("a", 999, 1)]), 1)
    assert _current(spark, sink) == before

    # epochs after the snapshot keep winning
    sink.write_batch_local(_batch([("c", 30, 1)]), 4)
    assert _current(spark, sink)["c"] == 30


def test_compact_all_then_again_is_incremental(spark, tmp_path):
    sink = _mk(tmp_path, "s2")
    assert sink.compact(spark) == 3
    assert _current(spark, sink) == {"a": 10, "b": 20, "c": 3}
    # nothing left to fold
    assert sink.compact(spark) is None
    sink.write_batch_local(_batch([("d", 4, 1)]), 4)
    sink.write_batch_local(_batch([("d", 40, 1)]), 5)
    assert sink.compact(spark) == 5
    assert sink.committed_epochs() == [0, 1, 2, 3, 4, 5]
    assert _current(spark, sink) == {"a": 10, "b": 20, "c": 3, "d": 40}


def test_compaction_crash_window_recovered_on_next_read(spark, tmp_path):
    sink = _mk(tmp_path, "s3")
    before = _current(spark, sink)
    # simulate a crash right after the manifest commit point: the
    # snapshot is staged and the pending marker durable, but the
    # directory swap never ran
    sink._finish_compaction = lambda manifest: None
    assert sink.compact(spark, up_to=2) == 2
    assert "pending" in sink._manifest()

    # a fresh sink object (process restart) must finish the swap on
    # first access and serve the identical view
    sink2 = ExactlyOnceParquetSink(sink.root, ["k"])
    assert _current(spark, sink2) == before
    assert "pending" not in sink2._manifest()
    live = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(sink2.root)
        if d.startswith("epoch=")
    )
    assert live == [2, 3]
    assert sink2.committed_epochs() == [0, 1, 2, 3]


def test_compaction_between_streaming_runs(spark, tmp_path):
    """Compact between two availableNow runs of the SAME query +
    checkpoint: the resumed stream keeps committing past the snapshot
    and the upsert view stays correct — compaction is safe to schedule
    while a streaming pipeline owns the sink."""
    import pandas as pd
    from pyspark.sql import functions as F

    from diffdataflowmlpipelines_spark.sources.fixtures import (
        TOKENS_STREAM_SCHEMA,
        gen_tokens_pdf,
    )
    from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files
    from diffdataflowmlpipelines_spark.streaming.windows import (
        tumbling_token_frequency,
    )

    pdf = gen_tokens_pdf(600, seed=3, rows_per_second=100.0)
    src = str(tmp_path / "src")
    paths = write_epoch_files(pdf, src, 6)
    # hold back the last two epochs for run 2 — OUTSIDE the source dir
    # (a renamed-in-place file would still be listed and read by the
    # file source, then re-read under its restored name in run 2)
    hold = str(tmp_path / "hold")
    os.makedirs(hold, exist_ok=True)
    held = []
    for p in paths[4:]:
        dst = os.path.join(hold, os.path.basename(p))
        held.append((p, dst))
        os.rename(p, dst)

    sink = ExactlyOnceParquetSink(
        str(tmp_path / "out"), ["window_start", "token"]
    )
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(TOKENS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            tumbling_token_frequency(stream)
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    assert sink.compact(spark) is not None

    for orig, h in held:
        os.rename(h, orig)
    run()

    got = (
        sink.read_current(spark)
        .filter(F.col("tf") != 0)
        .toPandas()
    )
    batch = spark.createDataFrame(pdf, TOKENS_STREAM_SCHEMA)
    want = (
        tumbling_token_frequency(batch, streaming=False)
        .filter(F.col("tf") != 0)
        .toPandas()
    )
    cols = sorted(got.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols, kind="stable").reset_index(drop=True),
        want[cols].sort_values(cols, kind="stable").reset_index(drop=True),
        check_dtype=False,
    )


def test_vacuum_staging_preserves_pending_compaction(spark, tmp_path):
    sink = _mk(tmp_path, "s4")
    # orphaned staging dirs from crashed writes
    for i in range(3):
        os.makedirs(os.path.join(sink.root, "_staging", f"epoch=9.{i:08x}"))
    # a pending compaction snapshot must survive the vacuum
    sink._finish_compaction_orig = sink._finish_compaction
    sink._finish_compaction = lambda m: None
    sink.compact(spark, up_to=2)
    pending = sink._manifest()["pending"]["staging"]
    assert os.path.isdir(pending)

    removed = sink.vacuum_staging()
    assert removed == 3
    assert os.path.isdir(pending)  # snapshot kept

    # recovery still completes after the vacuum
    sink2 = ExactlyOnceParquetSink(sink.root, ["k"])
    assert _current(spark, sink2) == {"a": 10, "b": 20, "c": 3}
    assert sink2.vacuum_staging() == 0
