"""Streaming checkpoints are written through the Hadoop FileSystem API
(session.py): no checkpoint file costs a ``readlink`` child process,
the no-overwrite guard still holds, and a checkpoint written by Spark's
FileContext manager resumes under the session default."""

from __future__ import annotations

import collections

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    FS_CHECKPOINT_FILE_MANAGER,
    get_spark,
)
from diffdataflowmlpipelines_spark.sources.fixtures import (
    TOKENS_STREAM_SCHEMA,
    gen_tokens_pdf,
)
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import (
    EpochFileSource,
    write_epoch_files,
)
from diffdataflowmlpipelines_spark.streaming.windows import tumbling_token_frequency

FC_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _checkpoint_file_manager(spark, directory: str):
    """The CheckpointFileManager Spark builds for ``directory`` from the
    session's Hadoop conf, as a query's checkpoint logs do."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(directory),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def _process_starts(spark, run, dump: str) -> collections.Counter:
    """Runs ``run()`` under a JFR recording of ``jdk.ProcessStart`` in the
    session's JVM; returns the started executables and their counts."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        run()
    finally:
        rec.stop()
        path = jvm.java.io.File(dump).toPath()
        rec.dump(path)
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
    return collections.Counter(
        str(events.get(i).getString("command")).split()[0]
        for i in range(events.size())
    )


def test_session_resolves_filesystem_checkpoint_manager(spark, tmp_path):
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FS_CHECKPOINT_FILE_MANAGER
    mgr = _checkpoint_file_manager(spark, str(tmp_path))
    assert mgr.getClass().getName() == FS_CHECKPOINT_FILE_MANAGER


def test_atomic_create_does_not_overwrite(spark, tmp_path):
    """A checkpoint log entry is written with createAtomic(path, false):
    committing over an existing file must fail and keep the file."""
    existing = tmp_path / "0"
    existing.write_text("first")
    mgr = _checkpoint_file_manager(spark, str(tmp_path))
    out = mgr.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(str(existing)), False)
    out.write(b"second")
    with pytest.raises(Py4JJavaError, match="already exists"):
        out.close()
    assert existing.read_text() == "first"


def test_stream_checkpoint_spawns_no_readlink(spark, tmp_path):
    """Three micro-batches of a 2-partition stateful query write offsets,
    commits, source logs and state changelogs without one ``readlink``
    child process. The ``chmod`` each created file still costs shows the
    recording saw the commits."""
    src = str(tmp_path / "src")
    write_epoch_files(gen_tokens_pdf(600, seed=3, rows_per_second=50.0), src, 3)
    stream = (
        spark.readStream.schema(TOKENS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    agg = tumbling_token_frequency(stream)

    def run():
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        assert q.exception() is None
        assert sum(p.numInputRows > 0 for p in q.recentProgress) == 3

    starts = _process_starts(spark, run, str(tmp_path / "starts.jfr"))
    assert starts["readlink"] == 0, starts
    assert starts["chmod"] > 0, starts


def test_filecontext_checkpoint_resumes_under_default_manager(spark, tmp_path):
    """A checkpoint written by Spark's default FileContext manager (the
    session default before this one) resumes under the FileSystem
    manager: the second run continues its epochs and the output over
    every file equals the batch recompute."""
    pdf = gen_tokens_pdf(800, seed=7, rows_per_second=50.0)
    src = EpochFileSource(spark, str(tmp_path / "src"), TOKENS_STREAM_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["window_start", "token"])
    ckpt = str(tmp_path / "ckpt")
    spark.conf.set("spark.sql.shuffle.partitions", "2")

    def drain():
        q = (
            tumbling_token_frequency(src.stream())
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        assert q.exception() is None

    n = len(pdf)
    for k in range(2):
        src.add_epoch(pdf.iloc[(n * k) // 4 : (n * (k + 1)) // 4])
    saved = spark.conf.get(CHECKPOINT_FILE_MANAGER, None)
    try:
        s = get_spark(extra_conf={CHECKPOINT_FILE_MANAGER: FC_CHECKPOINT_FILE_MANAGER})
        assert s.conf.get(CHECKPOINT_FILE_MANAGER) == FC_CHECKPOINT_FILE_MANAGER
        drain()
    finally:
        if saved is None:
            spark.conf.unset(CHECKPOINT_FILE_MANAGER)
        else:
            spark.conf.set(CHECKPOINT_FILE_MANAGER, saved)
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FS_CHECKPOINT_FILE_MANAGER
    first = sink.committed_epochs()
    assert len(first) >= 2

    for k in range(2, 4):
        src.add_epoch(pdf.iloc[(n * k) // 4 : (n * (k + 1)) // 4])
    drain()
    second = set(sink.committed_epochs()) - set(first)
    assert second and min(second) > max(first)

    got = sink.read_current(spark).filter(F.col("tf") != 0).toPandas()
    want = (
        tumbling_token_frequency(
            spark.createDataFrame(pdf, TOKENS_STREAM_SCHEMA), streaming=False
        )
        .filter(F.col("tf") != 0)
        .toPandas()
    )
    assert len(got) > 100
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )
