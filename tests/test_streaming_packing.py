"""Streaming sequence packing: epoch-deterministic parity vs the batch
form, plus checkpoint-resume continuity of the running offsets."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.functions.packing import pack_sequences
from diffdataflowmlpipelines_spark.streaming.packing import incremental_packing
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_tok", T.LongType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)


def _epochs(n_epochs=3, per_epoch=40):
    t0 = datetime(2024, 1, 1)
    out = []
    for e in range(n_epochs):
        i0 = e * per_epoch
        out.append(
            pd.DataFrame(
                {
                    # zero-padded ids: string order == numeric order, so
                    # arrival order == the batch form's id order
                    "doc_id": [f"d{i0 + j:06d}" for j in range(per_epoch)],
                    "n_tok": [((i0 + j) * 37 % 300) + 1 for j in range(per_epoch)],
                    "source": [f"s{(i0 + j) % 3}" for j in range(per_epoch)],
                    "event_time": [
                        t0 + timedelta(seconds=e * 100 + j) for j in range(per_epoch)
                    ],
                }
            )
        )
    return out


def test_streaming_packing_matches_batch(spark, tmp_path):
    epochs = _epochs()
    src = EpochFileSource(spark, str(tmp_path / "src"), SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["source", "doc_id"])
    for ep in epochs:
        src.add_epoch(ep)
        q = (
            incremental_packing(src.stream(), budget=256)
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    got = sorted(
        (r["source"], r["doc_id"], r["n_tok"], r["chunk"], r["chunk_offset"])
        for r in sink.read_current(spark).collect()
    )

    batch = spark.createDataFrame(pd.concat(epochs, ignore_index=True), SCHEMA)
    want = sorted(
        (r["source"], r["doc_id"], r["n_tok"], r["chunk"], r["chunk_offset"])
        for r in pack_sequences(batch, "doc_id", "n_tok", "source", 256).collect()
    )
    assert got == want
    # chunks actually span epochs: the last epoch's first docs continue
    # offsets accumulated in earlier epochs (state carried across)
    assert max(c for _, _, _, c, _ in got) >= 3


def test_streaming_packing_rejects_retractions(spark, tmp_path):
    import pytest

    epochs = _epochs(1, 4)
    bad = epochs[0].copy()
    bad.loc[1, "n_tok"] = -5
    src = EpochFileSource(spark, str(tmp_path / "src"), SCHEMA)
    src.add_epoch(bad)
    q = (
        incremental_packing(src.stream(), budget=256)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="insert-only"):
        q.awaitTermination(300)
        if q.exception():
            raise q.exception()


def test_streaming_packing_rejects_diff_retraction_rows(spark, tmp_path):
    """ADVICE r3: a stream carrying diff=-1 rows with positive n_tok was
    packed as inserts silently; the operator now validates diff > 0
    whenever the input carries a diff column."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType(
        [*SCHEMA.fields, T.StructField("diff", T.LongType(), False)]
    )
    bad = _epochs(1, 4)[0].copy()
    bad["diff"] = [1, -1, 1, 1]  # retraction with positive n_tok
    src = EpochFileSource(spark, str(tmp_path / "src"), schema)
    src.add_epoch(bad)
    q = (
        incremental_packing(src.stream(), budget=256)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="insert-only"):
        q.awaitTermination(300)
        if q.exception():
            raise q.exception()


def test_streaming_packing_rejects_consolidated_multiplicity(spark, tmp_path):
    """Review r4d: the diff guard rejected diff <= 0 but silently packed
    a consolidated diff=2 row ONCE — a multiplicity-2 document
    undercounted without a trace. The contract is diff == 1 exactly."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType(
        [*SCHEMA.fields, T.StructField("diff", T.LongType(), False)]
    )
    bad = _epochs(2, 4)[0].copy()
    bad["diff"] = [1, 2, 1, 1]  # consolidated double-insert
    src = EpochFileSource(spark, str(tmp_path / "src"), schema)
    src.add_epoch(bad)
    q = (
        incremental_packing(src.stream(), budget=256)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="unit-multiplicity"):
        q.awaitTermination(300)
        if q.exception():
            raise q.exception()


def _packed(spark, tmp_path, epoch):
    src = EpochFileSource(spark, str(tmp_path / "src"), SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["source", "doc_id"])
    src.add_epoch(epoch)
    q = (
        incremental_packing(src.stream(), budget=256)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sorted(
        (r["source"], r["doc_id"], r["n_tok"], r["chunk"], r["chunk_offset"])
        for r in sink.read_current(spark).collect()
    )


def test_streaming_packing_multi_chunk_batches(spark, tmp_path):
    """A source whose micro-batch spans several Arrow chunks (2-row
    maxRecordsPerBatch), written in reverse (event_time, doc_id) order:
    the packing order, and so every offset, must be the one of the
    default configuration."""
    epoch = _epochs(1, 40)[0].iloc[::-1].reset_index(drop=True)
    want = _packed(spark, tmp_path / "default", epoch)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = _packed(spark, tmp_path / "chunks", epoch)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == want
    assert max(c for _, _, _, c, _ in got) >= 3  # offsets cross chunks
