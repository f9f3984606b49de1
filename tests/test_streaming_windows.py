"""M1 spine tests: epoch-driven stream -> windowed token-frequency agg
(watermark, update mode) -> exactly-once sink -> per-key parity with the
batch recompute oracle (FIXTURES.md F3 'incremental-update trace':
streaming output after consolidation == batch recompute on the same
multiset — the invariant the reference's inspect-based demos eyeball,
here asserted).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.sources.fixtures import (
    TOKENS_STREAM_SCHEMA,
    gen_tokens_pdf,
)
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource, write_epoch_files
from diffdataflowmlpipelines_spark.streaming.windows import (
    session_token_activity,
    sliding_token_frequency,
    tumbling_token_frequency,
)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols, kind="stable").reset_index(drop=True)


def assert_frame_match(a, b):
    pd.testing.assert_frame_equal(_canon(a), _canon(b), check_dtype=False)


@pytest.fixture(scope="module")
def fixture_pdf():
    # 1200 rows, ~12s of event time per 100 rows, late rows + retractions
    return gen_tokens_pdf(1200, seed=42, rows_per_second=100.0)


def run_stream(spark, src_dir, ckpt, sink, transform, pdf, n_epochs=6, mode="update"):
    write_epoch_files(pdf, src_dir, n_epochs)
    stream = (
        spark.readStream.schema(TOKENS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        transform(stream)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_tumbling_window_parity(spark, tmp_path, fixture_pdf):
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["window_start", "token"])
    run_stream(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        sink,
        lambda s: tumbling_token_frequency(s),
        fixture_pdf,
    )
    got = (
        sink.read_current(spark)
        .filter(F.col("tf") != 0)
        .toPandas()
    )
    batch = spark.createDataFrame(fixture_pdf, TOKENS_STREAM_SCHEMA)
    want = (
        tumbling_token_frequency(batch, streaming=False)
        .filter(F.col("tf") != 0)
        .toPandas()
    )
    assert len(got) > 100
    assert_frame_match(got, want)
    # epochs committed once each, lineage recorded
    lineage = sink.lineage()
    assert [l["epoch"] for l in lineage] == sink.committed_epochs()
    # retractions must have netted out: no negative tf beyond what the
    # batch oracle has (i.e., identical frames already assert this)


def test_sliding_window_parity(spark, tmp_path, fixture_pdf):
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["window_start", "token"])
    run_stream(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        sink,
        lambda s: sliding_token_frequency(s),
        fixture_pdf,
    )
    got = sink.read_current(spark).filter(F.col("tf") != 0).toPandas()
    batch = spark.createDataFrame(fixture_pdf, TOKENS_STREAM_SCHEMA)
    want = (
        sliding_token_frequency(batch, streaming=False)
        .filter(F.col("tf") != 0)
        .toPandas()
    )
    assert_frame_match(got, want)


def test_session_window_parity(spark, tmp_path, fixture_pdf):
    # append mode: sessions finalize when the watermark passes; push the
    # frontier with a sentinel row far in the future, excluded from parity.
    sentinel = fixture_pdf.iloc[[0]].copy()
    sentinel["doc_id"] = "__sentinel__"
    sentinel["event_time"] = fixture_pdf["event_time"].max() + pd.Timedelta(hours=1)
    pdf = pd.concat([fixture_pdf, sentinel], ignore_index=True)

    sink = ExactlyOnceParquetSink(
        str(tmp_path / "out"), ["doc_id", "source", "session_start"]
    )
    run_stream(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        sink,
        lambda s: session_token_activity(s),
        pdf,
        mode="append",
    )
    got = (
        sink.read_current(spark)
        .filter(F.col("doc_id") != "__sentinel__")
        .toPandas()
    )
    batch = spark.createDataFrame(fixture_pdf, TOKENS_STREAM_SCHEMA)
    want = session_token_activity(batch, streaming=False).toPandas()
    assert len(got) > 100
    assert_frame_match(got, want)


def test_windowed_distinct_count_hll(spark, tmp_path, fixture_pdf):
    """HLL windowed distinct: streaming == batch bit-identically
    (register merge is order-independent), and within the rsd bound of
    the exact distinct count."""
    from diffdataflowmlpipelines_spark.streaming.windows import (
        windowed_distinct_count,
    )

    ex = lambda s: s.select(  # noqa: E731
        "event_time", F.explode("tokens").alias("token")
    )
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["window_start"])
    run_stream(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        sink,
        lambda s: windowed_distinct_count(ex(s), "token", window="60 seconds"),
        fixture_pdf,
    )
    got = {
        r["window_start"]: r["n_distinct"]
        for r in sink.read_current(spark).collect()
    }
    batch = spark.createDataFrame(fixture_pdf, TOKENS_STREAM_SCHEMA)
    approx = {
        r["window_start"]: r["n_distinct"]
        for r in windowed_distinct_count(
            ex(batch), "token", window="60 seconds", streaming=False
        ).collect()
    }
    exact = {
        r["w"]: r["n"]
        for r in ex(batch)
        .groupBy(F.window("event_time", "60 seconds").alias("win"))
        .agg(F.countDistinct("token").alias("n"))
        .select(F.col("win.start").alias("w"), "n")
        .collect()
    }
    assert got == approx  # streaming == batch HLL, bit-identical
    assert set(got) == set(exact)
    for w, n in exact.items():
        assert abs(got[w] - n) / n <= 0.15, (w, got[w], n)


def test_checkpoint_resume(spark, tmp_path, fixture_pdf):
    """Kill-and-restart: first half of the epochs in run 1, the rest in
    run 2 from the same checkpoint; final state equals batch recompute
    and no epoch is committed twice."""
    src = EpochFileSource(spark, str(tmp_path / "src"), TOKENS_STREAM_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["window_start", "token"])
    ckpt = str(tmp_path / "ckpt")

    n = len(fixture_pdf)
    for lo, hi in [(0, n // 4), (n // 4, n // 2)]:
        src.add_epoch(fixture_pdf.iloc[lo:hi])

    def start():
        return (
            tumbling_token_frequency(src.stream())
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(300)
    epochs_run1 = sink.committed_epochs()
    # one epoch per file (+ possibly a trailing watermark-commit batch)
    assert len(epochs_run1) >= 2

    for lo, hi in [(n // 2, 3 * n // 4), (3 * n // 4, n)]:
        src.add_epoch(fixture_pdf.iloc[lo:hi])
    q = start()  # resume from checkpoint
    q.awaitTermination(300)

    epochs_run2 = sink.committed_epochs()
    assert set(epochs_run1) < set(epochs_run2)  # run 2 continued, not redid
    assert min(set(epochs_run2) - set(epochs_run1)) > max(epochs_run1)

    got = sink.read_current(spark).filter(F.col("tf") != 0).toPandas()
    batch = spark.createDataFrame(fixture_pdf, TOKENS_STREAM_SCHEMA)
    want = (
        tumbling_token_frequency(batch, streaming=False)
        .filter(F.col("tf") != 0)
        .toPandas()
    )
    assert_frame_match(got, want)


def test_window_aggs_leave_shuffle_partitions_alone(spark, tmp_path):
    """Building a windowed agg over a file stream whose first batch is
    readable does not resize the session: the state partition count is
    the caller's ``spark.sql.shuffle.partitions``."""
    src = EpochFileSource(spark, str(tmp_path / "src"), TOKENS_STREAM_SCHEMA)
    src.add_epoch(gen_tokens_pdf(50, seed=5, rows_per_second=10.0))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    tumbling_token_frequency(src.stream())
    sliding_token_frequency(src.stream())
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_sink_idempotent_replay(spark, tmp_path):
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["k"])
    df1 = spark.createDataFrame([("a", 1)], "k string, v int")
    df2 = spark.createDataFrame([("a", 999)], "k string, v int")
    sink.write_batch(df1, 0)
    sink.write_batch(df2, 0)  # replay of epoch 0 with different data: dropped
    got = sink.read_current(spark).toPandas()
    assert got.to_dict("records") == [{"k": "a", "v": 1}]


def test_session_counts_are_diff_weighted(spark):
    """Review r4d: count(*)/sum(n_tok) undercounted consolidated net
    rows — a diff=2 row is a twice-inserted event and must contribute
    2 rows / 2*n_tok (the docstring tells callers to consolidate before
    sessionizing, so diff >= 2 inputs are the expected shape)."""
    from datetime import datetime

    df = spark.createDataFrame(
        [
            ("d1", "s1", datetime(2024, 1, 1, 0, 0, 0), 5, 2),
            ("d1", "s1", datetime(2024, 1, 1, 0, 0, 5), 3, 1),
        ],
        "doc_id string, source string, event_time timestamp,"
        " n_tok int, diff long",
    )
    row = session_token_activity(df, streaming=False).head()
    assert row["n_rows"] == 3
    assert row["n_tokens"] == 13
