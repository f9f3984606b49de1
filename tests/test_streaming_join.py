"""M4: stateful stream-stream join on (doc_id, source) with watermarks —
epoch-fed two-stream join, append-mode output, parity vs the batch join
on the same inputs (north-rule join semantics)."""

from __future__ import annotations

import pandas as pd

from diffdataflowmlpipelines_spark.sources.fixtures import (
    LABELS_SCHEMA,
    TOKENS_STREAM_SCHEMA,
    gen_labels_pdf,
    gen_tokens_pdf,
)
from diffdataflowmlpipelines_spark.streaming.join import label_join
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["tokens"] = pdf["tokens"].map(tuple)
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols, kind="stable").reset_index(drop=True)


def _join_epochs(spark, tmp_path, seed: int, n_epochs: int):
    """Token and label epoch sources over ``n_epochs`` slices of one
    fixture, plus a sentinel pair (landed last by the caller) that pushes
    both watermarks past every match."""
    tok_pdf = gen_tokens_pdf(600, seed=seed, rows_per_second=50)
    lab_pdf = gen_labels_pdf(tok_pdf, seed=seed + 1)
    flush_t = tok_pdf["event_time"].max() + pd.Timedelta(minutes=5)
    tok_flush, lab_flush = tok_pdf.iloc[[0]].copy(), lab_pdf.iloc[[0]].copy()
    tok_flush["doc_id"], tok_flush["event_time"] = "__flush__", flush_t
    lab_flush["doc_id"], lab_flush["event_time"] = "__flush__lab", flush_t
    n_t, n_l = len(tok_pdf), len(lab_pdf)
    epochs = [
        (tok_pdf.iloc[(n_t * k) // n_epochs : (n_t * (k + 1)) // n_epochs],
         lab_pdf.iloc[(n_l * k) // n_epochs : (n_l * (k + 1)) // n_epochs])
        for k in range(n_epochs)
    ] + [(tok_flush, lab_flush)]
    tsrc = EpochFileSource(spark, str(tmp_path / "tok"), TOKENS_STREAM_SCHEMA)
    lsrc = EpochFileSource(spark, str(tmp_path / "lab"), LABELS_SCHEMA)
    sink = ExactlyOnceParquetSink(
        str(tmp_path / "out"), ["doc_id", "source", "event_time", "label_time"]
    )
    return tok_pdf, lab_pdf, epochs, tsrc, lsrc, sink


def _land(tsrc, lsrc, epochs) -> None:
    for t, lab in epochs:
        tsrc.add_epoch(t)
        lsrc.add_epoch(lab)


def _drain_join(tsrc, lsrc, sink, ckpt: str) -> None:
    q = (
        label_join(tsrc.stream(2), lsrc.stream(2))
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert q.exception() is None


def _assert_join_matches_batch(spark, sink, tok_pdf, lab_pdf) -> None:
    got = sink.read_all(spark).drop("epoch").toPandas()
    got = got[~got["doc_id"].str.startswith("__flush__")]
    want = label_join(
        spark.createDataFrame(tok_pdf, TOKENS_STREAM_SCHEMA),
        spark.createDataFrame(lab_pdf, LABELS_SCHEMA),
        streaming=False,
    ).toPandas()
    assert len(got) > 100  # the join actually matched
    pd.testing.assert_frame_equal(_canon(got), _canon(want), check_dtype=False)


def _set_conf(spark, conf: dict) -> dict:
    """Set ``conf`` on the session; returns the previous values (None:
    unset) for restoring with the same call."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    return saved


def test_stream_stream_join_parity(spark, tmp_path):
    tok_pdf, lab_pdf, epochs, tsrc, lsrc, sink = _join_epochs(spark, tmp_path, 11, 3)
    _land(tsrc, lsrc, epochs)
    _drain_join(tsrc, lsrc, sink, str(tmp_path / "ckpt"))
    _assert_join_matches_batch(spark, sink, tok_pdf, lab_pdf)


def test_salted_join_parity_with_plain(spark, tmp_path):
    """Salted split-path join must produce exactly the plain join's
    output multiset (batch mode: same code path, salting on)."""
    from diffdataflowmlpipelines_spark.sources.fixtures import HOT_KEYS
    from diffdataflowmlpipelines_spark.streaming.join import salted_label_join

    tok_pdf = gen_tokens_pdf(800, seed=44, rows_per_second=50, hot_frac=0.2)
    lab_pdf = gen_labels_pdf(tok_pdf, seed=45)
    tokens = spark.createDataFrame(tok_pdf, TOKENS_STREAM_SCHEMA)
    labels = spark.createDataFrame(lab_pdf, LABELS_SCHEMA)

    plain = label_join(tokens, labels, streaming=False).toPandas()
    salted = salted_label_join(
        tokens, labels, HOT_KEYS, n_salts=4, streaming=False
    ).toPandas()
    assert len(plain) > 100
    pd.testing.assert_frame_equal(_canon(plain), _canon(salted), check_dtype=False)


def test_salted_join_with_autodetected_hot_keys(spark, tmp_path):
    """End-to-end auto-skew path: hot keys derived from batch key
    frequencies (detect_hot_keys over the input prefix) feed
    salted_label_join; output must equal the plain join's multiset."""
    from diffdataflowmlpipelines_spark.operators.skew import detect_hot_keys
    from diffdataflowmlpipelines_spark.sources.fixtures import HOT_KEYS
    from diffdataflowmlpipelines_spark.streaming.join import salted_label_join

    tok_pdf = gen_tokens_pdf(800, seed=46, rows_per_second=50, hot_frac=0.2)
    lab_pdf = gen_labels_pdf(tok_pdf, seed=47)
    tokens = spark.createDataFrame(tok_pdf, TOKENS_STREAM_SCHEMA)
    labels = spark.createDataFrame(lab_pdf, LABELS_SCHEMA)

    hot = detect_hot_keys(tokens, "doc_id", min_share=0.005, skew_factor=4.0)
    assert hot and set(hot) <= set(HOT_KEYS)

    plain = label_join(tokens, labels, streaming=False).toPandas()
    salted = salted_label_join(
        tokens, labels, hot, n_salts=4, streaming=False
    ).toPandas()
    pd.testing.assert_frame_equal(_canon(plain), _canon(salted), check_dtype=False)


def test_salted_join_streaming(spark, tmp_path):
    """Streaming salted join: same epoch-fed protocol as the plain test,
    compared against the batch salted output."""
    from diffdataflowmlpipelines_spark.sources.fixtures import HOT_KEYS
    from diffdataflowmlpipelines_spark.streaming.join import salted_label_join

    tok_pdf = gen_tokens_pdf(600, seed=46, rows_per_second=50, hot_frac=0.2)
    lab_pdf = gen_labels_pdf(tok_pdf, seed=47)

    flush_t = tok_pdf["event_time"].max() + pd.Timedelta(minutes=5)
    tok_flush = tok_pdf.iloc[[0]].copy()
    tok_flush["doc_id"] = "__flush__"
    tok_flush["event_time"] = flush_t
    lab_flush = lab_pdf.iloc[[0]].copy()
    lab_flush["doc_id"] = "__flush__lab"
    lab_flush["event_time"] = flush_t

    tsrc = EpochFileSource(spark, str(tmp_path / "tok"), TOKENS_STREAM_SCHEMA)
    lsrc = EpochFileSource(spark, str(tmp_path / "lab"), LABELS_SCHEMA)
    for k in range(2):
        n_t, n_l = len(tok_pdf), len(lab_pdf)
        tsrc.add_epoch(tok_pdf.iloc[(n_t * k) // 2 : (n_t * (k + 1)) // 2])
        lsrc.add_epoch(lab_pdf.iloc[(n_l * k) // 2 : (n_l * (k + 1)) // 2])
    tsrc.add_epoch(tok_flush)
    lsrc.add_epoch(lab_flush)

    sink = ExactlyOnceParquetSink(
        str(tmp_path / "out"), ["doc_id", "source", "event_time", "label_time"]
    )
    q = (
        salted_label_join(tsrc.stream(2), lsrc.stream(2), HOT_KEYS, n_salts=4)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sink.read_all(spark).drop("epoch").toPandas()
    got = got[~got["doc_id"].str.startswith("__flush__")]

    want = label_join(
        spark.createDataFrame(tok_pdf, TOKENS_STREAM_SCHEMA),
        spark.createDataFrame(lab_pdf, LABELS_SCHEMA),
        streaming=False,
    ).toPandas()
    assert len(got) > 50
    pd.testing.assert_frame_equal(_canon(got), _canon(want), check_dtype=False)


def test_recommended_state_partitions():
    """Sizing rule from the measured join_tune matrices (SCALING.md):
    ~20k rows/partition/batch density, power-of-two, capped at the
    available parallelism."""
    import pytest

    from diffdataflowmlpipelines_spark.streaming.join import (
        recommended_state_partitions,
    )

    # the two measured shapes reproduce their measured winners
    assert recommended_state_partitions(200_000, max_parallelism=32) == 8
    assert recommended_state_partitions(1_333_333, max_parallelism=64) == 64
    # tiny batches never go below one partition
    assert recommended_state_partitions(1, max_parallelism=32) == 1
    assert recommended_state_partitions(19_999, max_parallelism=32) == 1
    # parallelism cap binds on huge batches
    assert recommended_state_partitions(10_000_000, max_parallelism=32) == 32
    # non-power-of-two cap rounds down
    assert recommended_state_partitions(10_000_000, max_parallelism=48) == 32
    with pytest.raises(ValueError):
        recommended_state_partitions(0, max_parallelism=32)
    with pytest.raises(ValueError):
        recommended_state_partitions(100, max_parallelism=0)


def test_join_checkpoint_from_older_state_layout_resumes(spark, tmp_path):
    """A checkpoint created on RocksDB with changelog checkpointing and
    join state format 3 (the session defaults before the in-heap store)
    resumes under the current defaults: the query keeps the provider and
    format its checkpoint recorded, and the output over every epoch
    equals the batch join."""
    from diffdataflowmlpipelines_spark.session import (
        HDFS_PROVIDER,
        JOIN_STATE_FORMAT,
        ROCKSDB_PROVIDER,
        STATE_PROVIDER,
    )

    tok_pdf, lab_pdf, epochs, tsrc, lsrc, sink = _join_epochs(spark, tmp_path, 21, 4)
    ckpt = str(tmp_path / "ckpt")
    _land(tsrc, lsrc, epochs[:2])
    saved = _set_conf(spark, {STATE_PROVIDER: ROCKSDB_PROVIDER, JOIN_STATE_FORMAT: "3"})
    try:
        _drain_join(tsrc, lsrc, sink, ckpt)
    finally:
        _set_conf(spark, saved)
    assert spark.conf.get(STATE_PROVIDER) == HDFS_PROVIDER
    assert spark.conf.get(JOIN_STATE_FORMAT, None) != "3"
    first = sink.committed_epochs()
    _land(tsrc, lsrc, epochs[2:])
    _drain_join(tsrc, lsrc, sink, ckpt)
    assert len(sink.committed_epochs()) > len(first)
    offsets = tmp_path / "ckpt" / "offsets"
    last = max((p for p in offsets.iterdir() if p.name.isdigit()), key=lambda p: int(p.name))
    assert f'"{STATE_PROVIDER}":"{ROCKSDB_PROVIDER}"' in last.read_text()
    assert f'"{JOIN_STATE_FORMAT}":"3"' in last.read_text()
    state = tmp_path / "ckpt" / "state"
    assert any(state.rglob("*.changelog"))
    assert not any(state.rglob("*.delta"))
    _assert_join_matches_batch(spark, sink, tok_pdf, lab_pdf)


def test_label_join_on_hdfs_state_provider(spark, tmp_path):
    """The session default is the in-heap HDFS-backed state store, on
    Spark's default join state format (format 3 needs RocksDB's column
    families); the join runs on it."""
    from diffdataflowmlpipelines_spark.session import (
        HDFS_PROVIDER,
        JOIN_STATE_FORMAT,
        STATE_PROVIDER,
    )

    assert spark.conf.get(STATE_PROVIDER) == HDFS_PROVIDER
    assert spark.conf.get(JOIN_STATE_FORMAT, None) != "3"
    tok_pdf, lab_pdf, epochs, tsrc, lsrc, sink = _join_epochs(spark, tmp_path, 31, 3)
    _land(tsrc, lsrc, epochs)
    _drain_join(tsrc, lsrc, sink, str(tmp_path / "ckpt"))
    # HDFS-provider state is delta files (RocksDB's is changelogs)
    assert any((tmp_path / "ckpt" / "state").rglob("*.delta"))
    _assert_join_matches_batch(spark, sink, tok_pdf, lab_pdf)


def test_label_join_on_rocksdb_opt_in(spark, tmp_path):
    """A session that asks for RocksDB gets join state format 3 and
    changelog checkpoints; a later plain ``get_spark()`` on the same
    session comes back to the in-heap default and Spark's format."""
    from diffdataflowmlpipelines_spark.session import (
        HDFS_PROVIDER,
        JOIN_STATE_FORMAT,
        ROCKSDB_PROVIDER,
        STATE_PROVIDER,
        get_spark,
    )

    saved = {k: spark.conf.get(k, None) for k in (STATE_PROVIDER, JOIN_STATE_FORMAT)}
    try:
        s = get_spark(extra_conf={STATE_PROVIDER: ROCKSDB_PROVIDER})
        assert s.conf.get(STATE_PROVIDER) == ROCKSDB_PROVIDER
        assert s.conf.get(JOIN_STATE_FORMAT) == "3"
        tok_pdf, lab_pdf, epochs, tsrc, lsrc, sink = _join_epochs(s, tmp_path, 33, 2)
        _land(tsrc, lsrc, epochs)
        _drain_join(tsrc, lsrc, sink, str(tmp_path / "ckpt"))
        state = tmp_path / "ckpt" / "state"
        assert any(state.rglob("*.changelog"))
        assert not any(state.rglob("*.delta"))
        _assert_join_matches_batch(s, sink, tok_pdf, lab_pdf)
        s = get_spark()
        assert s.conf.get(STATE_PROVIDER) == HDFS_PROVIDER
        assert s.conf.get(JOIN_STATE_FORMAT, None) != "3"
    finally:
        _set_conf(spark, saved)
