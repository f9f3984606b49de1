"""M3: incremental vocabulary — reference PositionAssignmentAggregate
policy (stable indices, hole reuse, x1.5/0.66 sizing) as a sharded
stateful streaming op, asserted against a pure-python oracle replay."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource
from diffdataflowmlpipelines_spark.streaming.vocabulary import (
    ShardDict,
    incremental_vocabulary,
)
from pyspark.sql import types as T

TOK_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType(), False),
        T.StructField("diff", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)


def test_shard_dict_reference_policy():
    d = ShardDict()
    for t in ["a", "b", "c"]:
        d.update(t, 1)
    assert d.val_to_index == {"a": 0, "b": 1, "c": 2}
    assert d.length == 3  # 1 -> 2 -> 3 growth (x1.5 half-away)
    d.update("b", -1)  # delete b: index 1 freed (hole, no renumbering)
    assert "b" not in d.val_to_index and d.free == [1]
    d.update("d", 1)  # d reuses the hole
    assert d.val_to_index["d"] == 1
    d.update("b", 1)  # b returns: gets a fresh index
    assert d.val_to_index["b"] == 3
    assert d.length == 5  # 4 live > 3 -> grow to 5
    # shrink path: delete until occupancy < 0.66*len triggers compress
    for t in ["a", "c", "d"]:
        d.update(t, -1)
    assert sorted(d.val_to_index) == ["b"]
    # shrink: 5 -> ceil(5*.66)=4 -> ceil(4*.66)=3; stops when
    # live(1) >= floor(3*0.66)=1 (reference floor/ceil policy)
    assert d.length == 3
    assert d.val_to_index["b"] == 0  # renumbered densely


def _epochs():
    t0 = datetime(2024, 1, 1)
    rows = lambda i, items: pd.DataFrame(  # noqa: E731
        {
            "token": [t for t, _ in items],
            "diff": [d for _, d in items],
            "event_time": [t0 + timedelta(seconds=i * 10 + j) for j in range(len(items))],
        }
    )
    return [
        rows(0, [("apple", 1), ("pear", 1), ("plum", 1)]),
        rows(1, [("pear", -1), ("kiwi", 1)]),   # free pear's idx; kiwi reuses it
        rows(2, [("pear", 1), ("apple", 1)]),   # pear returns with a fresh idx
    ]


def test_incremental_vocabulary_stream(spark, tmp_path):
    src = EpochFileSource(spark, str(tmp_path / "src"), TOK_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["token"])
    epochs = _epochs()

    def start():
        return (
            incremental_vocabulary(src.stream(), n_shards=1)
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    for ep in epochs:
        src.add_epoch(ep)
    q = start()
    q.awaitTermination(300)

    got = {
        r["token"]: (r["idx"], r["count"])
        for r in sink.read_current(spark).collect()
    }

    # oracle: replay the same updates through the pure-python reference model
    oracle = ShardDict()
    for ep in epochs:
        ep = ep.sort_values(["event_time", "token"], kind="stable")
        for t, d in zip(ep["token"], ep["diff"]):
            oracle.update(t, int(d))

    for tok, cnt in oracle.val_to_count.items():
        want_idx = oracle.val_to_index.get(tok, -1)
        assert got[tok] == (want_idx, cnt), tok
    # hole-reuse actually happened: kiwi took pear's original index
    assert got["kiwi"][0] == 1
    assert got["pear"][0] == 3  # fresh index on return
    assert got["apple"] == (0, 2)


def test_sharded_vocabulary_global_index_uniqueness(spark, tmp_path):
    # many tokens across 4 shards: live global indices must be unique and
    # counts must equal the batch multiset counts
    t0 = datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "token": [f"tok{i % 97}" for i in range(600)],
            "diff": [1] * 600,
            "event_time": [t0 + timedelta(seconds=i) for i in range(600)],
        }
    )
    src = EpochFileSource(spark, str(tmp_path / "src"), TOK_SCHEMA)
    for k in range(3):
        src.add_epoch(pdf.iloc[k * 200 : (k + 1) * 200])
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["token"])
    q = (
        incremental_vocabulary(src.stream(), n_shards=4)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    cur = sink.read_current(spark)
    rows = cur.collect()
    live = [r for r in rows if r["idx"] >= 0]
    assert len(live) == 97
    assert len({r["idx"] for r in live}) == 97  # global uniqueness
    want = pdf.groupby("token")["diff"].sum().to_dict()
    for r in live:
        assert want[r["token"]] == r["count"]
    # shard interleaving: idx % n_shards == shard
    assert all(r["idx"] % 4 == r["shard"] for r in live)


def test_vocabulary_cross_batch_compression_reemits(spark, tmp_path):
    """A retraction-triggered compression renumbers live tokens the
    batch never touched; those must be re-emitted or the sink keeps
    their stale indices (ADVICE r1: _compress() vs touched-only emit)."""
    t0 = datetime(2024, 1, 1)
    mk = lambda i, items: pd.DataFrame(  # noqa: E731
        {
            "token": [t for t, _ in items],
            "diff": [d for _, d in items],
            "event_time": [
                t0 + timedelta(seconds=i * 100 + j) for j in range(len(items))
            ],
        }
    )
    # epoch 0: t0..t7 assigned 0..7 (length grows 1->2->3->5->8)
    ep0 = mk(0, [(f"t{i}", 1) for i in range(8)])
    # epoch 1: retract t0..t4 -> occupancy drops below 0.66 -> compress
    # renumbers the UNTOUCHED survivors t5,t6,t7 densely
    ep1 = mk(1, [(f"t{i}", -1) for i in range(5)])

    src = EpochFileSource(spark, str(tmp_path / "src"), TOK_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["token"])
    for ep in (ep0, ep1):
        src.add_epoch(ep)
    q = (
        incremental_vocabulary(src.stream(), n_shards=1)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r["token"]: (r["idx"], r["count"], r["vec_len"])
        for r in sink.read_current(spark).collect()
    }
    oracle = ShardDict()
    for ep in (ep0, ep1):
        ep = ep.sort_values(["event_time", "token"], kind="stable")
        for t, d in zip(ep["token"], ep["diff"]):
            oracle.update(t, int(d))
    # compression really happened and changed untouched survivors
    # (retracting t3 compresses {t4..t7} -> 0..3; retracting t4 then
    # frees 0, leaving survivors at 1..3 — away from their original 5..7)
    assert oracle.val_to_index == {"t5": 1, "t6": 2, "t7": 3}
    for tok, cnt in oracle.val_to_count.items():
        want_idx = oracle.val_to_index.get(tok, -1)
        assert got[tok][:2] == (want_idx, cnt), tok
    # the sink's view of vec_len for the re-emitted rows is current too
    for tok in ("t5", "t6", "t7"):
        assert got[tok][2] == oracle.length


def test_vocabulary_checkpoint_resume(spark, tmp_path):
    """State (assignments, holes, free-list) must survive a query
    restart from checkpoint: epoch 2 is processed by a NEW query and
    must still reuse the index freed in epoch 1."""
    src = EpochFileSource(spark, str(tmp_path / "src"), TOK_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["token"])
    epochs = _epochs()

    def start():
        return (
            incremental_vocabulary(src.stream(), n_shards=1)
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    src.add_epoch(epochs[0])
    src.add_epoch(epochs[1])
    q = start()
    q.awaitTermination(300)  # first run: assignments + pear freed

    src.add_epoch(epochs[2])
    q = start()  # restart from checkpoint
    q.awaitTermination(300)

    got = {
        r["token"]: (r["idx"], r["count"])
        for r in sink.read_current(spark).collect()
    }
    # identical expectations to the single-run test: resume preserved state
    assert got["kiwi"][0] == 1    # hole reuse from run 1 survives
    assert got["pear"] == (3, 1)  # fresh index assigned AFTER restart
    assert got["apple"] == (0, 2)


def test_driver_vocabulary_parity_with_streaming_operator(spark, tmp_path):
    """DriverVocabularyPipeline (latency twin: driver-held ShardDicts,
    one Spark job per epoch) must emit row-for-row the SAME per-epoch
    outputs as the applyInPandasWithState operator — same xxhash64
    sharding, same apply order, same emission rule."""
    from diffdataflowmlpipelines_spark.streaming.vocabulary import (
        DriverVocabularyPipeline,
    )

    epochs = _epochs()
    n_shards = 2

    # streaming-operator run (per-epoch availableNow)
    src = EpochFileSource(spark, str(tmp_path / "src"), TOK_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["shard", "token"])
    for i, ep in enumerate(epochs):
        src.add_epoch(ep)
        q = (
            incremental_vocabulary(src.stream(), n_shards=n_shards)
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # driver-state run over the SAME epochs
    pipe = DriverVocabularyPipeline(
        spark, str(tmp_path / "drv"), n_shards=n_shards
    )
    for i, ep in enumerate(epochs):
        pipe.process_epoch(spark.createDataFrame(ep, TOK_SCHEMA), i)

    def rows_of(sink_obj, e):
        import pandas as pd  # noqa: F811

        pdf = pd.read_parquet(sink_obj.epoch_dir(e))
        return sorted(
            zip(pdf["shard"], pdf["token"], pdf["idx"], pdf["count"], pdf["vec_len"])
        )

    # per-epoch emissions identical (streaming run may interleave an
    # empty watermark-commit batch: compare epoch dirs that have rows)
    stream_epochs = [
        e for e in sink.committed_epochs() if rows_of(sink, e)
    ]
    for se, de in zip(stream_epochs, pipe.output_sink.committed_epochs()):
        assert rows_of(sink, se) == rows_of(pipe.output_sink, de), (se, de)

    # driver restart: a fresh object restores state from the input
    # prefix and keeps assigning consistently
    pipe2 = DriverVocabularyPipeline(
        spark, str(tmp_path / "drv"), n_shards=n_shards
    )
    extra = pd.DataFrame(
        {
            "token": ["mango"],
            "diff": [1],
            "event_time": [datetime(2024, 1, 1, 0, 5)],
        }
    )
    pipe2.process_epoch(spark.createDataFrame(extra, TOK_SCHEMA), len(epochs))
    cur = {
        r["token"]: (r["idx"], r["count"])
        for r in pipe2.current_vocabulary().filter(F.col("idx") >= 0).collect()
    }
    # oracle replay: pure-python ShardDicts over all epochs,
    # sharded via the committed input (authoritative)
    dicts = {s: ShardDict() for s in range(n_shards)}
    inp = pd.concat(
        [pd.read_parquet(pipe2.input_sink.epoch_dir(e))
         for e in pipe2.input_sink.committed_epochs()],
        ignore_index=True,
    )
    for _, r in inp.sort_values(["event_time", "token"], kind="stable").iterrows():
        dicts[int(r["shard"])].update(str(r["token"]), int(r["diff"]))
    want = {}
    for s, d in dicts.items():
        for t, i in d.val_to_index.items():
            want[t] = (i * n_shards + s, d.val_to_count[t])
    assert cur == want


def test_driver_vocabulary_crash_window_repair(spark, tmp_path):
    """Input committed, output missing (crash between commits): restore
    must re-emit the epoch's output so the upsert view is complete."""
    import shutil as sh

    from diffdataflowmlpipelines_spark.streaming.vocabulary import (
        DriverVocabularyPipeline,
    )

    epochs = _epochs()
    pipe = DriverVocabularyPipeline(spark, str(tmp_path / "drv"), n_shards=2)
    for i, ep in enumerate(epochs):
        pipe.process_epoch(spark.createDataFrame(ep, TOK_SCHEMA), i)
    before = {
        (r["shard"], r["token"]): (r["idx"], r["count"])
        for r in pipe.current_vocabulary().collect()
    }
    sh.rmtree(pipe.output_sink.epoch_dir(2))
    pipe2 = DriverVocabularyPipeline(spark, str(tmp_path / "drv"), n_shards=2)
    assert pipe2.output_sink.is_committed(2)
    after = {
        (r["shard"], r["token"]): (r["idx"], r["count"])
        for r in pipe2.current_vocabulary().collect()
    }
    assert after == before


def test_driver_vocabulary_same_process_replay_before_apply(spark, tmp_path):
    """Crash after the input commit but before the ShardDict apply, then
    a replay on the SAME object: the epoch's diffs must be applied (the
    old path emitted full state from dictionaries that never saw the
    epoch and dropped its updates for the process lifetime)."""
    from diffdataflowmlpipelines_spark.streaming.vocabulary import (
        DriverVocabularyPipeline,
    )

    epochs = _epochs()
    pipe = DriverVocabularyPipeline(spark, str(tmp_path / "drv"), n_shards=2)
    pipe.process_epoch(spark.createDataFrame(epochs[0], TOK_SCHEMA), 0)
    # crash window: input epoch 1 committed, apply never ran
    pipe.input_sink.write_batch_local(
        pipe._rows_to_pdf(
            pipe._keyed(spark.createDataFrame(epochs[1], TOK_SCHEMA)).collect()
        ),
        1,
    )
    pipe.process_epoch(spark.createDataFrame(epochs[1], TOK_SCHEMA), 1)
    pipe.process_epoch(spark.createDataFrame(epochs[2], TOK_SCHEMA), 2)
    got = {
        (r["shard"], r["token"]): (r["idx"], r["count"])
        for r in pipe.current_vocabulary().collect()
    }
    # oracle: a fresh restore replays the committed prefix exactly
    fresh = DriverVocabularyPipeline(spark, str(tmp_path / "drv"), n_shards=2)
    want = {
        (r["shard"], r["token"]): (r["idx"], r["count"])
        for r in fresh.current_vocabulary().collect()
    }
    assert got == want
    # the in-memory dictionaries agree too (the old bug corrupted these)
    for s in fresh.shards:
        assert pipe.shards[s].val_to_index == fresh.shards[s].val_to_index
        assert pipe.shards[s].val_to_count == fresh.shards[s].val_to_count


def test_driver_vocab_long_tokens_route_identically(spark, tmp_path):
    """Review r4d: the Spark path sharded by xxhash64 of the RAW typed
    column while the driver-local path sharded by XXH64(str(token)) —
    a LongType token landed in different ShardDicts depending on the
    path, corrupting the vocabulary under mixed usage. Both now hash
    the string cast."""
    import pandas as pd

    from diffdataflowmlpipelines_spark.streaming.vocabulary import (
        DriverVocabularyPipeline,
    )

    long_schema = T.StructType(
        [
            T.StructField("token", T.LongType(), True),
            T.StructField("diff", T.LongType(), True),
            T.StructField("event_time", T.TimestampType(), True),
        ]
    )
    rows = pd.DataFrame(
        {
            "token": pd.array([42, 7, 123456789, 42, 9], dtype="Int64"),
            "diff": [1, 1, 1, 1, 1],
            "event_time": [datetime(2024, 1, 1)] * 5,
        }
    )
    pa = DriverVocabularyPipeline(spark, str(tmp_path / "a"), n_shards=4)
    pa.process_epoch(spark.createDataFrame(rows, long_schema), 0)
    pb = DriverVocabularyPipeline(spark, str(tmp_path / "b"), n_shards=4)
    local = rows.copy()
    local["event_time"] = pd.to_datetime(local["event_time"]).dt.tz_localize(
        "UTC"
    )
    pb.process_epoch_local(local, 0)

    def vocab(p):
        return {
            r["token"]: (r["shard"], r["idx"])
            for r in p.current_vocabulary().filter(F.col("idx") >= 0).collect()
        }

    va, vb = vocab(pa), vocab(pb)
    assert va == vb and set(va) == {"42", "7", "123456789", "9"}
