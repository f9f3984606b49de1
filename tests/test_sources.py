"""C15 CSV sources (reference per-column typing) + TableIO + metrics."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.sources.csv import (
    read_adult_like_csv,
    read_csv_all_float,
)
from diffdataflowmlpipelines_spark.sources.tableio import ParquetTableIO


def _write_csv(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_read_adult_like_csv_type_split(spark, tmp_path):
    path = _write_csv(
        tmp_path,
        "a.csv",
        "age,job,score\n39, clerk ,7.5\n50,cook,8\nx,smith,9.25\n",
    )
    df = read_adult_like_csv(spark, path)
    # 'age' has an unparsable cell -> stays Text (trimmed); score all-float
    types = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(types["age"], T.StringType)
    assert isinstance(types["job"], T.StringType)
    assert isinstance(types["score"], T.DoubleType)
    rows = df.collect()
    assert rows[0]["job"] == "clerk"  # reference reader trims text cells
    assert rows[2]["score"] == 9.25


def test_read_csv_all_float_default(spark, tmp_path):
    path = _write_csv(tmp_path, "b.csv", "x,y\n1.5,oops\n2.0,3\n")
    df = read_csv_all_float(spark, path)
    rows = df.collect()
    assert rows[0]["y"] == -1.0  # unparsable -> -1.0 (reference semantics)
    assert rows[1]["x"] == 2.0 and rows[1]["y"] == 3.0


def test_parquet_tableio_roundtrip(spark, tmp_path):
    io = ParquetTableIO(str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df.write.parquet(io.path("t"))
    assert io.read(spark, "t").count() == 2
    sink = io.exactly_once_sink("t_out", ["id"])
    sink.write_batch(df, 0)
    assert sink.read_current(spark).count() == 2


def test_progress_listener(spark, tmp_path):
    from diffdataflowmlpipelines_spark.sources.fixtures import (
        TOKENS_STREAM_SCHEMA,
        gen_tokens_pdf,
    )
    from diffdataflowmlpipelines_spark.streaming.metrics import attach_progress_log
    from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files
    from diffdataflowmlpipelines_spark.streaming.windows import tumbling_token_frequency

    log = str(tmp_path / "progress.jsonl")
    listener = attach_progress_log(spark, log)
    try:
        write_epoch_files(gen_tokens_pdf(300, seed=55), str(tmp_path / "src"), 2)
        stream = (
            spark.readStream.schema(TOKENS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
        )
        q = (
            tumbling_token_frequency(stream)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # listener callbacks are async; wait briefly for the writes
        import time

        for _ in range(30):
            if os.path.exists(log) and len(open(log).readlines()) >= 3:
                break
            time.sleep(1)
        events = [json.loads(l) for l in open(log)]
        kinds = {e["event"] for e in events}
        assert "started" in kinds and "progress" in kinds
        prog = [e for e in events if e["event"] == "progress"]
        assert any(p["numInputRows"] > 0 for p in prog)
        assert all("stateOperators" in p for p in prog)
    finally:
        spark.streams.removeListener(listener)


def test_read_jsonl_quarantine(spark, tmp_path):
    """Malformed lines land in quarantine with the raw text; clean rows
    carry the declared schema; type-mismatched lines quarantine too
    (PERMISSIVE corrupt-record routing, not silent nulls)."""
    from diffdataflowmlpipelines_spark.sources.jsonl import read_jsonl_quarantine

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "hello world", "n_tok": 2}',
                "this is not json at all",
                '{"doc_id": 2, "text": "ok", "n_tok": 1}',
                '{"doc_id": "NaNope", "text": "bad id", "n_tok": 3}',
                "",  # blank line: skipped entirely, not quarantined
                '{"doc_id": 4, "text": null, "n_tok": 0}',
            ]
        )
    )
    clean, quar = read_jsonl_quarantine(
        spark, str(p), "doc_id long, text string, n_tok int"
    )
    rows = {r["doc_id"]: (r["text"], r["n_tok"]) for r in clean.collect()}
    # null text is VALID json for a nullable field -> clean
    assert rows == {1: ("hello world", 2), 2: ("ok", 1), 4: (None, 0)}
    raw = sorted(r["raw_line"] for r in quar.collect())
    assert raw == [
        "this is not json at all",
        '{"doc_id": "NaNope", "text": "bad id", "n_tok": 3}',
    ]


def test_read_jsonl_schema_not_mutated(spark, tmp_path):
    """The caller's StructType must not grow a _corrupt_record field
    (StructType.add mutates in place)."""
    from pyspark.sql import types as T

    from diffdataflowmlpipelines_spark.sources.jsonl import read_jsonl_quarantine

    p = tmp_path / "x.jsonl"
    p.write_text('{"a": 1}\nnot json\n')
    schema = T.StructType([T.StructField("a", T.LongType(), True)])
    clean, quar = read_jsonl_quarantine(spark, str(p), schema)
    assert clean.count() == 1 and quar.count() == 1
    assert [f.name for f in schema.fields] == ["a"]
    # second call with the SAME object behaves identically
    clean2, _ = read_jsonl_quarantine(spark, str(p), schema)
    assert clean2.columns == ["a"]


def test_epoch_source_resumes_numbering(spark, tmp_path):
    """A new EpochFileSource over a pre-populated directory must NOT
    clobber epoch-00000 (a running file stream would never re-read it)."""
    import os

    import pandas as pd

    from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource

    schema = T.StructType([T.StructField("v", T.LongType(), False)])
    d = str(tmp_path / "src")
    EpochFileSource(spark, d, schema).add_epoch(pd.DataFrame({"v": [1]}))
    src2 = EpochFileSource(spark, d, schema)
    src2.add_epoch(pd.DataFrame({"v": [2]}))
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert files == ["epoch-00000.parquet", "epoch-00001.parquet"]
    assert spark.read.parquet(d).count() == 2


def test_epoch_files_reach_the_stream_in_order(spark, tmp_path, monkeypatch):
    """The file stream source takes new files by modification time (ms)
    and breaks ties by directory listing order, which is not name
    order. Epochs written within one millisecond (forced here: every
    write gets the same mtime) must still get strictly increasing
    mtimes, and a one-file-per-trigger stream must read them in epoch
    order."""
    import pandas as pd

    from diffdataflowmlpipelines_spark.streaming import sources

    write = sources._to_parquet

    def write_same_mtime(pdf, path):
        write(pdf, path)
        os.utime(path, ns=(1_700_000_000_000_000_000,) * 2)

    monkeypatch.setattr(sources, "_to_parquet", write_same_mtime)
    schema = T.StructType([T.StructField("v", T.LongType(), False)])
    pdf = pd.DataFrame({"v": range(6)})
    src = sources.EpochFileSource(spark, str(tmp_path / "added"), schema)
    for group in (
        sources.write_epoch_files(pdf, str(tmp_path / "split"), 6, sort_col=None),
        [src.add_epoch(pdf.iloc[[i]]) for i in range(6)],
    ):
        ms = [os.stat(p).st_mtime_ns // 1_000_000 for p in group]
        assert ms == sorted(set(ms))

    seen = []
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "split"))
        .writeStream.foreachBatch(
            lambda df, epoch: seen.extend(r["v"] for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert seen == list(range(6))


def test_lineage_numeric_order(spark, tmp_path):
    import pyarrow as pa

    from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["v"])
    for e in range(12):
        sink.write_batch_local(pa.table({"v": [e]}), e)
    assert [l["epoch"] for l in sink.lineage()] == list(range(12))


def test_labels_df_matches_tokens_fixture(spark):
    from diffdataflowmlpipelines_spark.sources.fixtures import (
        gen_tokens_pdf,
        labels_df,
    )

    pdf = gen_tokens_pdf(200, seed=5, rows_per_second=50.0)
    df = labels_df(spark, pdf)
    assert df.count() > 0
    assert set(df.columns) >= {"label"} or len(df.columns) >= 2
