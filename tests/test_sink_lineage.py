"""ExactlyOnceParquetSink.write_batch commits an epoch with one Spark job
(the write), leaves only part files in it, and records its per-partition
lineage from the committed files' parquet footers. A crash in either
commit window leaves no trace the replay cannot mend: a lost lineage
record is written on replay, and a failed staging write removes its
staging directory."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink


def test_write_batch_one_job_and_footer_lineage(spark, tmp_path, job_group):
    # four range partitions; the filter leaves the last one empty
    df = spark.range(0, 1000, 1, 4).filter(F.col("id") < 600)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["id"])
    with job_group("sink-write") as write_jobs:
        sink.write_batch(df, 0)
    assert len(write_jobs()) == 1

    rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()

    (rec,) = sink.lineage()
    want = {str(r["p"]): r["count"] for r in rows}
    assert want == {"0": 250, "1": 250, "2": 100}
    assert rec["partitions"] == want
    assert rec["rows"] == 600
    assert "local" not in rec
    # the rename is the commit point, so the epoch holds no _SUCCESS
    # marker: only part files and their checksums, the layout
    # write_batch_local commits
    names = sorted(p.name for p in (tmp_path / "out" / "epoch=0").iterdir())
    parts = [n for n in names if n.startswith("part-") and n.endswith(".parquet")]
    assert parts and names == sorted(parts + [f".{n}.crc" for n in parts])
    assert sorted(r["id"] for r in sink.read_current(spark).collect()) == list(range(600))


def _commit_lost_its_lineage(tmp_path, monkeypatch):
    """A sink whose epoch 0 committed while its lineage write raised."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["id"])

    def fail(*args, **kwargs):
        raise OSError("injected: lineage write")

    with monkeypatch.context() as m:
        m.setattr(sink, "_write_lineage", fail)
        with pytest.raises(OSError, match="injected"):
            sink.write_batch_local(pa.table({"id": [1, 2, 3]}), 0)
    return sink


def test_replay_writes_the_lineage_record_a_crash_lost(tmp_path, monkeypatch):
    """The lineage write raises after the atomic rename: the epoch is
    committed without a record, and its replay writes the record."""
    sink = _commit_lost_its_lineage(tmp_path, monkeypatch)
    assert sink.is_committed(0) and sink.lineage() == []
    sink.write_batch_local(pa.table({"id": [1, 2, 3]}), 0)  # the replay
    (rec,) = sink.lineage()
    assert (rec["epoch"], rec["rows"], rec["partitions"]) == (0, 3, {"0": 3})
    assert rec["local"]


def test_failed_staging_write_leaves_no_staging_directory(tmp_path, monkeypatch):
    """A staging write that raises removes its staging directory and
    re-raises; nothing commits."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["id"])

    def fail(*args, **kwargs):
        raise OSError("injected: disk full")

    monkeypatch.setattr(pq, "write_table", fail)
    with pytest.raises(OSError, match="injected"):
        sink.write_batch_local(pa.table({"id": [1]}), 0)
    assert os.listdir(tmp_path / "out" / "_staging") == []
    assert not sink.is_committed(0) and sink.lineage() == []
