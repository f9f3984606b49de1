"""ExactlyOnceParquetSink.write_batch commits an epoch with one Spark job
(the write), leaves only part files in it, and records its per-partition
lineage from the committed files' parquet footers."""

from __future__ import annotations

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
