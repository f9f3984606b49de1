"""ExactlyOnceParquetSink.write_batch commits an epoch with one Spark job
(the write), leaves only part files in it, and records its per-partition
lineage from the committed files' parquet footers."""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink


@contextmanager
def _job_group(sc, group: str):
    """Runs the block in job group ``group``; yields a function that
    lists the Spark job ids the status store has seen in that group."""
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in props}
    sc.setJobGroup(group, group)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def test_write_batch_one_job_and_footer_lineage(spark, tmp_path):
    sc = spark.sparkContext
    # four range partitions; the filter leaves the last one empty
    df = spark.range(0, 1000, 1, 4).filter(F.col("id") < 600)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["id"])
    with _job_group(sc, "sink-write") as write_jobs:
        sink.write_batch(df, 0)
    with _job_group(sc, "sink-ref") as ref_jobs:
        rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    # the status store sees job events in order: once the reference
    # job has arrived, every job of the write has too
    deadline = time.time() + 30
    while not ref_jobs() and time.time() < deadline:
        time.sleep(0.1)
    assert ref_jobs()
    assert len(write_jobs()) == 1

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
