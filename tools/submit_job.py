"""spark-submit entry job (north rule: the engine is launched with
``spark-submit --py-files dist/diffdataflowmlpipelines_spark.zip``).

Run by tests/test_spark_submit.py in a clean cwd with no PYTHONPATH, so
the package can ONLY be imported from the --py-files zip — proving the
packaging actually works end-to-end, not just that the zip exists.

The job: generate a small token stream, run the incremental windowed
token-frequency aggregation (availableNow) into the exactly-once sink,
and compare against the batch recompute. Prints one line:
``SUBMIT_RESULT {json}``.

Usage:
  spark-submit --master local[2] \
    --py-files dist/diffdataflowmlpipelines_spark.zip \
    tools/submit_job.py <workdir>
"""

from __future__ import annotations

import json
import os
import sys


def main(workdir: str) -> None:
    import diffdataflowmlpipelines_spark as pkg
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from diffdataflowmlpipelines_spark.sources.fixtures import (
        TOKENS_STREAM_SCHEMA,
        gen_tokens_pdf,
    )
    from diffdataflowmlpipelines_spark.streaming.sink import (
        ExactlyOnceParquetSink,
    )
    from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files
    from diffdataflowmlpipelines_spark.streaming.windows import (
        tumbling_token_frequency,
    )

    # cluster style: master/deploy config comes from spark-submit, the
    # job only sets semantics-level conf
    spark = (
        SparkSession.builder.appName("submit-smoke")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "4")
        # Arrow on: pandas fixtures carry numpy-typed token arrays the
        # non-Arrow converter rejects (and it's the production posture)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    pdf = gen_tokens_pdf(2000, seed=42, rows_per_second=500.0)
    tok_dir = os.path.join(workdir, "tok")
    write_epoch_files(pdf, tok_dir, 2)

    sink = ExactlyOnceParquetSink(os.path.join(workdir, "out"), ["window_start", "token"])
    stream = (
        spark.readStream.schema(TOKENS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(tok_dir)
    )
    agg = tumbling_token_frequency(stream, window="60 seconds", watermark="30 seconds")
    q = (
        agg.writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming query timed out after 600s")

    got = sink.read_current(spark)
    batch = spark.createDataFrame(pdf, TOKENS_STREAM_SCHEMA)
    want = tumbling_token_frequency(
        batch, window="60 seconds", watermark="30 seconds", streaming=False
    )
    n_got, n_want = got.count(), want.count()
    mismatch = (
        got.join(
            want.withColumnRenamed("tf", "tf_want"),
            ["window_start", "token"],
            "full",
        )
        .filter(
            F.col("tf").isNull()
            | F.col("tf_want").isNull()
            | (F.col("tf") != F.col("tf_want"))
        )
        .count()
    )
    print(
        "SUBMIT_RESULT "
        + json.dumps(
            {
                "pkg_file": pkg.__file__,
                "from_zip": ".zip" in (pkg.__file__ or ""),
                "rows_streaming": n_got,
                "rows_batch": n_want,
                "mismatches": mismatch,
                "epochs_committed": sink.committed_epochs(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
