"""Single-configuration scaling probe — run the streaming workloads at
local[CPUS] over PRE-GENERATED epoch files and print one JSON line.
Invoked by tools/scaling_bench.py (one JVM per parallelism level).

Metrics per workload:
- wall_sec: end-to-end including session/planning fixed costs
- sustained_rows_per_s: median of Spark's own per-batch
  processedRowsPerSecond, excluding the first (cold) batch — the honest
  "sustained throughput" number the target metric asks for, insulated
  from constant startup costs that a long-running cluster job amortizes.

State store: local[k] runs k state partitions in ONE process, so
RocksDB's per-partition maintenance scales with k and anti-scales
locally (on a real cluster partitions-per-executor is constant).
Provider is a CLI arg; scaling evidence reports both, headline = hdfs
(in-memory + snapshot, the session default); RocksDB is for state
larger than the heap.

Usage: scaling_one.py <cpus> <tok_dir> <lab_dir> <provider>
Env: SCALE_WORKLOADS — csv subset of
  stream_agg,stream_shingle_agg,stream_join,stream_join_salted
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(sys.argv[1])
TOK_DIR, LAB_DIR = sys.argv[2], sys.argv[3]
PROVIDER = sys.argv[4] if len(sys.argv) > 4 else "hdfs"
WORKLOADS = set(
    os.environ.get(
        "SCALE_WORKLOADS",
        "stream_agg,stream_shingle_agg,stream_join,stream_join_salted",
    ).split(",")
)


def sustained(progress: list[dict]) -> float:
    rates = [
        p["sources"][0]["processedRowsPerSecond"]
        for p in progress
        if p["numInputRows"] > 0
    ]
    rates = rates[1:] if len(rates) > 1 else rates  # drop cold batch
    # empty-guard like bench._sustained: a run with no progressed batch
    # must report 0.0, not throw away the whole measurement
    return round(statistics.median(rates), 1) if rates else 0.0


def main() -> None:
    from pyspark.sql import functions as F

    from diffdataflowmlpipelines_spark.functions.dedup import md5_hash60, word_shingles
    from diffdataflowmlpipelines_spark.session import (
        ROCKSDB_PROVIDER,
        STATE_PROVIDER,
        get_spark,
    )
    from diffdataflowmlpipelines_spark.sources.fixtures import (
        HOT_KEYS,
        LABELS_SCHEMA,
        TOKENS_STREAM_SCHEMA,
    )
    from diffdataflowmlpipelines_spark.streaming.join import (
        label_join,
        salted_label_join,
    )
    from diffdataflowmlpipelines_spark.streaming.windows import tumbling_token_frequency

    conf = {"spark.sql.files.maxPartitionBytes": "4m"}
    if PROVIDER == "rocksdb":  # hdfs is the session default
        conf[STATE_PROVIDER] = ROCKSDB_PROVIDER
    spark = get_spark(
        app_name=f"scaling-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=conf,
    )
    noop = lambda df, eid: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    work = tempfile.mkdtemp(prefix=f"scale_{CPUS}_")
    out: dict = {"cpus": CPUS, "provider": PROVIDER}

    def tok_stream():
        return (
            spark.readStream.schema(TOKENS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(TOK_DIR)
        )

    def run_query(df, mode, tag):
        t0 = time.time()
        q = (
            df.writeStream.foreachBatch(noop)
            .outputMode(mode)
            .option("checkpointLocation", f"{work}/ckpt_{tag}")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(1800):
            q.stop()
            raise RuntimeError("streaming query timed out after 1800s")
        out[f"{tag}_wall_sec"] = round(time.time() - t0, 2)
        out[f"{tag}_rows_per_s"] = sustained(
            [json.loads(p.json) for p in q.recentProgress]
        )

    try:
        if "stream_agg" in WORKLOADS:
            run_query(
                tumbling_token_frequency(
                    tok_stream(), window="60 seconds", state_partitions=CPUS
                ),
                "update",
                "stream_agg",
            )

        if "stream_shingle_agg" in WORKLOADS:
            # compute-dense variant: windowed aggregation over md5-hashed
            # 3-gram shingles (the north star's "count-min / feature-
            # hashing" statistic) — per-row CPU dominates scan/shuffle,
            # isolating compute scaling from the memory-bandwidth ceiling
            # a single box imposes on scan-bound aggregation.
            sh = tok_stream().select(
                "event_time",
                F.explode(
                    word_shingles(F.col("tokens").cast("array<string>"), 3)
                ).alias("s"),
                F.col("diff"),
            ).select(
                "event_time",
                (md5_hash60(F.col("s")) % F.lit(1 << 20)).alias("bucket"),
                "diff",
            )
            agg2 = (
                sh.withWatermark("event_time", "30 seconds")
                .groupBy(F.window("event_time", "60 seconds").alias("w"), "bucket")
                .agg(F.sum("diff").alias("tf"))
            )
            run_query(agg2, "update", "stream_shingle_agg")

        def run_join(join_fn, tag):
            lab_s = (
                spark.readStream.schema(LABELS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(LAB_DIR)
            )
            run_query(join_fn(tok_stream(), lab_s), "append", tag)

        hot_keys = (
            os.environ["SCALE_HOT_KEYS"].split(",")
            if os.environ.get("SCALE_HOT_KEYS")
            else HOT_KEYS
        )
        n_salts = int(os.environ.get("SCALE_SALTS", "8"))
        if "stream_join" in WORKLOADS:
            run_join(label_join, "stream_join")
        if "stream_join_salted" in WORKLOADS:
            run_join(
                lambda t, l: salted_label_join(t, l, hot_keys, n_salts=n_salts),
                "stream_join_salted",
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    print("SCALING_RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
