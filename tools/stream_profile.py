"""Streaming micro-profiler for the optimization round (guide §1).

Reproduces bench.py's windowed-agg and stream-join phases on the same
600k-row fixture and dumps the per-batch progress breakdown
(durationMs: addBatch/commitOffsets/..., stateOperators commitTimeMs)
so the wall seconds can be attributed to compute vs state-store commit.

Env: STREAM_PROFILE_PARTS (comma list of shuffle-partition counts,
default "32,16,8"), STREAM_PROFILE_ROWS (default 600000),
STREAM_PROFILE_PHASE (agg|join|both), STREAM_PROFILE_CODEC
(state-store compression codec, default unset = provider default).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ROWS = int(os.environ.get("STREAM_PROFILE_ROWS", "600000"))
PARTS = [int(x) for x in os.environ.get("STREAM_PROFILE_PARTS", "32,16,8").split(",")]
PHASE = os.environ.get("STREAM_PROFILE_PHASE", "both")
CODEC = os.environ.get("STREAM_PROFILE_CODEC")


def batch_stats(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        p = json.loads(p.json)
        row = {
            "batchId": p["batchId"],
            "numInputRows": p["numInputRows"],
            "durationMs": p.get("durationMs", {}),
        }
        ops = []
        for so in p.get("stateOperators", []):
            ops.append({
                "op": so.get("operatorName"),
                "commitTimeMs": so.get("commitTimeMs"),
                "timeToUpdateMs": so.get("allUpdatesTimeMs"),
                "timeToRemoveMs": so.get("allRemovalsTimeMs"),
                "numRowsTotal": so.get("numRowsTotal"),
            })
        row["stateOperators"] = ops
        out.append(row)
    return out


def await_or_stop(q, timeout_s: int) -> None:
    """Wait for an availableNow query; stop it and raise on timeout, so
    a stuck query is never reported as a finished run."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(f"streaming query timed out after {timeout_s}s")


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from diffdataflowmlpipelines_spark.session import get_spark
    from diffdataflowmlpipelines_spark.sources.fixtures import (
        LABELS_SCHEMA,
        TOKENS_STREAM_SCHEMA,
        gen_labels_pdf,
        gen_tokens_pdf,
    )
    from diffdataflowmlpipelines_spark.streaming.join import label_join
    from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files
    from diffdataflowmlpipelines_spark.streaming.windows import (
        tumbling_token_frequency,
    )

    conf = {
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
    }
    if CODEC:
        conf["spark.sql.streaming.stateStore.compression.codec"] = CODEC
    spark = get_spark(
        app_name="stream_profile",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=conf,
    )

    workdir = tempfile.mkdtemp(prefix="stream_profile_")
    results = {"rows": ROWS, "cpus": CPUS, "codec": CODEC, "runs": []}
    try:
        pdf = gen_tokens_pdf(ROWS, seed=42, rows_per_second=20000.0)
        tok_dir = os.path.join(workdir, "tok")
        write_epoch_files(pdf, tok_dir, 3)
        lab_pdf = gen_labels_pdf(pdf, seed=43)
        lab_dir = os.path.join(workdir, "lab")
        write_epoch_files(lab_pdf, lab_dir, 3)

        for run_no, parts in enumerate(PARTS):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            if PHASE in ("agg", "both"):
                stream = (
                    spark.readStream.schema(TOKENS_STREAM_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(tok_dir)
                )
                agg = tumbling_token_frequency(
                    stream,
                    window="60 seconds",
                    watermark="30 seconds",
                    state_partitions=parts,
                )
                t0 = time.time()
                q = (
                    agg.writeStream.foreachBatch(
                        lambda df, eid: df.write.format("noop")
                        .mode("overwrite").save()
                    )
                    .outputMode("update")
                    .option("checkpointLocation",
                            os.path.join(workdir, f"ckpt_agg_{run_no}_{parts}"))
                    .trigger(availableNow=True)
                    .start()
                )
                await_or_stop(q, 600)
                wall = round(time.time() - t0, 2)
                results["runs"].append({
                    "phase": "agg", "parts": parts, "wall_s": wall,
                    "batches": batch_stats(q),
                })
                print(f"# agg parts={parts}: {wall}s", file=sys.stderr)
            if PHASE in ("join", "both"):
                tok_s = (
                    spark.readStream.schema(TOKENS_STREAM_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(tok_dir)
                )
                lab_s = (
                    spark.readStream.schema(LABELS_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(lab_dir)
                )
                j = label_join(tok_s, lab_s)
                t0 = time.time()
                q = (
                    j.writeStream.foreachBatch(
                        lambda df, eid: df.write.format("noop")
                        .mode("overwrite").save()
                    )
                    .outputMode("append")
                    .option("checkpointLocation",
                            os.path.join(workdir, f"ckpt_join_{run_no}_{parts}"))
                    .trigger(availableNow=True)
                    .start()
                )
                await_or_stop(q, 600)
                wall = round(time.time() - t0, 2)
                results["runs"].append({
                    "phase": "join", "parts": parts, "wall_s": wall,
                    "batches": batch_stats(q),
                })
                print(f"# join parts={parts}: {wall}s", file=sys.stderr)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
