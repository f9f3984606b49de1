"""One-off streaming tuning matrix: epochs x state-store provider x
cpus for the windowed-agg workload. Pre-generates input once.
Usage: python tools/stream_tune.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

CHILD = r"""
import json, os, sys, time, shutil, tempfile
sys.path.insert(0, %(repo)r)
cpus, provider, src = int(sys.argv[1]), sys.argv[2], sys.argv[3]
from diffdataflowmlpipelines_spark.session import get_spark
from diffdataflowmlpipelines_spark.sources.fixtures import TOKENS_STREAM_SCHEMA
from diffdataflowmlpipelines_spark.streaming.windows import tumbling_token_frequency
conf = {"spark.sql.files.maxPartitionBytes": "4m"}
if provider == "hdfs":
    conf["spark.sql.streaming.stateStore.providerClass"] = (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
spark = get_spark(app_name="tune", master=f"local[{cpus}]",
                  shuffle_partitions=cpus, extra_conf=conf)
ck = tempfile.mkdtemp()
stream = (spark.readStream.schema(TOKENS_STREAM_SCHEMA)
          .option("maxFilesPerTrigger", 1).parquet(src))
t0 = time.time()
q = (tumbling_token_frequency(stream, window="60 seconds", state_partitions=cpus)
     .writeStream.foreachBatch(lambda df, e: df.write.format("noop").mode("overwrite").save())
     .outputMode("update").option("checkpointLocation", ck)
     .trigger(availableNow=True).start())
if not q.awaitTermination(1200):
    q.stop()
    raise RuntimeError("streaming query timed out after 1200s")
print("TUNE " + json.dumps({"cpus": cpus, "provider": provider,
                            "src": os.path.basename(src),
                            "sec": round(time.time() - t0, 2)}))
spark.stop(); shutil.rmtree(ck, ignore_errors=True)
"""


def main() -> None:
    sys.path.insert(0, REPO)
    from diffdataflowmlpipelines_spark.sources.fixtures import gen_tokens_pdf
    from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files

    rows = int(os.environ.get("TUNE_ROWS", "2000000"))
    pdf = gen_tokens_pdf(rows, seed=42, rows_per_second=20000.0)
    base = tempfile.mkdtemp(prefix="tune_")
    dirs = {}
    for n_ep in (2, 8):
        d = os.path.join(base, f"ep{n_ep}")
        write_epoch_files(pdf, d, n_ep)
        dirs[n_ep] = d

    script = CHILD % {"repo": REPO}
    results = []
    for provider in ("rocksdb", "hdfs"):
        for n_ep in (2, 8):
            for cpus in (8, 32):
                p = subprocess.run(
                    [sys.executable, "-c", script, str(cpus), provider, dirs[n_ep]],
                    capture_output=True, text=True, timeout=1800,
                    env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
                )
                line = [l for l in p.stdout.splitlines() if l.startswith("TUNE ")]
                if line:
                    r = json.loads(line[0][5:])
                    r["epochs"] = n_ep
                    r["seq_per_s"] = round(rows / r["sec"], 0)
                    results.append(r)
                    print(json.dumps(r))
                else:
                    print("FAIL", provider, n_ep, cpus, p.stderr[-500:])
    print(json.dumps(results))


if __name__ == "__main__":
    main()
