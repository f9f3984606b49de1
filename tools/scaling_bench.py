"""Scaling-efficiency evidence (BASELINE.md protocol): the same
streaming job on the same pre-generated input at two parallelism levels
— local[8] vs local[32] stands in for N vs 4N executors (no real
cluster in this sandbox). Each level runs in its own JVM with shuffle
partitions matched to cores.

efficiency = (rate_high / rate_low) / (cpus_high / cpus_low), computed
on the sustained per-batch processing rate (Spark's
processedRowsPerSecond, cold batch excluded) — the wall-clock number is
also recorded but includes constant startup that a long-running job
amortizes.

Writes SCALING.md and prints a JSON summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
LOW = int(os.environ.get("SCALE_LOW", "8"))
HIGH = int(os.environ.get("SCALE_HIGH", "32"))
ROWS = int(os.environ.get("SCALE_ROWS", "4000000"))
N_EPOCHS = int(os.environ.get("SCALE_EPOCHS", "3"))
PROVIDERS = os.environ.get("SCALE_PROVIDERS", "hdfs,rocksdb").split(",")
WORKLOADS = os.environ.get(
    "SCALE_WORKLOADS",
    "stream_agg,stream_shingle_agg,stream_join,stream_join_salted",
).split(",")


def run(cpus: int, tok: str, lab: str, provider: str) -> dict:
    if HERE not in sys.path:  # robust under python -m / pytest collection
        sys.path.insert(0, HERE)
    from scaling_subproc import run_scaling_one

    return run_scaling_one(cpus, tok, lab, provider)


def main() -> None:
    sys.path.insert(0, REPO)
    from diffdataflowmlpipelines_spark.sources.fixtures import (
        gen_labels_pdf,
        gen_tokens_pdf,
    )
    from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files

    base = tempfile.mkdtemp(prefix="scale_input_")
    try:
        pdf = gen_tokens_pdf(ROWS, seed=42, rows_per_second=50000.0)
        write_epoch_files(pdf, f"{base}/tok", N_EPOCHS)
        lab = gen_labels_pdf(pdf, seed=43)
        write_epoch_files(lab, f"{base}/lab", N_EPOCHS)

        ratio = HIGH / LOW
        summary: dict = {
            "low_cpus": LOW,
            "high_cpus": HIGH,
            "rows": ROWS,
            "epochs": N_EPOCHS,
            "providers": {},
        }
        lines = [
            "# SCALING — two-parallelism evidence (sandbox substitute for N vs 4N executors)",
            "",
            f"Same streaming job, same pre-generated input ({ROWS:,} token sequences,",
            f"{N_EPOCHS} micro-batches), one JVM per level, shuffle partitions = cores.",
            "Sustained rate = median per-batch processedRowsPerSecond (cold batch",
            f"dropped). efficiency = (rate_{HIGH}/rate_{LOW})/{ratio:.0f}.",
            "",
            "RocksDB numbers anti-scale locally by construction: local[k] hosts k state",
            "partitions in one process, so per-partition maintenance cost grows with k,",
            "whereas a real cluster keeps partitions-per-executor constant. The hdfs",
            "(in-memory) provider, the session default, isolates compute scaling;",
            "RocksDB is for state >> heap.",
            "",
        ]
        for provider in PROVIDERS:
            lo = run(LOW, f"{base}/tok", f"{base}/lab", provider)
            hi = run(HIGH, f"{base}/tok", f"{base}/lab", provider)
            prov: dict = {}
            lines += [
                f"## provider = {provider}",
                "",
                f"| workload | local[{LOW}] rate (rows/s) | local[{HIGH}] rate | rate ratio | efficiency | wall {LOW}c | wall {HIGH}c |",
                "|---|---|---|---|---|---|---|",
            ]
            for w in WORKLOADS:
                r_lo, r_hi = lo[f"{w}_rows_per_s"], hi[f"{w}_rows_per_s"]
                sp = r_hi / r_lo
                eff = sp / ratio
                prov[w] = {
                    f"rate_{LOW}": r_lo,
                    f"rate_{HIGH}": r_hi,
                    "speedup": round(sp, 2),
                    "efficiency": round(eff, 3),
                    f"wall_{LOW}": lo[f"{w}_wall_sec"],
                    f"wall_{HIGH}": hi[f"{w}_wall_sec"],
                }
                lines.append(
                    f"| {w} | {r_lo:,.0f} | {r_hi:,.0f} | {sp:.2f}x | {eff:.3f} "
                    f"| {lo[f'{w}_wall_sec']} | {hi[f'{w}_wall_sec']} |"
                )
            lines.append("")
            summary["providers"][provider] = prov
        with open(os.path.join(REPO, "SCALING.md"), "w") as f:
            f.write("\n".join(lines) + "\n")
        print(json.dumps(summary))
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
