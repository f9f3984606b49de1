"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload on
``local[<nproc>]`` and prints, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``). Progress and host notes go to stderr; the
traced run also writes its spans to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["stream-drain", "update-query"]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "diffdataflowmlpipelines_spark")):
        print("perfbench: diffdataflowmlpipelines_spark not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.common import Run, log, result_line

    module = "perfbench." + args.workload.replace("-", "_")

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        import importlib

        workload = importlib.import_module(module)
        run.phase("session")
        run.start_session()
        run.phase("workload")
        correct, attempted, failed, e2e, layers = workload.run(run)
        run.phase("report")
        line = result_line(run, correct, attempted, failed, e2e, layers)
        if run.trace:
            run.tracer.write(os.path.join(ROOT, ".bench_out", f"trace-{run.run_id}.jsonl"))
        log(json.dumps({"run": run.run_id, "host": run.host(), **run.notes,
                        "e2e": e2e, "detail": {k: layers[k] for k in layers if "." not in k}}))
    except Exception:  # noqa: BLE001 - report, then fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        run.stop()
    print(line, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
