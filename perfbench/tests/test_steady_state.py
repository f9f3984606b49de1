"""Steady-state self-check of the stream workload, on a short traced run.

It guards against a workload whose state never evicts: state that grows
for as long as a run lasts makes every figure depend on the run length.

Run from the root of a checkout (about two minutes; starts Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_traced(workload: str, seconds: int, seed: int = 1) -> tuple[dict, dict]:
    """The result line's metrics and the run's notes (last stderr record)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    notes = [line for line in out.stderr.splitlines() if line.startswith("[perfbench] {")]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    return metrics, json.loads(notes[-1][len("[perfbench] "):])


def test_stream_drain_evicts_and_stays_steady():
    m, notes = run_traced("stream-drain", 24)  # six rounds
    # the windowed agg removes the windows the watermark closed
    assert m["agg.state.rows_removed"] > 0
    assert m["agg.state.dropped_late_rows"] == 0
    assert m["windows.updates_per_token"] > 0
    # the join evicts state and its state stops growing: the second half
    # of the run holds no more rows than the first half's peak (plus
    # slack for batch-size jitter)
    assert m["join.state.rows_removed"] > 0
    assert m["join.state.dropped_late_rows"] == 0
    rows = notes["join_state_rows"]
    half = len(rows) // 2
    assert half >= 2, rows
    assert max(rows[half:]) <= 1.25 * max(rows[:half]), rows
    # nothing piles up from round to round: the later rounds' join
    # freshness is no worse than the earlier rounds' (plus slack for noise)
    fresh = notes["freshness_ms"]
    assert sorted(fresh[half:])[half // 2] <= 1.5 * sorted(fresh[:half])[half // 2], fresh
