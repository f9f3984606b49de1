"""Pieces of the stream workload: the benchmark's own ``foreachBatch``
around ``ExactlyOnceParquetSink.write_batch``, draining a query with a
deadline, and reading its progress."""

from __future__ import annotations

import json
import threading
import time

from perfbench.common import Run


class TimedSink:
    """foreachBatch body: commits each epoch through the sink and records
    when the commit finished. While ``traced`` is set (the workload sets
    it for every other round of a traced run), each epoch gets a span and
    a job group, so the traced run also measures its own cost."""

    def __init__(self, run: Run, sink):
        self.run = run
        self.sink = sink
        self.traced = False
        self.commits: dict[int, dict] = {}

    def __call__(self, df, epoch_id: int) -> None:
        traced = self.run.trace and self.traced
        with self.run.tracer.span(
            "sink.write_batch", layer="streaming.sink", on=traced, epoch=epoch_id
        ) as span, self.run.jobs.group(f"sink-{epoch_id}", on=traced) as jobs:
            t0 = time.perf_counter()
            self.sink.write_batch(df, epoch_id)
            write_ms = (time.perf_counter() - t0) * 1000.0
        self.commits[epoch_id] = {
            "t_commit": time.perf_counter(),
            "write_ms": write_ms,
            "jobs": jobs,
            "span": span,
            "traced": traced,
        }

    def epoch_records(self, epochs) -> list[dict]:
        """Sink records of ``epochs`` with the rows each committed (from
        the sink's lineage files)."""
        rows = {e["epoch"]: e.get("rows", 0) for e in self.sink.lineage()}
        return [
            {**self.commits[e], "rows": rows.get(e, 0)} for e in epochs if e in self.commits
        ]

    def spans(self) -> dict:
        return {e: c["span"] for e, c in self.commits.items() if c["span"]}


def drain(q, timeout_s: float) -> float:
    """``processAllAvailable`` with a deadline; returns the seconds it
    took. A query still busy at the deadline is stopped and the run fails."""
    timer = threading.Timer(timeout_s, q.stop)
    timer.start()
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
    finally:
        timer.cancel()
    if not q.isActive:
        raise TimeoutError(f"stream did not drain within {timeout_s} s")
    return time.perf_counter() - t0


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def settled_progress(q, last_epoch: int, timeout_s: float = 10.0) -> list[dict]:
    """The query's progress once it includes batch ``last_epoch``: a
    batch's progress is recorded just after its commit."""
    deadline = time.time() + timeout_s
    while True:
        progress = progress_of(q)
        if progress and progress[-1]["batchId"] >= last_epoch:
            return progress
        if time.time() > deadline:
            raise TimeoutError(f"no progress for batch {last_epoch}")
        time.sleep(0.05)
