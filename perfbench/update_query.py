"""update-query: closed loop, one caller, sequential. The caller first
makes single-document updates through the incremental scaler and
vocabulary (``row_updates``), then runs passes over the registry queries
(``batch_suite``). Both parts share one session: set-up loads the tables
and runs the queries' warm-up (check) pass, then loads the documents and
makes the warm-up updates.

An operation is one update or one query; its wait is the update's
``process_epoch`` calls, or the query's build plus execute. A round is
one insert/retract cycle and one pass over the queries. Items are
operations."""

from __future__ import annotations

from perfbench.batch_suite import Queries
from perfbench.common import Run, trace_functions
from perfbench.metrics import BATCH_QUERIES, Record, e2e_metrics, per_layer, wall_figures
from perfbench.row_updates import RETRACT_EVERY, Updates


def run(r: Run) -> tuple:
    if r.trace:
        # before the registry binds the functions' names
        r.notes["functions_traced"] = trace_functions(r.tracer)
    # a round: one insert/retract cycle of updates and one pass of queries
    rec = Record(per_round={"insert": RETRACT_EVERY - 1, "retract": 1,
                            **{f"query.{q}": 1 for q in BATCH_QUERIES}})
    queries, updates = Queries(r, rec), Updates(r, rec)
    queries.setup()
    updates.setup()  # last, so the warm-up updates run right before the measured ones
    r.mark_setup_done()
    n_upd, busy_upd = updates.measure()
    n_q, busy_q = queries.measure()

    r.phase("check")
    with r.tracer.span("check"):
        ok_updates = updates.check()
    r.jobs.resolve()
    queries.finish()
    # a failed check fails every measured operation it covers
    failed = (0 if ok_updates else n_upd) + len(queries.bad) * queries.passes
    r.notes["waits_ms"] = [[k, round(w)] for w, _, k in rec.waits]
    attempted = n_upd + n_q
    rec.round_cpu_s = updates.cpu_s / (n_upd / RETRACT_EVERY) + queries.cpu_s / queries.passes
    rec.detail.update(wall_figures(rec, attempted, busy_upd + busy_q))
    return (
        failed == 0, attempted, failed,
        e2e_metrics(r, rec),
        per_layer(r, rec, attempted, failed),
    )
