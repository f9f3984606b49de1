"""What a run collects, and how it becomes the reported metrics.

Every workload fills one ``Record``; ``per_layer`` turns it into the
full set of per-layer metrics, so each workload reports every name.
A layer a workload does not exercise reads 0 there (no calls, no rows).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from perfbench.common import Run, median

# the registry queries of the batch workload: two that ROADMAP items 0
# and 4 target (source-drift KL, semantic dedup) and the standard
# scaler, the batch twin of the incremental one
BATCH_QUERIES = [
    "c3_standard_scaler",
    "t19_source_drift_kl",
    "d10_semantic_dedup",
]

STREAM_QUERIES = ["agg", "join"]


@dataclass
class StreamRecord:
    """One stream query's measured micro-batches and sink epochs."""

    progress: list = field(default_factory=list)
    sink: list = field(default_factory=list)  # {write_ms, jobs, rows}
    exploded_tokens: int = 0


@dataclass
class Record:
    # stream queries by name (STREAM_QUERIES)
    streams: dict = field(default_factory=dict)
    # row updates
    updates: list = field(default_factory=list)  # {kind, scaler_ms, vocab_ms, jobs}
    full_reencodes: int = 0
    init_s: dict = field(default_factory=dict)  # scaler, vocab
    # batch suite: query -> {build_s, execute_s, jobs, stages} lists
    plans: dict = field(default_factory=dict)
    # operation waits in ms, split by whether the op was traced
    waits: list = field(default_factory=list)  # (wait_ms, traced, kind)
    # operations of each kind in one round of the workload (see round_ms)
    per_round: dict = field(default_factory=dict)
    # CPU seconds the process tree used per measured round
    round_cpu_s: float = 0.0
    # the workload's own figures (seq_per_s, freshness, insert, ...; see README)
    detail: dict = field(default_factory=dict)


def round_ms(rec: Record) -> float:
    """The median round: for each kind of operation a round makes, the
    median wait of that kind over the run, times the kind's count per
    round, summed. A stall that hits one operation moves it little; a
    change to any kind's typical wait moves it in proportion."""
    total = 0.0
    for kind, count in rec.per_round.items():
        waits = [w for w, _, k in rec.waits if k == kind]
        if not waits:
            raise ValueError(f"no measured operation of kind {kind}")
        total += count * median(waits)
    return total


def wall_figures(rec: Record, items: float, busy_s: float) -> dict:
    """The measured operations' wall-clock figures (reported per layer)."""
    return {"round_ms": round_ms(rec), "items_per_s": items / busy_s}


def e2e_metrics(run: Run, rec: Record) -> dict:
    return {
        "setup_s": run.setup_s,
        "cpu_ms_per_round": rec.round_cpu_s * 1000.0,
    }


def ts_of(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def data_batches(progress: list) -> list:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def _state_sum(p: dict, key: str) -> float:
    return sum(op.get(key, 0) or 0 for op in p.get("stateOperators", []))


def _dur(p: dict, *keys: str) -> float:
    d = p.get("durationMs", {})
    return sum(d.get(k, 0) for k in keys)


def progress_spans(run: Run, progress: list, sink_spans: dict) -> None:
    """Turn each batch's ``durationMs`` and ``stateOperators`` into spans:
    an epoch span with the trigger phases laid out in execution order as
    children, the sink's ``write_batch`` span under ``addBatch``, and the
    state store's times (summed over partitions, so not wall time) under
    ``addBatch`` as task-time spans."""
    tr = run.tracer
    if not tr.enabled:
        return
    order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
    for p in progress:
        start = ts_of(p["timestamp"])
        total = _dur(p, "triggerExecution") / 1000.0
        epoch = tr.add("trigger.epoch", start, start + total, None, layer="trigger",
                       batch=p["batchId"], rows=p.get("numInputRows", 0))
        t = start
        for phase in order:
            d = _dur(p, phase) / 1000.0
            sid = tr.add(f"trigger.{phase}", t, t + d, epoch, layer="trigger")
            if phase == "addBatch":
                sink = sink_spans.get(p["batchId"])
                if sink is not None:
                    sink["parent"] = sid
                for key in ("allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs"):
                    ms = _state_sum(p, key)
                    tr.add(f"state.{key}", t, t + ms / 1000.0, sid, task_time=True)
            t += d


def stream_layers(prefix: str, s: StreamRecord, n_files: int) -> dict:
    """State, sink and trigger figures of one stream query, per landed
    file: the sum over the batches that ran for it (one, with no-data
    batches off)."""
    out: dict[str, float] = {}
    batches = s.progress
    last = data_batches(batches)[-1] if data_batches(batches) else {}

    def per_file(total: float) -> float:
        return total / n_files if n_files else 0.0

    def state_total(key):
        return sum(_state_sum(p, key) for p in batches)

    out[f"{prefix}.state.update_ms"] = per_file(state_total("allUpdatesTimeMs"))
    out[f"{prefix}.state.commit_ms"] = per_file(state_total("commitTimeMs"))
    out[f"{prefix}.state.removal_ms"] = per_file(state_total("allRemovalsTimeMs"))
    out[f"{prefix}.state.rows_updated"] = state_total("numRowsUpdated")
    out[f"{prefix}.state.rows_removed"] = state_total("numRowsRemoved")
    out[f"{prefix}.state.dropped_late_rows"] = state_total("numRowsDroppedByWatermark")
    out[f"{prefix}.state.rows_total"] = _state_sum(last, "numRowsTotal") if last else 0
    out[f"{prefix}.state.memory_bytes"] = _state_sum(last, "memoryUsedBytes") if last else 0

    out[f"{prefix}.sink.write_ms"] = per_file(sum(e["write_ms"] for e in s.sink))
    jobs = [e["jobs"]["jobs"] for e in s.sink if e.get("jobs")]
    out[f"{prefix}.sink.jobs_per_epoch"] = sum(jobs) / len(jobs) if jobs else 0.0
    out[f"{prefix}.sink.rows_written"] = sum(e["rows"] for e in s.sink)

    def trigger_total(*keys):
        return per_file(sum(_dur(p, *keys) for p in batches))

    out[f"{prefix}.trigger.planning_ms"] = trigger_total("queryPlanning")
    out[f"{prefix}.trigger.offsets_ms"] = trigger_total("latestOffset", "getBatch")
    out[f"{prefix}.trigger.wal_ms"] = trigger_total("walCommit", "commitOffsets")
    out[f"{prefix}.trigger.add_batch_ms"] = trigger_total("addBatch")
    out[f"{prefix}.trigger.batches"] = len(batches)
    out[f"{prefix}.source.rows_in"] = sum(p.get("numInputRows", 0) for p in batches)
    return out


def per_layer(run: Run, rec: Record, attempted: int, failed: int) -> dict:
    out: dict[str, float] = {}
    for name in STREAM_QUERIES:
        s = rec.streams.get(name, StreamRecord())
        out.update(stream_layers(name, s, len(data_batches(s.progress))))
    agg = rec.streams.get("agg", StreamRecord())
    out["windows.updates_per_token"] = (
        out["agg.state.rows_updated"] / agg.exploded_tokens if agg.exploded_tokens else 0.0
    )

    def upd(kind, key):
        return median([u[key] for u in rec.updates if u["kind"] == kind])

    out["incremental_transform.insert_ms"] = upd("insert", "scaler_ms")
    out["incremental_transform.retract_ms"] = upd("retract", "scaler_ms")
    out["incremental_transform.full_reencodes"] = rec.full_reencodes
    # mean, not median: an insert on the driver-local path starts no job
    jobs = [u["jobs"]["jobs"] for u in rec.updates if u.get("jobs")]
    out["update.spark_jobs"] = sum(jobs) / len(jobs) if jobs else 0.0
    out["vocabulary.insert_ms"] = upd("insert", "vocab_ms")
    out["vocabulary.retract_ms"] = upd("retract", "vocab_ms")
    out["incremental_transform.init_s"] = rec.init_s.get("scaler", 0.0)
    out["vocabulary.init_s"] = rec.init_s.get("vocab", 0.0)

    for q in BATCH_QUERIES:
        p = rec.plans.get(q, {})
        out[f"plans.{q}.build_s"] = median(p.get("build_s", []))
        out[f"plans.{q}.jobs"] = median(p.get("jobs", []))
        out[f"plans.{q}.execute_s"] = median(p.get("execute_s", []))
        out[f"plans.{q}.stages"] = median(p.get("stages", []))

    for layer, ms in run.tracer.self_times_ms().items():
        out[f"self.{layer}_ms"] = ms

    # tracing overhead: traced minus untraced waits of the workload's
    # most common operation kind (traced runs trace every other op)
    kinds = [k for _, _, k in rec.waits]
    kind = max(sorted(set(kinds)), key=kinds.count) if kinds else None
    traced = [w for w, t, k in rec.waits if t and k == kind]
    untraced = [w for w, t, k in rec.waits if not t and k == kind]
    out["trace.overhead_ms"] = (
        median(traced) - median(untraced) if traced and untraced else 0.0
    )
    host = run.host()
    out["host.steal_pct"] = host["steal_pct"]
    out["host.load1"] = host["load1"]

    out["failed_frac"] = failed / attempted if attempted else 0.0
    for name in ("round_ms", "items_per_s", "seq_per_s", "freshness_ms_p50",
                 "freshness_ms_p90", "insert_ms_p50", "insert_ms_p90", "retract_ms_p50",
                 "init_s", "build_s", "execute_s"):
        out[name] = rec.detail.get(name, 0.0)
    return out
