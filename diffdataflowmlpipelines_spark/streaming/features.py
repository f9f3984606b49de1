"""Stateful per-key feature streams: inter-arrival lag and recursive
EWMA (streaming twins of the w8/w9 batch feature queries).

Both keep O(1) state per key — the previous event time / ordinal for
the lag features, the running smoothed value for the EWMA — which is
the form that scales to unbounded history (the batch w9 uses a
trailing-window closed form instead; the recursion here has no window
to truncate and no overflow concern).

Ordering: rows are applied in (event_time, event_id) order within each
micro-batch; across batches the state is strictly sequential, so the
operator assumes epoch-monotone event time like the incremental
vocabulary does (the repo's epoch-file sources deliver that; a
late-arriving earlier event would need the CEP-style candidate-buffer
treatment instead, which these O(1) features deliberately trade away).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

FEATURE_OUTPUT_SCHEMA = (
    "user_id long, event_id long, secs_since_prev long, event_seq long, "
    "ewma double"
)
FEATURE_STATE_SCHEMA = "last_us long, seq long, ewma double"


def _features_fn(alpha: float):
    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        last_us, seq, ewma = state.get if state.exists else (None, 0, None)
        rows = []
        # concatenate ALL Arrow chunks before the one global sort — a
        # key whose batch spans multiple chunks (maxRecordsPerBatch)
        # has no cross-chunk ordering guarantee, and state threads
        # sequentially
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf[pdf["event_time"].notna()]
            pdf = pdf.sort_values(["event_time", "event_id"], kind="stable")
            ts = pdf["event_time"].astype("datetime64[us]").astype("int64")
            for t, eid, val in zip(ts, pdf["event_id"], pdf["value"]):
                secs = (int(t) - last_us) // 1_000_000 if last_us is not None else -1
                seq += 1
                # a NULL value updates lag/seq but not the smoothed
                # statistic (the batch w9 SUM skips NULLs the same way);
                # float(NaN) folding in would poison the key forever
                if not pd.isna(val):
                    v = float(val)
                    ewma = v if ewma is None else alpha * v + (1.0 - alpha) * ewma
                rows.append((key[0], int(eid), secs, seq, ewma))
                last_us = int(t)
        state.update((last_us, seq, ewma))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "user_id", "event_id", "secs_since_prev", "event_seq", "ewma",
                ],
            )

    return fn


def streaming_event_features(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    time_col: str = "event_time",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.1,
) -> DataFrame:
    """One row per input event carrying (secs_since_prev, event_seq,
    ewma) for its key — append-mode emission (each event's features are
    final under the epoch-monotone assumption above)."""
    keyed = events.filter(
        F.col(time_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(key_col).cast("long").alias("user_id"),
        F.col(time_col).cast("timestamp").alias("event_time"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(value_col).cast("double").alias("value"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _features_fn(alpha),
        outputStructType=FEATURE_OUTPUT_SCHEMA,
        stateStructType=FEATURE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- retraction-capable twin -------------------------------------------------

RETRACT_OUTPUT_SCHEMA = (
    "user_id long, event_id long, secs_since_prev long, event_seq long, "
    "ewma double, deleted boolean"
)
RETRACT_STATE_SCHEMA = (
    "frozen_us long, frozen_seq long, frozen_ewma double, "
    "ts array<long>, eids array<long>, vals array<double>"
)


def _walk_features(frozen, live, alpha):
    """Fold the live (t_us, eid, value) events in (t, eid) order from the
    frozen prefix; returns ({eid: (secs, seq, ewma)}, final_state)."""
    last_us, seq, ewma = frozen
    out = {}
    for t, eid, v in sorted(live, key=lambda r: (r[0], r[1])):
        secs = (t - last_us) // 1_000_000 if last_us is not None else -1
        seq += 1
        if v is not None:
            ewma = v if ewma is None else alpha * v + (1.0 - alpha) * ewma
        out[eid] = (secs, seq, ewma)
        last_us = t
    return out, (last_us, seq, ewma)


def _retract_fn(alpha: float, horizon_us: int | None):
    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            f_us, f_seq, f_ewma, ts, eids, vals = state.get
            frozen = (
                None if f_us is None else int(f_us),
                int(f_seq),
                None if f_ewma is None else float(f_ewma),
            )
            buf = {
                int(e): (int(t), None if pd.isna(v) else float(v))
                for t, e, v in zip(ts, eids, vals)
            }
        else:
            frozen, buf = (None, 0, None), {}

        old, _ = _walk_features(
            frozen, [(t, e, v) for e, (t, v) in buf.items()], alpha
        )

        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf[pdf["event_time"].notna()]
            pdf = pdf.sort_values(["event_time", "event_id"], kind="stable")
            tus = pdf["event_time"].astype("datetime64[us]").astype("int64")
            for t, eid, v, d in zip(
                tus, pdf["event_id"], pdf["value"], pdf["diff"]
            ):
                eid, d = int(eid), int(d)
                if d > 0:
                    # inserts AT or BEHIND the frozen prefix are ignored
                    # like late deletes: the prefix's emissions are
                    # final, and walking such an event from frozen_us
                    # would produce a negative lag and a wrong ordinal.
                    # <= not <: an insert tied with the last frozen
                    # event's time may belong before it in (t, eid)
                    # order, which no replay from frozen state can honor
                    if frozen[0] is not None and int(t) <= frozen[0]:
                        continue
                    buf[eid] = (int(t), None if pd.isna(v) else float(v))
                elif d < 0:
                    # deletes of never-inserted or already-frozen events
                    # are ignored (the frozen prefix is this operator's
                    # watermark: corrections inside the horizon only)
                    buf.pop(eid, None)

        new, _ = _walk_features(
            frozen, [(t, e, v) for e, (t, v) in buf.items()], alpha
        )

        rows = []
        for eid in old:
            if eid not in new:
                rows.append((key[0], eid, None, None, None, True))
        for eid, feats in new.items():
            if old.get(eid) != feats:
                rows.append((key[0], eid, feats[0], feats[1], feats[2], False))

        # freeze the prefix beyond the horizon: those events' features
        # are final (their emissions already happened), so only the
        # O(1) fold state survives — the buffer stays horizon-bounded
        if horizon_us is not None and buf:
            cutoff = max(t for t, _v in buf.values()) - horizon_us
            frozen_events = sorted(
                ((t, e, v) for e, (t, v) in buf.items() if t <= cutoff),
                key=lambda r: (r[0], r[1]),
            )
            if frozen_events:
                _, frozen = _walk_features(frozen, frozen_events, alpha)
                for _t, e, _v in frozen_events:
                    del buf[e]

        items = sorted(buf.items(), key=lambda kv: (kv[1][0], kv[0]))
        state.update(
            (
                frozen[0],
                frozen[1],
                frozen[2],
                [t for _e, (t, _v) in items],
                [e for e, _tv in items],
                [v for _e, (_t, v) in items],
            )
        )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "user_id",
                    "event_id",
                    "secs_since_prev",
                    "event_seq",
                    "ewma",
                    "deleted",
                ],
            )

    return fn


def streaming_event_features_retractable(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    time_col: str = "event_time",
    id_col: str = "event_id",
    value_col: str = "value",
    diff_col: str = "diff",
    alpha: float = 0.1,
    horizon_s: int | None = None,
) -> DataFrame:
    """Retraction-capable twin of :func:`streaming_event_features` for
    delta streams (``diff`` +1 insert / -1 delete — the reference's
    abelian negate paths, ``src/types/integer_assignment_aggregate.rs:
    132-138``, applied to a NON-abelian statistic).

    Lag/seq/EWMA are order-dependent, so a late delete (or a late
    earlier insert) cannot be folded algebraically — every event after
    the edit point changes. This twin therefore keeps the live events
    themselves as per-key state (the CEP candidate-buffer treatment)
    and replays the affected key exactly: each batch it re-walks the
    buffer and emits ONLY rows whose features changed, plus
    ``deleted=true`` tombstones (update-mode upsert view keyed by
    ``event_id``: last row wins, tombstoned ids drop).

    State bound: with ``horizon_s``, events older than
    ``max(live event time) - horizon`` freeze into the O(1) fold state
    (their features are final); deletes aimed past the horizon — and
    inserts timestamped behind the frozen prefix — are IGNORED, exactly
    like watermark-late data in Spark's own stateful operators — Spark's state model cannot un-emit finalized append
    output, so bounded corrections are the honest contract. With
    ``horizon_s=None`` the buffer is unbounded and corrections are
    exact forever (test/replay usage).
    """
    # NULL diff is not an update: int(NaN) would abort the whole query
    keyed = events.filter(
        F.col(time_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(diff_col).isNotNull()
    ).select(
        F.col(key_col).cast("long").alias("user_id"),
        F.col(time_col).cast("timestamp").alias("event_time"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(value_col).cast("double").alias("value"),
        F.col(diff_col).cast("int").alias("diff"),
    )
    horizon_us = int(horizon_s) * 1_000_000 if horizon_s is not None else None
    return keyed.groupBy("user_id").applyInPandasWithState(
        _retract_fn(alpha, horizon_us),
        outputStructType=RETRACT_OUTPUT_SCHEMA,
        stateStructType=RETRACT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
