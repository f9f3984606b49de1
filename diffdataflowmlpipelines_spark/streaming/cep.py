"""Streaming CEP: incremental event-funnel detection per key
(streaming twin of functions/cep.event_funnel; north_rule "CEP engine").

Stateful operator (a ``keyed_fold`` keyed by the funnel key) that
maintains, per key, the *candidate time lists* needed to recompute
the earliest-anchor cascade exactly — so it is robust to out-of-order
arrival ACROSS micro-batches (a late-arriving earlier 'view' re-anchors
the funnel and the emitted completion times move accordingly), not just
within one batch.

State bound (pruning lives in functions/cep.prune_candidates, shared
with the hypothesis property test so the test drives the production
code):

* without ``within_s``, completions are monotonically NONINCREASING as
  events accumulate (adding candidates can only move each min
  earlier), so any step-i candidate time strictly greater than the
  current step-i completion can never be chosen later — dropped;
* with ``within_s``, a late-arriving earlier anchor can also RETRACT a
  completion (the window ``[anchor, anchor+within]`` only moves
  earlier) — emitted rows then update to earlier times or NULL. The
  same pruning stays safe: a dropped time ``t > comp_i`` could only be
  chosen after ``comp_i`` turns ineligible, which requires the horizon
  to shrink below ``comp_i < t`` — making ``t`` ineligible too;
* step 0 needs only its minimum; once a key is ANCHORED and
  ``within_s`` is set, everything beyond ``anchor + within`` is
  dropped, so anchored-key state is bounded by the funnel horizon.

Shared precondition with the batch twin: event times >= 1970-01-01 UTC
(the batch fold's unset sentinel is -1 micros and raises on negative
unix_micros; this twin's None sentinel would accept pre-1970 events and
silently diverge, so the same contract applies to both).

NOT bounded: a key that has never seen its anchor type retains every
later-step candidate (any future anchor could make any of them the
completion), with or without ``within_s`` — as does any key when
``within_s`` is None and the chain is incomplete. For hostile or
anchor-less traffic, bound it operationally: route only plausibly-
anchorable keys into the operator (a stateless semi-join on keys that
have emitted the anchor type), or age state out with a timeout.

Emission ("update" mode), matching the batch operator exactly: a row is
emitted for a key only once its step-1 anchor exists (batch
``event_funnel`` omits anchor-less keys), named and typed identically —
``(key_col, step_1_ts .. step_k_ts, steps_completed)``. The parity test
pins last-emitted-per-key == batch recompute over the union of all
epochs, for any epoch split and cross-epoch arrival order.
"""

from __future__ import annotations

import bisect
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from diffdataflowmlpipelines_spark.functions.cep import (
    funnel_cascade,
    prune_candidates,
)
from diffdataflowmlpipelines_spark.streaming.keyed_fold import keyed_fold


def _state_schema(k: int) -> str:
    return ", ".join(f"l{i} array<long>" for i in range(k))


def _output_schema(k: int, key_col: str, key_type: str) -> str:
    steps = ", ".join(f"step_{i + 1}_ts timestamp" for i in range(k))
    return f"{key_col} {key_type}, {steps}, steps_completed int"


def _funnel_fold(steps: Sequence[str], within_us: int | None):
    k = len(steps)
    # a repeated step type feeds EVERY slot with that type (batch parity:
    # the fold checks each slot's own element_at(steps, i+1))
    slots_by_type: dict[str, list[int]] = {}
    for i, s in enumerate(steps):
        slots_by_type.setdefault(s, []).append(i)

    def fold(key, state, pdf):
        lists = [[int(v) for v in x] for x in state or [[]] * k]
        # NaT would astype to -2^63 and poison the anchor min; the
        # stateless select already filters nulls, this is defense
        pdf = pdf[pdf["event_time"].notna()]
        ts = pdf["event_time"].astype("datetime64[us]").astype("int64")
        for t, ty in zip(ts, pdf["event_type"]):
            for i in slots_by_type[ty]:
                bisect.insort(lists[i], int(t))
        comp = funnel_cascade(lists, within_us)
        new_state = tuple(prune_candidates(lists, comp, within_us))
        if comp[0] is None:
            return new_state, []  # batch parity: no row until the anchor exists
        steps_ts = [pd.NaT if c is None else pd.Timestamp(c, unit="us") for c in comp]
        done = sum(1 for t in comp if t is not None)
        return new_state, [(key[0], *steps_ts, done)]

    return fold


def streaming_event_funnel(
    events: DataFrame,
    steps: Sequence[str],
    *,
    key_col: str = "user_id",
    time_col: str = "event_time",
    type_col: str = "event_type",
    within_s: int | None = None,
    key_type: str = "long",
) -> DataFrame:
    """Per-key funnel state stream. The type/null filter is stateless
    and pushed to the source scan; state lives only for keys that emit
    step events. Output schema and emission rule match
    functions/cep.event_funnel row for row (see module docstring)."""
    k = len(steps)
    if k == 0:
        raise ValueError("steps must be non-empty")
    # shared precondition with the batch twin (see module docstring):
    # the check is routed THROUGH the kept event_time column so column
    # pruning cannot drop it
    t_cast = F.col(time_col).cast("timestamp")
    checked_t = F.when(
        F.unix_micros(t_cast) < 0,
        F.raise_error(
            F.concat(
                F.lit("streaming_event_funnel requires event times >= 1970-01-01, got "),
                F.col(time_col).cast("string"),
            )
        ).cast("timestamp"),
    ).otherwise(t_cast)
    keyed = events.filter(
        F.col(type_col).isin(list(steps)) & F.col(time_col).isNotNull()
    ).select(
        F.col(key_col).cast(key_type).alias("__cep_key"),
        checked_t.alias("event_time"),
        F.col(type_col).alias("event_type"),
    )
    within_us = int(within_s) * 1_000_000 if within_s is not None else None
    return keyed_fold(
        keyed,
        "__cep_key",
        _funnel_fold(steps, within_us),
        state_schema=_state_schema(k),
        output_schema=_output_schema(k, key_col, key_type),
    )
