"""CEP event-funnel: batch operator vs pure-python cascade oracle, and
the streaming twin's parity invariant — last emitted row per key equals
the batch recompute over the union of all epochs, for any epoch split
and cross-epoch arrival order (including a late earlier anchor that
RETRACTS a completion under ``within``)."""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.functions.cep import event_funnel, funnel_cascade
from diffdataflowmlpipelines_spark.streaming.cep import streaming_event_funnel
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource

STEPS = ["view", "click", "purchase"]
T0 = datetime(2024, 1, 1)

EV_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
    ]
)


def _random_events(seed, n_users=25, max_per_user=24, span_s=100_000):
    rnd = random.Random(seed)
    rows = []
    for u in range(n_users):
        for _ in range(rnd.randint(0, max_per_user)):
            rows.append(
                (
                    u,
                    T0 + timedelta(seconds=rnd.randint(0, span_s)),
                    rnd.choice(STEPS + ["error"]),
                )
            )
    return rows


def _python_funnel(rows, within_s):
    """Per-user expected funnel via the pure cascade."""
    by_user: dict[int, list[list[int]]] = {}
    for u, t, ty in rows:
        if ty in STEPS:
            lists = by_user.setdefault(u, [[] for _ in STEPS])
            lists[STEPS.index(ty)].append(
                int(t.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
            )
    exp = {}
    for u, lists in by_user.items():
        comp = funnel_cascade(
            [sorted(x) for x in lists],
            within_s * 1_000_000 if within_s else None,
        )
        if comp[0] is not None:
            exp[u] = (
                *[
                    datetime.fromtimestamp(t / 1e6, tz=timezone.utc).replace(
                        tzinfo=None
                    )
                    if t is not None
                    else None
                    for t in comp
                ],
                sum(1 for t in comp if t is not None),
            )
    return exp


@pytest.mark.parametrize("within_s", [None, 20_000])
def test_event_funnel_batch_vs_cascade(spark, within_s):
    rows = _random_events(7)
    df = spark.createDataFrame(rows, EV_SCHEMA).withColumnRenamed(
        "event_time", "ts"
    )
    got = {
        r["user_id"]: (
            r["step_1_ts"],
            r["step_2_ts"],
            r["step_3_ts"],
            r["steps_completed"],
        )
        for r in event_funnel(
            df, "user_id", "ts", "event_type", STEPS, within_s
        ).collect()
    }
    assert got == _python_funnel(rows, within_s)


def test_event_funnel_within_excludes_late_steps(spark):
    rows = [
        (1, T0, "view"),
        (1, T0 + timedelta(seconds=10), "click"),
        (1, T0 + timedelta(seconds=999), "purchase"),  # outside within=100
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    (r,) = event_funnel(
        df, "user_id", "event_time", "event_type", STEPS, within_s=100
    ).collect()
    assert r["steps_completed"] == 2 and r["step_3_ts"] is None


def _run_stream(spark, tmp_path, epochs, within_s, tag=""):
    src = EpochFileSource(spark, str(tmp_path / f"src{tag}"), EV_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / f"out{tag}"), ["user_id"])
    for ep in epochs:
        src.add_epoch(ep)
    q = (
        streaming_event_funnel(src.stream(), STEPS, within_s=within_s)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ckpt{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sink


def _to_epochs(rows, n_epochs, seed):
    """Split rows into epochs in a SHUFFLED order — later epochs carry
    earlier event times (cross-batch out-of-order is the point)."""
    rnd = random.Random(seed)
    rows = list(rows)
    rnd.shuffle(rows)
    size = max(1, len(rows) // n_epochs)
    out = []
    for i in range(0, len(rows), size):
        chunk = rows[i : i + size]
        out.append(
            pd.DataFrame(
                {
                    "user_id": [r[0] for r in chunk],
                    "event_time": [r[1] for r in chunk],
                    "event_type": [r[2] for r in chunk],
                }
            )
        )
    return out


@pytest.mark.parametrize("within_s", [None, 20_000])
def test_streaming_funnel_parity_out_of_order(spark, tmp_path, within_s):
    rows = _random_events(11)
    sink = _run_stream(
        spark, tmp_path, _to_epochs(rows, 4, seed=3), within_s, tag=f"-{within_s}"
    )
    got = {
        r["user_id"]: (
            r["step_1_ts"],
            r["step_2_ts"],
            r["step_3_ts"],
            r["steps_completed"],
        )
        for r in sink.read_current(spark).collect()
        if r["step_1_ts"] is not None
    }
    assert got == _python_funnel(rows, within_s)


def test_streaming_funnel_late_anchor_retracts_completion(spark, tmp_path):
    """within=100: epoch 1 completes the funnel; epoch 2 delivers a LATE
    EARLIER view that re-anchors the window so click/purchase fall out —
    the emitted row must retract to steps_completed=1."""
    e1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "event_time": [
                T0 + timedelta(seconds=500),
                T0 + timedelta(seconds=510),
                T0 + timedelta(seconds=520),
            ],
            "event_type": STEPS,
        }
    )
    e2 = pd.DataFrame(
        {"user_id": [1], "event_time": [T0], "event_type": ["view"]}
    )
    sink = _run_stream(spark, tmp_path, [e1, e2], within_s=100)
    (r,) = sink.read_current(spark).collect()
    assert r["steps_completed"] == 1
    assert r["step_1_ts"] == T0 and r["step_2_ts"] is None


def test_streaming_funnel_checkpoint_resume(spark, tmp_path):
    rows = _random_events(23)
    epochs = _to_epochs(rows, 4, seed=5)
    src = EpochFileSource(spark, str(tmp_path / "src"), EV_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["user_id"])

    def start():
        return (
            streaming_event_funnel(src.stream(), STEPS, within_s=20_000)
            .writeStream.foreachBatch(sink.foreach_batch())
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    for ep in epochs[:2]:
        src.add_epoch(ep)
    start().awaitTermination(300)
    for ep in epochs[2:]:
        src.add_epoch(ep)
    start().awaitTermination(300)  # resume from checkpointed state

    got = {
        r["user_id"]: (
            r["step_1_ts"],
            r["step_2_ts"],
            r["step_3_ts"],
            r["steps_completed"],
        )
        for r in sink.read_current(spark).collect()
        if r["step_1_ts"] is not None
    }
    assert got == _python_funnel(rows, 20_000)


# --- pure-python property: pruned incremental == full recompute -------------
# The streaming processor's correctness rests on the pruning proofs in
# streaming/cep.py; this drives them with hypothesis: arbitrary event
# times, arbitrary batch splits and arrival orders, with and without a
# `within` horizon — the pruned incremental state must always yield the
# same cascade as an unpruned recompute over everything seen so far.

import bisect as _bisect

from hypothesis import given, settings
from hypothesis import strategies as st


def _incremental(batches, k, within_us):
    from diffdataflowmlpipelines_spark.functions.cep import prune_candidates

    lists = [[] for _ in range(k)]
    results = []
    for batch in batches:
        for step_i, t in batch:
            _bisect.insort(lists[step_i], t)
        comp = funnel_cascade(lists, within_us)
        # THE production pruning (streaming/cep._funnel_fold calls this)
        lists = prune_candidates(lists, comp, within_us)
        results.append(comp)
    return results


@settings(max_examples=300, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)), max_size=60
    ),
    splits=st.lists(st.integers(0, 59), max_size=6),
    within=st.one_of(st.none(), st.integers(1, 300)),
    data=st.data(),
)
def test_pruned_incremental_equals_full_recompute(events, splits, within, data):
    k = 3
    order = data.draw(st.permutations(range(len(events))))
    seq = [events[i] for i in order]
    cuts = sorted({s for s in splits if s < len(seq)})
    batches, prev = [], 0
    for c in cuts + [len(seq)]:
        if c > prev:
            batches.append(seq[prev:c])
            prev = c
    if not batches:
        batches = [[]]
    got = _incremental(batches, k, within)
    # full recompute after each batch, no pruning
    seen: list[list[int]] = [[] for _ in range(k)]
    for bi, batch in enumerate(batches):
        for step_i, t in batch:
            _bisect.insort(seen[step_i], t)
        want = funnel_cascade([list(x) for x in seen], within)
        assert got[bi] == want, (bi, batches, within)


def test_streaming_funnel_duplicate_step_types(spark, tmp_path):
    """steps with a REPEATED type (view -> view -> click) must feed both
    view slots — batch handles duplicates via per-slot type checks, and
    the streaming twin must match (a type->single-slot dict silently
    starves the first slot)."""
    dup_steps = ["view", "view", "click"]
    rows = [
        (1, T0 + timedelta(seconds=s), ty)
        for s, ty in [(10, "view"), (20, "view"), (30, "click")]
    ] + [
        (2, T0 + timedelta(seconds=5), "view"),  # only one view: stalls at 1
        (2, T0 + timedelta(seconds=9), "click"),
    ]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    batch = {
        r["user_id"]: (r["step_1_ts"], r["step_2_ts"], r["step_3_ts"],
                       r["steps_completed"])
        for r in event_funnel(
            df, "user_id", "event_time", "event_type", dup_steps
        ).collect()
    }
    assert batch[1][3] == 3 and batch[2][3] == 1

    src = EpochFileSource(spark, str(tmp_path / "src"), EV_SCHEMA)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["user_id"])
    src.add_epoch(
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_time": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )
    )
    q = (
        streaming_event_funnel(src.stream(), dup_steps)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["user_id"]: (r["step_1_ts"], r["step_2_ts"], r["step_3_ts"],
                       r["steps_completed"])
        for r in sink.read_current(spark).collect()
    }
    assert got == batch


def test_event_funnel_null_timestamps_ignored(spark):
    """A NULL event time must be ignored, not poison the key's funnel."""
    rows = [
        (1, None, "view"),
        (1, T0 + timedelta(seconds=10), "view"),
        (1, T0 + timedelta(seconds=20), "click"),
    ]
    nullable_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_time", T.TimestampType(), True),
            T.StructField("event_type", T.StringType(), False),
        ]
    )
    df = spark.createDataFrame(rows, nullable_schema)
    (r,) = event_funnel(
        df, "user_id", "event_time", "event_type", STEPS
    ).collect()
    assert r["steps_completed"] == 2
    assert r["step_1_ts"] == T0 + timedelta(seconds=10)


def test_streaming_funnel_raises_on_pre_1970_event(spark, tmp_path):
    """Shared precondition with the batch twin: pre-1970 events must
    fail loudly in BOTH paths (the batch fold's sentinel is -1 micros;
    a silent streaming acceptance would break twin parity)."""
    import pandas as pd
    import pytest

    from diffdataflowmlpipelines_spark.streaming.cep import (
        streaming_event_funnel,
    )
    from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource
    from pyspark.sql import types as T
    from datetime import datetime

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_time", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
        ]
    )
    src = EpochFileSource(spark, str(tmp_path / "src"), schema)
    src.add_epoch(
        pd.DataFrame(
            {
                "user_id": [1],
                "event_time": [datetime(1969, 12, 31, 23, 0, 0)],
                "event_type": ["view"],
            }
        )
    )
    q = (
        streaming_event_funnel(src.stream(), ["view", "buy"])
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="1970"):
        q.awaitTermination(300)
        if q.exception():
            raise q.exception()
