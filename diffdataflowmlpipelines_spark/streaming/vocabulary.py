"""Incremental vocabulary: the reference's PositionAssignmentAggregate
(``src/types/integer_assignment_aggregate.rs``) as a sharded stateful
streaming operator.

Semantics ported (per shard):
- value -> stable index assignment in arrival order (``:43-50``)
- signed count per value; count crossing 0 frees the index into a
  free-list, crossing back re-assigns from the free-list (``:63-82``)
- logical length grows x1.5 (half-away rounding) while live values
  exceed it; when occupancy falls below 0.66 the map is compressed
  (indices renumbered densely) and the length shrinks (``:84-93``)

Architecture change vs the reference (deliberate, SURVEY.md §4): the
reference keys the whole dictionary by a constant, serializing every
update through one worker. Here the token space is hash-sharded across
``n_shards`` state keys, and each shard assigns LOCAL indices; the
global index is ``local * n_shards + shard`` — collision-free and dense
up to shard imbalance, with zero cross-shard coordination. Determinism:
within a micro-batch, rows are applied in (event_time, token) order.

Compression renumbers a shard's local indices densely over live values
in sorted order (the reference renumbers in hash-map iteration order,
which is nondeterministic even in Rust; we pin a deterministic order).
Two further deliberate deviations from the reference, both bug fixes:
the reference's compress() leaves stale entries in the free-list, so a
freed index can later collide with a compressed one
(``integer_assignment_aggregate.rs:52-61`` never clears
``free_indices``); we clear it. And its value_count() counts values
that only ever received non-positive diffs; we count live (indexed)
values only.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

VOCAB_OUTPUT_SCHEMA = (
    "shard int, token string, idx long, count long, vec_len long"
)
VOCAB_STATE_SCHEMA = (
    "tokens array<string>, local_idx array<long>, counts array<long>, "
    "free array<long>, next_local long, length long"
)


class ShardDict:
    """Pure-python replica of the reference aggregate, for one shard.
    Used both inside the stateful operator and as the test oracle."""

    def __init__(self):
        self.val_to_index: dict[str, int] = {}
        self.val_to_count: dict[str, int] = {}
        self.free: list[int] = []
        self.next_index = 0
        self.length = 1

    def live_count(self) -> int:
        # reference value_count(): tracked values minus freed indices
        return len(self.val_to_index)

    def _assign(self) -> int:
        if self.free:
            return self.free.pop()
        self.next_index += 1
        return self.next_index - 1

    def _compress(self) -> None:
        keys = sorted(self.val_to_index)
        self.val_to_index = {k: i for i, k in enumerate(keys)}
        self.free = []
        self.next_index = len(keys)

    def update(self, value: str, diff: int) -> None:
        old = self.val_to_count.get(value)
        if old is None:
            self.val_to_count[value] = diff
            if diff > 0:
                self.val_to_index[value] = self._assign()
        else:
            new = old + diff
            self.val_to_count[value] = new
            if old > 0 and new <= 0:
                self.free.append(self.val_to_index.pop(value))
            elif old <= 0 and new > 0:
                self.val_to_index[value] = self._assign()
        n = self.live_count()
        if n > self.length:
            while n > self.length:
                self.length = int(self.length * 1.5 + 0.5)
        elif n < int(self.length * 0.66):
            self._compress()
            # NOTE: the reference's shrink loop (integer_assignment_
            # aggregate.rs:88-92) does not terminate when a shard empties
            # at len=2 (ceil(2*0.66)=2 never shrinks) — found by the
            # hypothesis suite; we force strict progress.
            while n < int(self.length * 0.66) and self.length > 1:
                new_len = -int(-self.length * 0.66 // 1)  # ceil(len*0.66)
                self.length = new_len if new_len < self.length else self.length - 1

    # -- state (de)serialization -------------------------------------------

    def to_state(self) -> tuple:
        toks = sorted(self.val_to_count)
        return (
            toks,
            [self.val_to_index.get(t, -1) for t in toks],
            [self.val_to_count[t] for t in toks],
            list(self.free),
            self.next_index,
            self.length,
        )

    @classmethod
    def from_state(cls, row: tuple) -> "ShardDict":
        d = cls()
        toks, idxs, counts, free, next_local, length = row
        for t, i, c in zip(toks, idxs, counts):
            d.val_to_count[t] = int(c)
            if i >= 0:
                d.val_to_index[t] = int(i)
        d.free = [int(x) for x in free]
        d.next_index = int(next_local)
        d.length = int(length)
        return d


def _apply_shard_batch(
    d: ShardDict, shard: int, pdf: pd.DataFrame, n_shards: int
) -> pd.DataFrame:
    """Apply one shard's batch rows (in (event_time, token) order) and
    return the update-mode output rows. Shared by the stateful streaming
    operator and the driver-state pipeline so their emissions are
    identical by construction."""
    # snapshot assignments before the batch: a compression triggered
    # mid-batch renumbers live tokens that this batch never touched;
    # those must be re-emitted or the sink's upsert view keeps their
    # stale indices.
    before = dict(d.val_to_index)
    touched: dict[str, Any] = {}
    pdf = pdf.sort_values(["event_time", "token"], kind="stable")
    for token, diff in zip(pdf["token"], pdf["diff"]):
        d.update(str(token), int(diff))
        touched[str(token)] = True
    for t, i in d.val_to_index.items():
        if before.get(t) != i:
            touched[t] = True
    return _emission(d, shard, list(touched), n_shards)


def _emission(d: ShardDict, shard: int, tokens: list, n_shards: int) -> pd.DataFrame:
    """The typed (shard, token, idx, count, vec_len) emission rows of
    ``tokens`` in shard ``d`` — the one place the output frame of both
    the streaming operator and the driver-state pipeline is built."""
    return pd.DataFrame(
        {
            "shard": pd.array([shard] * len(tokens), dtype="int32"),
            # explicit dtype: an empty emission's object column would be
            # pyarrow-inferred as null type (parquet schema conflict)
            "token": pd.array(tokens, dtype="string"),
            "idx": pd.array(
                [
                    # global index; -1 when the value is currently dead
                    (d.val_to_index[t] * n_shards + shard)
                    if t in d.val_to_index
                    else -1
                    for t in tokens
                ],
                dtype="int64",
            ),
            "count": pd.array([d.val_to_count[t] for t in tokens], dtype="int64"),
            "vec_len": pd.array([d.length * n_shards] * len(tokens), dtype="int64"),
        }
    )


def _vocab_fn(n_shards: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        shard = int(key[0])
        d = ShardDict.from_state(state.get) if state.exists else ShardDict()
        chunks = list(pdfs)
        batch = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.DataFrame({"token": [], "diff": [], "event_time": []})
        )
        out = _apply_shard_batch(d, shard, batch, n_shards)
        state.update(d.to_state())
        yield out

    return fn


def _shard_keyed(df: DataFrame, n_shards: int, token_col: str) -> DataFrame:
    """The sharding invariant of both vocabulary paths: raw
    (token, diff, event_time) rows -> (shard, token, diff, event_time),
    with shard = pmod(xxhash64(string token), n_shards)."""
    # NULL tokens/diffs are not updates (str(None) would merge with a
    # real token spelled 'None'; int(None) aborts the batch)
    return df.filter(
        F.col(token_col).isNotNull() & F.col("diff").isNotNull()
    ).select(
        # hash the STRING-cast token: the stored key is the string cast,
        # and the driver-local routing (_route_pdf) hashes
        # XXH64(str(token)) — hashing the raw typed column would shard a
        # LongType token differently than its stored string, splitting
        # one token across two ShardDicts when paths mix
        F.pmod(F.xxhash64(F.col(token_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(token_col).cast("string").alias("token"),
        F.col("diff").cast("long").alias("diff"),
        F.col("event_time"),
    )


def incremental_vocabulary(
    df: DataFrame, n_shards: int = 16, token_col: str = "token"
) -> DataFrame:
    """Stateful token->index assignment over a stream of
    (token, diff, event_time). Emits per-batch updates
    (shard, token, idx, count, vec_len); idx = -1 marks a freed value.
    """
    keyed = _shard_keyed(df, n_shards, token_col)
    return keyed.groupBy("shard").applyInPandasWithState(
        _vocab_fn(n_shards),
        outputStructType=VOCAB_OUTPUT_SCHEMA,
        stateStructType=VOCAB_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class DriverVocabularyPipeline:
    """Latency-oriented driver-state twin of ``incremental_vocabulary``
    (reference latency protocol ``src/main.rs:376-435``: 25 single-row
    dictionary updates, constant-time in base size).

    The stateful-streaming operator pays Spark's micro-batch machinery
    per epoch (~0.7-2 s measured locally: state-store restore/commit,
    WAL, python worker round trips) — 2-3 orders over the reference's
    in-process 1.45 ms. This twin keeps the ``n_shards`` ShardDicts in
    DRIVER memory and commits epochs through the same exactly-once
    parquet sink protocol: a tiny epoch costs ONE Spark job (the collect
    probe, which also computes the JVM-side xxhash64 sharding) plus two
    pyarrow commits.

    Scope trade (documented, by design): the dictionary must fit the
    driver — true for vocabularies up to ~10^7 entries; beyond that use
    ``incremental_vocabulary`` (executor-sharded state). Sharding,
    apply order, and emission rule are IDENTICAL to the streaming
    operator (same ``_apply_shard_batch``), so outputs are parity-equal
    row for row.

    Restore after driver restart replays the committed input prefix
    (driver-local parquet reads, no Spark jobs). The crash window
    between the input and output commits is repaired on replay by
    re-emitting the full current dictionary for that epoch.
    """

    def __init__(self, spark, workdir: str, n_shards: int = 4, token_col: str = "token"):
        from diffdataflowmlpipelines_spark.streaming.sink import (
            ExactlyOnceParquetSink,
        )

        self.spark = spark
        self.n_shards = n_shards
        self.token_col = token_col
        self.input_sink = ExactlyOnceParquetSink(f"{workdir}/input", ["shard", "token"])
        self.output_sink = ExactlyOnceParquetSink(f"{workdir}/output", ["shard", "token"])
        self.shards: dict[int, ShardDict] = {}
        self.epochs = 0
        # epochs whose diffs THIS process has applied to the ShardDicts:
        # distinguishes (on replay) a crash before the apply — which
        # must apply the committed input now — from one after it
        self._applied_epochs: set[int] = set()
        self._restore_from_sink()

    # -- plumbing -------------------------------------------------------------

    @staticmethod
    def _rows_to_pdf(rows) -> pd.DataFrame:
        pdf = pd.DataFrame(
            {
                "shard": pd.array([r["shard"] for r in rows], dtype="int32"),
                # explicit string dtype: an EMPTY epoch's object column
                # would be pyarrow-inferred (null type), writing a
                # conflicting parquet schema into the sink
                "token": pd.array([r["token"] for r in rows], dtype="string"),
                "diff": pd.array([r["diff"] for r in rows], dtype="int64"),
                "event_time": pd.to_datetime(
                    [r["event_time"] for r in rows]
                ).tz_localize("UTC"),
            }
        )
        return pdf

    def _apply_pdf(self, pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for shard, g in pdf.groupby("shard", sort=True):
            d = self.shards.setdefault(int(shard), ShardDict())
            outs.append(_apply_shard_batch(d, int(shard), g, self.n_shards))
        return pd.concat(outs, ignore_index=True) if outs else self._no_emission()

    def _full_state_pdf(self) -> pd.DataFrame:
        outs = []
        for shard in sorted(self.shards):
            d = self.shards[shard]
            outs.append(_emission(d, shard, sorted(d.val_to_count), self.n_shards))
        return pd.concat(outs, ignore_index=True) if outs else self._no_emission()

    def _no_emission(self) -> pd.DataFrame:
        return _emission(ShardDict(), 0, [], self.n_shards)

    def _restore_from_sink(self) -> None:
        for e in self.input_sink.committed_epochs():
            pdf = pd.read_parquet(self.input_sink.epoch_dir(e))
            self._apply_pdf(pdf)
            self._applied_epochs.add(e)
            self.epochs += 1
            if not self.output_sink.is_committed(e):
                # crash window: input committed, output missing
                self.output_sink.write_batch_local(self._full_state_pdf(), e)

    # -- foreachBatch body ------------------------------------------------------

    def process_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self.input_sink.is_committed(epoch_id):
            if epoch_id not in self._applied_epochs:
                # same-process crash BEFORE the apply: fold the committed
                # input now (the old code emitted full state from
                # ShardDicts that never saw this epoch and dropped its
                # updates for the rest of the process lifetime)
                pdf = pd.read_parquet(self.input_sink.epoch_dir(epoch_id))
                out = self._apply_pdf(pdf)
                self._applied_epochs.add(epoch_id)
                self.epochs += 1
                self.output_sink.write_batch_local(out, epoch_id)
            elif not self.output_sink.is_committed(epoch_id):
                self.output_sink.write_batch_local(self._full_state_pdf(), epoch_id)
            return
        keyed = _shard_keyed(batch_df, self.n_shards, self.token_col)
        pdf = self._rows_to_pdf(keyed.collect())  # one job
        self.input_sink.write_batch_local(pdf, epoch_id)
        out = self._apply_pdf(pdf)
        self._applied_epochs.add(epoch_id)
        self.output_sink.write_batch_local(out, epoch_id)
        self.epochs += 1

    def _route_pdf(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """Null-filter + python-XXH64 shard routing of a raw delta into
        the keyed (shard, token, diff, event_time) frame the fold and
        the sinks consume — the pure in-process half of
        process_epoch_local, exposed so the latency bench can time
        route+fold without the durable commits."""
        from diffdataflowmlpipelines_spark.functions.xxhash import spark_shard

        keep = pdf[pdf[self.token_col].notna() & pdf["diff"].notna()]
        toks = keep[self.token_col].astype(str)
        keyed = pd.DataFrame(
            {
                "shard": pd.array(
                    [spark_shard(t, self.n_shards) for t in toks], dtype="int32"
                ),
                "token": pd.array(toks, dtype="string"),
                "diff": pd.array(keep["diff"], dtype="int64"),
                # reset_index: a Series keeps its source index and the
                # DataFrame constructor would align it against the fresh
                # arrays above, leaving NaT holes after the null filter
                "event_time": (
                    pd.to_datetime(keep["event_time"]).reset_index(drop=True)
                    if "event_time" in keep.columns
                    else pd.to_datetime([pd.Timestamp(0)] * len(keep))
                ),
            }
        )
        if keyed["event_time"].dt.tz is None:
            keyed["event_time"] = keyed["event_time"].dt.tz_localize("UTC")
        return keyed

    def process_epoch_local(self, pdf: pd.DataFrame, epoch_id: int) -> None:
        """Driver-local ingestion of a (token, diff[, event_time]) delta
        the caller already holds as pandas — zero Spark jobs on the hot
        path (``process_epoch``'s keyed collect costs ~30-40 ms of job
        launch alone). The shard routing uses the pure-python XXH64
        twin of ``F.xxhash64`` (functions/xxhash.py, hypothesis-pinned
        to the JVM value), so emitted (shard, idx) assignments are
        bit-identical to the Spark-df path and the streaming operator.
        Exactly-once layout and replay semantics are unchanged."""
        if self.input_sink.is_committed(epoch_id):
            return self.process_epoch(None, epoch_id)  # replay/repair only
        keyed = self._route_pdf(pdf)
        self.input_sink.write_batch_local(keyed, epoch_id)
        out = self._apply_pdf(keyed)
        self._applied_epochs.add(epoch_id)
        self.output_sink.write_batch_local(out, epoch_id)
        self.epochs += 1

    def foreach_batch(self):
        return lambda df, eid: self.process_epoch(df, eid)

    def current_vocabulary(self) -> DataFrame:
        """Upsert view: latest row per (shard, token)."""
        return self.output_sink.read_current(self.spark)
