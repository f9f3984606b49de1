"""Incremental vocabulary: the reference's PositionAssignmentAggregate
(``src/types/integer_assignment_aggregate.rs``) as sharded dictionaries
held in driver memory, ``DriverVocabularyPipeline``: the one
incremental-vocabulary path of the package, which the streaming
CountVectorizer and tokenizer drain their token streams into.

Semantics ported (per shard):
- value -> stable index assignment in arrival order (``:43-50``)
- signed count per value; count crossing 0 frees the index into a
  free-list, crossing back re-assigns from the free-list (``:63-82``)
- logical length grows x1.5 (half-away rounding) while live values
  exceed it; when occupancy falls below 0.66 the map is compressed
  (indices renumbered densely) and the length shrinks (``:84-93``)

Architecture change vs the reference (deliberate, SURVEY.md §4): the
reference keeps one dictionary. Here the token space is hash-sharded
across ``n_shards`` dictionaries by ``pmod(xxhash64(cast(token as
string)), n_shards)``, and each shard assigns LOCAL indices; the global
index is ``local * n_shards + shard`` — collision-free and dense up to
shard imbalance, with zero cross-shard coordination. Determinism: within
an epoch, rows are applied in (event_time, token) order, a NULL
event_time last (``_apply_rows``, the one per-shard fold).

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

from datetime import datetime, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from diffdataflowmlpipelines_spark.functions.xxhash import spark_shard
from diffdataflowmlpipelines_spark.streaming.sink import _DriverEpochs, _rows, _table

VOCAB_OUTPUT_SCHEMA = pa.schema(
    [
        ("shard", pa.int32()),
        ("token", pa.string()),
        ("idx", pa.int64()),
        ("count", pa.int64()),
        ("vec_len", pa.int64()),
    ]
)
# the driver pipeline's input sink rows
_INPUT = pa.schema(
    [
        ("shard", pa.int32()),
        ("token", pa.string()),
        ("diff", pa.int64()),
        ("event_time", pa.timestamp("us", tz="UTC")),
    ]
)
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


class ShardDict:
    """Pure-python replica of the reference aggregate, for one shard:
    the state ``DriverVocabularyPipeline`` holds per shard, and the
    oracle of the tests and of perfbench's ``check_vocab``."""

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


def _entries(d: ShardDict, shard: int, tokens, n_shards: int) -> list[tuple]:
    """The (shard, token, idx, count, vec_len) emission tuples of
    ``tokens`` in shard ``d``; idx is the global index, -1 for a value
    that is currently dead."""
    vec_len = d.length * n_shards
    return [
        (
            shard,
            t,
            d.val_to_index[t] * n_shards + shard if t in d.val_to_index else -1,
            d.val_to_count[t],
            vec_len,
        )
        for t in tokens
    ]


def _apply_rows(
    d: ShardDict, shard: int, rows: list[tuple], n_shards: int
) -> list[tuple]:
    """Apply one shard's (event_time, token, diff) rows in (event_time,
    token) order, a NULL event_time last, and return the emission
    tuples of the tokens it touched: the one per-shard fold of the
    vocabulary."""
    # snapshot assignments before the batch: a compression triggered
    # mid-batch renumbers live tokens that this batch never touched;
    # those must be re-emitted or the sink's upsert view keeps their
    # stale indices.
    before = dict(d.val_to_index)
    touched: dict[str, None] = {}
    for _, token, diff in sorted(rows, key=lambda r: (r[0] is None, r[0], r[1])):
        d.update(token, diff)
        touched[token] = None
    for t, i in d.val_to_index.items():
        if before.get(t) != i:
            touched[t] = None
    return _entries(d, shard, touched, n_shards)


def _emission(rows: list[tuple]) -> pa.Table:
    """Emission tuples -> the vocabulary's output table."""
    return _table(rows, VOCAB_OUTPUT_SCHEMA)


def _apply_shard_batch(
    d: ShardDict, shard: int, pdf: pd.DataFrame, n_shards: int
) -> pd.DataFrame:
    """``_apply_rows`` over one shard's pandas frame of (token, diff,
    event_time) columns: perfbench's ``check_vocab`` replays every epoch
    through it as its oracle."""
    rows = [
        (None if pd.isna(t) else t, str(token), int(diff))
        for t, token, diff in zip(pdf["event_time"], pdf["token"], pdf["diff"])
    ]
    return _emission(_apply_rows(d, shard, rows, n_shards)).to_pandas()


class DriverVocabularyPipeline(_DriverEpochs):
    """The incremental vocabulary (reference latency protocol
    ``src/main.rs:376-435``: 25 single-row dictionary updates,
    constant-time in base size). It keeps the ``n_shards`` ShardDicts in
    DRIVER memory. Every epoch takes one lane: its rows (collected by
    ``process_epoch``, the epoch's ONE Spark job) are routed in Python
    by an XXH64 that matches Spark's xxhash64, folded as tuples, and
    committed as two pyarrow tables through the exactly-once sinks: the
    routed rows to ``input_sink``, the emission rows (shard, token, idx,
    count, vec_len; idx -1 marks a freed value) to ``output_sink``.

    Scope trade (by design): the dictionary must fit the driver, as the
    reference's in-process aggregate fits its process — true for
    vocabularies up to ~10^7 entries. A restart replays the committed
    input prefix through the replay triage, with no Spark job.
    """

    def __init__(self, spark, workdir: str, n_shards: int = 4, token_col: str = "token"):
        super().__init__(spark, workdir, ["shard", "token"], ["shard", "token"])
        self.n_shards = n_shards
        self.token_col = token_col
        self.shards: dict[int, ShardDict] = {}
        for e in self.input_sink.committed_epochs():
            self._replayed(e)

    # -- the lane -----------------------------------------------------------------

    def _route(self, rows, names: list[str]) -> list[tuple]:
        """Rows with the columns ``names`` -> the input sink's (shard,
        token, diff, event_time) tuples, shard = Spark's
        ``pmod(xxhash64(cast(token as string)), n_shards)``; a row with a
        NULL token or diff is not an update and is dropped. Only a str or
        int token stringifies as Spark's ``cast("string")`` does: any
        other raises TypeError. A missing ``event_time`` column reads as
        the Unix epoch."""
        tok_at, diff_at = names.index(self.token_col), names.index("diff")
        et_at = names.index("event_time") if "event_time" in names else None
        shard_of: dict[str, int] = {}
        keyed = []
        for r in rows:
            token, diff = r[tok_at], r[diff_at]
            if token is None or diff is None:
                continue
            if isinstance(token, bool) or not isinstance(token, (str, int)):
                raise TypeError(
                    f"vocabulary token {token!r} is {type(token).__name__}, "
                    "not str or int"
                )
            token = str(token)
            shard = shard_of.get(token)
            if shard is None:
                shard = shard_of[token] = spark_shard(token, self.n_shards)
            t = _EPOCH if et_at is None else r[et_at]
            keyed.append((shard, token, int(diff), t))
        return keyed

    def _apply(self, keyed: list[tuple]) -> list[tuple]:
        """Fold routed (shard, token, diff, event_time) tuples into the
        ShardDicts; returns the emission tuples, shard by shard."""
        by_shard: dict[int, list[tuple]] = {}
        for shard, token, diff, t in keyed:
            by_shard.setdefault(shard, []).append((t, token, diff))
        out = []
        for shard in sorted(by_shard):
            d = self.shards.setdefault(shard, ShardDict())
            out += _apply_rows(d, shard, by_shard[shard], self.n_shards)
        return out

    def _commit(self, keyed: list[tuple], epoch_id: int) -> None:
        """Commit routed tuples as the input epoch, fold them, and commit
        the emission tuples as the output epoch."""
        self.input_sink.write_batch_local(_table(keyed, _INPUT), epoch_id)
        out = self._apply(keyed)
        self._folded_epochs.add(epoch_id)
        self.output_sink.write_batch_local(_emission(out), epoch_id)

    # -- replay (the hooks of _DriverEpochs._replayed) ----------------------------

    def _fold_committed(self, epoch_id: int) -> None:
        """The input epoch committed but these ShardDicts never saw it:
        a restart's restore, or a same-process crash before the apply."""
        table = pq.read_table(self.input_sink.epoch_dir(epoch_id), schema=_INPUT)
        self._apply(_rows(table))

    def _write_state(self, epoch_id: int) -> None:
        """Emit the whole current dictionary as the output of the epoch."""
        out = []
        for shard in sorted(self.shards):
            d = self.shards[shard]
            out += _entries(d, shard, sorted(d.val_to_count), self.n_shards)
        self.output_sink.write_batch_local(_emission(out), epoch_id)

    # -- entry points -------------------------------------------------------------

    def process_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: one Spark job, the epoch's ``collect()``."""
        if self._replayed(epoch_id):
            return
        self._commit(self._route(batch_df.collect(), batch_df.columns), epoch_id)

    def process_epoch_local(self, pdf, epoch_id: int) -> None:
        """Driver-local ingestion of a (token, diff[, event_time]) frame
        the caller already holds in-process — zero Spark jobs. The frame
        becomes a pa.Table once, here; its rows take ``process_epoch``'s
        lane. Timestamp columns must be tz-aware UTC."""
        if self._replayed(epoch_id):
            return
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        self._commit(self._route(_rows(table), table.column_names), epoch_id)

    def current_vocabulary(self) -> DataFrame:
        """Upsert view: latest row per (shard, token)."""
        return self.output_sink.read_current(self.spark)
