"""Incremental fit+transform maintenance — the reference's core loop
(``pipeline_3_diabetes.rs:12-60``): a continuously-maintained statistic
(scaler meta) and a transform whose OUTPUTS are maintained under
updates. In DD, a changed statistic retracts and re-emits every
transformed row; rounding (``standard_scaler.rs:73-76``) suppresses
that cascade unless the statistic crosses a 10^n boundary.

One epoch protocol (``_ScalerEpochs``) maintains k StandardScaler
statistics, one per column of ``value_cols``. Two encoders sit on it:
``IncrementalScalerPipeline`` is the k=1 case and writes ``scaled``;
``IncrementalMultiScalerPipeline`` assembles all k into ``features``.

Every epoch is one pa.Table on the driver (driven per micro-batch from
``foreachBatch``, or handed over in-process by ``process_epoch_local``):

  epoch k: commit the table as the input epoch (exactly-once sink)
           fold its signed partial sums (n, Σx, Σx²) of every column
             into the running statistic — retraction-correct, O(batch)
           round; compare with the previous epoch's rounded statistic
           changed   -> re-encode the WHOLE consolidated input (the DD
                        cascade)
           unchanged -> encode this epoch's rows (an insert-only epoch)
                        or its touched keys' history (a retraction)

Each step has one implementation: ``_fold`` (the statistic of
``streaming/stats.py``, shared with ``incremental_scaler_stats``),
``_emit`` (``Table.group_by`` on the grain, then the encoder's
vectorized ``_encode``) and the input sink's ``read_keys_local``, which
reads the touched keys' history, the cascade's whole input and a
restart's restore. ``SMALL_EPOCH_ROWS`` only chooses how a Spark batch
reaches the driver: the ``limit(n + 1).collect()`` size probe, or
``toArrow()``. Neither sink commit starts a Spark job.

Scope trade (by design): an epoch, and for a cascade the consolidated
input, must fit the driver as Arrow — the reference's in-process trace
does too.

Every output epoch carries exactly (*key_cols, *value_cols, diff) plus
the encoder's column.

A replayed epoch takes the one rule of ``sink._DriverEpochs._replayed``:
fold the committed input if this object has not, and write a missing
output epoch as the cascade does, the consolidated input encoded under
the current meta: a function of the two, so correct for any epoch.

The parity invariant (tested): at every epoch, the output sink equals
a from-scratch batch fit_transform over the consolidated input prefix —
the reference's incremental-update trace oracle (FIXTURES.md F3).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from diffdataflowmlpipelines_spark.operators.collection import DIFF
from diffdataflowmlpipelines_spark.streaming.sink import _DriverEpochs, _table
from diffdataflowmlpipelines_spark.streaming.stats import fold, meta

# a Spark batch of at most this many rows reaches the driver through the
# size probe ``limit(n + 1).collect()`` (7.4 ms on a 1-row local relation
# against toArrow()'s 17.5, 4-core host), a larger one through
# ``toArrow()``. 0 sends every batch through toArrow().
SMALL_EPOCH_ROWS = 64


def _arrival(batch_df: DataFrame) -> pa.Table:
    """A Spark batch as one pa.Table in its Arrow schema: the rows of the
    size probe if it holds at most ``SMALL_EPOCH_ROWS`` rows, else
    ``toArrow()``."""
    schema = to_arrow_schema(batch_df.schema)
    if SMALL_EPOCH_ROWS:
        rows = batch_df.limit(SMALL_EPOCH_ROWS + 1).collect()
        if len(rows) <= SMALL_EPOCH_ROWS:
            return _table(rows, schema)
    return batch_df.toArrow().cast(schema)


def _with_diff(table: pa.Table) -> pa.Table:
    """``collection.with_diff`` for a pa.Table: an int64 ``diff``, 1 on
    every row of a table without one."""
    if DIFF not in table.column_names:
        return table.append_column(DIFF, pa.repeat(1, len(table)))
    i = table.schema.get_field_index(DIFF)
    return table.set_column(i, DIFF, table[DIFF].cast(pa.int64()))


def _scaled(x, mean, var):
    """``standard_scale_expr`` on a pyarrow column: (x - mean) / var, with
    ``mean`` and ``var`` a float or one per element. The float divide
    gives a zero variance's IEEE results (+/-inf, NaN at x == mean or
    for a NaN x); NULL stays NULL."""
    return pc.divide(pc.subtract(x.cast(pa.float64()), mean), var)


class _ScalerEpochs(_DriverEpochs):
    """The exactly-once epoch protocol of the incremental scalers: one
    (mean, var) statistic per column of ``value_cols``, rounded by
    ``round_to`` (the reference's update suppression). The output sink
    is keyed by the grain (*key_cols, *value_cols), so a key holding
    several live values keeps one output row per value.

    ``_process`` is the one lane of every epoch, a pa.Table with an
    int64 ``diff``. ``_write_state`` is the one whole-state write: the
    cascade, and the output of a replayed epoch whose output a crash
    lost. ``full_reencodes`` counts its writes under a rounded meta that
    moved from ``last_meta``, so a replay counts what a crash-free run
    counts.

    Subclasses supply only the encoder: ``_encode`` returns the column
    ``_out_field`` names for a consolidated table of (*key_cols,
    *value_cols, diff), under a meta tuple of one (mean, var) per value
    column.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        key_cols: list[str],
        value_cols: list[str],
        round_to: tuple[int, int] | None = None,
    ):
        self.key_cols = list(key_cols)
        self.value_cols = list(value_cols)
        # the consolidation grain, and (with diff) the pinned output
        # projection
        self._grain = [*self.key_cols, *self.value_cols]
        super().__init__(spark, workdir, self.key_cols, self._grain)
        self.round_to = round_to
        self.last_meta: tuple | None = None
        self.full_reencodes = 0
        # running abelian statistic per column: n, the NaN, +inf and
        # -inf counts, and the sum and sum of squares of the finite
        # values — DD's incremental aggregate: each epoch folds in the
        # BATCH's partial sums, so a single-row update costs O(batch),
        # not O(snapshot)
        k = len(self.value_cols)
        self._stats = (*([0] * k for _ in range(4)), [0.0] * k, [0.0] * k)
        self._n, self._nan, self._pinf, self._ninf, self._s1, self._s2 = self._stats
        self._restore_from_sink()

    # -- statistic ------------------------------------------------------------

    def _fold(self, table: pa.Table) -> None:
        """Fold a signed table's deltas of every value column into the
        running statistic (``stats.fold``). The sums run in numpy over
        each column's Arrow buffer, where a NULL reads NaN and the
        validity mask tells it from a NaN value."""
        d = table[DIFF].to_numpy()
        for i, c in enumerate(self.value_cols):
            col = table[c].cast(pa.float64())
            delta = fold(col.to_numpy(), col.is_valid().to_numpy(), d)
            for acc, v in zip(self._stats, delta):
                acc[i] += v

    def _current_meta(self) -> tuple:
        """Rounded (mean, var) per column (``stats.meta``)."""
        return tuple(meta(*s, self.round_to) for s in zip(*self._stats))

    def _restore_from_sink(self) -> None:
        """Driver-restart recovery: the running statistic lives in driver
        memory, so after a restart ``process_epoch`` would skip committed
        epochs without folding them. Rebuild the sums and last_meta
        from the committed input prefix (one pyarrow read, once)."""
        committed = self.input_sink.committed_epochs()
        self._folded_epochs = set(committed)
        if committed:
            self._fold(self._history())
            self.last_meta = self._current_meta()

    # -- history, consolidation and the pinned output projection ---------------

    def _history(self, keys: pa.Table | None = None, schema: pa.Schema | None = None):
        """The committed input rows whose key is a row of ``keys`` (None:
        every row), as (*key_cols, *value_cols, diff) in the types of
        ``schema`` (None: those of the first committed epoch)."""
        if schema is None:
            first = self.input_sink.epoch_dir(self.input_sink.committed_epochs()[0])
            schema = ds.dataset(first, format="parquet").schema
        fields = [schema.field(c) for c in (*self._grain, DIFF)]
        return self.input_sink.read_keys_local(keys, pa.schema(fields))

    def _emit(self, table: pa.Table, meta: tuple) -> pa.Table:
        """Consolidate ``table`` on the grain and encode each net row,
        net-zero tombstones included (they tombstone the outputs of
        fully-retracted inputs), into the pinned projection (*key_cols,
        *value_cols, diff, encoder column). The grain groups as a Spark
        GROUP BY does: NULLs form one group, NaNs form one group, and
        -0.0 joins 0.0 (the + 0.0; pyarrow keeps them apart)."""
        grain = [
            pc.add(table[c], pa.scalar(0.0, table[c].type))
            if pa.types.is_floating(table[c].type)
            else table[c]
            for c in self._grain
        ]
        net = (
            pa.table([*grain, table[DIFF]], names=[*self._grain, DIFF])
            .group_by(self._grain)
            .aggregate([(DIFF, "sum")])
            .select([*self._grain, f"{DIFF}_sum"])
            .rename_columns([*self._grain, DIFF])
        )
        return net.append_column(self._out_field, self._encode(net, meta))

    def _write_state(self, epoch_id: int) -> None:
        """Commit the whole consolidated input encoded under the current
        meta as the output of ``epoch_id``: the DD cascade, O(snapshot) as
        the reference's full re-transform, and the output of a replayed
        epoch. Dead keys get their <=0 net rows as tombstones (the upsert
        view drops them)."""
        meta = self._current_meta()
        if meta != self.last_meta:
            # set before the write: a replay of a cascade whose output
            # write failed does not count it twice
            self.full_reencodes += 1
            self.last_meta = meta
        self.output_sink.write_batch_local(self._emit(self._history(), meta), epoch_id)

    # -- the lane ---------------------------------------------------------------

    def _process(self, table: pa.Table, epoch_id: int) -> None:
        """Commit ``table`` as the input epoch, fold it, and commit its
        output: the whole state when the rounded statistic moved, else
        this epoch's rows (inserts of (key, value) rows only touch their
        own keys) or, for a retraction, the touched keys' history, this
        epoch included. O(batch) unless the statistic moves."""
        self.input_sink.write_batch_local(table, epoch_id)
        self._fold(table)
        self._folded_epochs.add(epoch_id)
        if self._current_meta() != self.last_meta:
            self._write_state(epoch_id)
            return
        rows = table.select([*self._grain, DIFF])
        if pc.any(pc.less_equal(table[DIFF], 0)).as_py():
            rows = self._history(table.select(self.key_cols), rows.schema)
        self.output_sink.write_batch_local(self._emit(rows, self.last_meta), epoch_id)

    # -- replay (the hooks of _DriverEpochs._replayed) ----------------------------

    def _fold_committed(self, epoch_id: int) -> None:
        """Same-process crash window BEFORE the statistic fold: the input
        epoch committed but this object's statistic never saw it (a
        restart re-folds it in _restore_from_sink). One pyarrow read of
        the epoch, folded as a live epoch is."""
        self._fold(
            pq.read_table(
                self.input_sink.epoch_dir(epoch_id), columns=[*self.value_cols, DIFF]
            )
        )

    def _resync(self) -> None:
        # both epochs committed: last_meta is the meta of the committed
        # output, _current_meta(). Restore it if anything left it stale,
        # else the NEXT epoch would encode new rows with a meta older
        # than the committed snapshot
        self.last_meta = self._current_meta()

    # -- entry points -----------------------------------------------------------

    def process_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: the batch reaches the driver as one pa.Table
        in its Arrow schema, through the size probe (at most
        ``SMALL_EPOCH_ROWS`` rows) or ``toArrow()``, and takes the lane."""
        if self._replayed(epoch_id):
            return
        self._process(_with_diff(_arrival(batch_df)), epoch_id)

    def process_epoch_local(self, pdf, epoch_id: int) -> None:
        """Driver-local ingestion for callers that already hold the
        delta in-process as pandas (the reference's per-row shape) —
        skips ``process_epoch``'s size probe, whose job launch dominates
        the single-row latency, and starts no Spark job, whatever the
        delta's size. Exactly-once layout, replay, and crash-window
        repair are identical to ``process_epoch``. The frame becomes a
        pa.Table once, here: a NaN in a numpy float column becomes NULL
        (as pyarrow would persist it), a NaN in a masked ``Float64``
        column stays a NaN. Timestamp columns must be tz-aware UTC."""
        if self._replayed(epoch_id):
            return
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        self._process(_with_diff(table.replace_schema_metadata()), epoch_id)

    def current_output(self) -> DataFrame:
        """Live outputs: latest row per (*key_cols, *value_cols),
        tombstones dropped."""
        cur = self.output_sink.read_current(self.spark)
        return cur.filter(F.col(DIFF) > 0).drop(DIFF)


class IncrementalScalerPipeline(_ScalerEpochs):
    """StandardScaler fit+transform maintained across epochs — the k=1
    case of the epoch protocol.

    Rows are keyed by ``key_cols``; ``value_col`` is scaled by the
    reference formula (x - mean)/variance into ``scaled``. ``round_to``
    enables the reference's update suppression.
    """

    _out_field = pa.field("scaled", pa.float64())

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        key_cols: list[str],
        value_col: str,
        round_to: tuple[int, int] | None = None,
    ):
        super().__init__(spark, workdir, key_cols, [value_col], round_to)

    def _encode(self, net: pa.Table, meta: tuple):
        ((mean, var),) = meta
        return _scaled(net[self.value_cols[0]], mean, var)


class IncrementalMultiScalerPipeline(_ScalerEpochs):
    """k StandardScalers maintained per-epoch with columnar assembly —
    the reference's headline experiment (``pipeline_3_diabetes.rs:12-60``:
    21 scalers with rounding (−2, −1) over the diabetes table, init at
    99.99% then per-row update epochs; paper Figure 3).

    Architectural differences from the reference, both deliberate:

    - the reference maintains one dataflow per encoder and assembles the
      feature vector through a left-deep chain of k−1 row-id joins (its
      paper names that chain the end-to-end bottleneck). Here ALL k
      statistics fold in one columnar pass per epoch (pyarrow sums of
      every column of the epoch's table) and assembly builds one
      ``list<double>`` array from the k scaled columns — zero joins at
      any k.
    - re-encode granularity is the row: if ANY column's rounded (mean,
      var) moved, the assembled feature row changes, so the snapshot is
      re-encoded once (the reference re-emits per changed column; same
      output, k× less bookkeeping). With the reference's rounding config
      almost all single-row epochs leave every rounded statistic
      unchanged -> O(batch) work, which is the experiment's point.

    Parity invariant (tested): at every epoch the output sink equals a
    from-scratch batch MultiColumnEncoder of StandardScalers over the
    consolidated input prefix.
    """

    _out_field = pa.field("features", pa.list_(pa.float64()))

    def _encode(self, net: pa.Table, meta: tuple):
        # the k value columns end to end, scaled in one pass: row i's k
        # values, NULL elements kept, are elements [i * k, (i + 1) * k)
        # of the transposed result
        n, k = len(net), len(meta)
        x = pa.chunked_array(
            [ch for c in self.value_cols for ch in net[c].cast(pa.float64()).chunks],
            pa.float64(),
        )
        mean, var = (np.repeat(v, n) for v in zip(*meta))
        values = _scaled(x, mean, var).take(np.arange(n * k).reshape(k, n).T.ravel())
        offsets = pa.array(np.arange(0, (n + 1) * k, k), pa.int32())
        return pa.ListArray.from_arrays(offsets, values.combine_chunks())
