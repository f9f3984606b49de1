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

Spark re-expression (driven per micro-batch from ``foreachBatch``):

  epoch k: append batch rows to the input snapshot (exactly-once sink)
           fold the batch's signed partial sums (n, Σx, Σx²) of every
             column into the running statistic — retraction-correct,
             one aggregate job
           round; compare with the previous epoch's rounded statistic
           changed   -> re-encode the WHOLE snapshot (the DD cascade)
           unchanged -> encode only this batch's rows with current meta

Epochs of at most ``SMALL_EPOCH_ROWS`` rows take the driver lane
instead: the ``limit(n + 1).collect()`` size probe is the epoch's only
Spark job unless the statistic moves. The lane works on the collected
rows as Spark holds them (None is NULL, a float NaN is NaN): one
per-row fold of the statistic, one per-row encode, and pyarrow tables
for both sink commits. A retraction reads the touched keys' input
history with one pyarrow scan (``read_keys_local``), not a Spark job.

Every output epoch carries exactly (*key_cols, *value_cols, diff) plus
the encoder's column, whichever lane wrote it.

A replayed epoch takes the one rule of ``sink._DriverEpochs._replayed``:
fold the committed input if this object has not, and write a missing
output epoch as the cascade does, the consolidated input encoded under
the current meta: a function of the two, so correct for any epoch.

The parity invariant (tested): at every epoch, the output sink equals
a from-scratch batch fit_transform over the consolidated input prefix —
the reference's incremental-update trace oracle (FIXTURES.md F3).
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from diffdataflowmlpipelines_spark.operators.collection import (
    DIFF,
    _obs_diff,
    consolidate,
    with_diff,
)
from diffdataflowmlpipelines_spark.operators.encoders import standard_scale_expr
from diffdataflowmlpipelines_spark.streaming.sink import _DriverEpochs, _rows, _table
from diffdataflowmlpipelines_spark.streaming.stats import _round_to

# epochs at or under this row count take the driver lane: at most ONE
# Spark job (the collect probe) plus pyarrow reads and commits, instead
# of 3-4 distributed jobs. 0 sends every epoch distributed.
SMALL_EPOCH_ROWS = 64

_NAN, _INF = float("nan"), float("inf")
# the one NaN object of every non-finite meta: a tuple compares its
# elements by identity first, so an unchanged non-finite statistic
# compares equal and triggers no re-encode
_NAN_META = (_NAN, _NAN)


def _scale(x, mean: float, var: float):
    """``standard_scale_expr`` for one value: (x - mean) / var, with the
    IEEE results of a zero variance that Python's float division raises
    on (+/-inf, NaN at x == mean or for a NaN x). NULL stays None."""
    if x is None:
        return None
    d = float(x) - mean
    if var != 0.0:
        return d / var
    return _NAN if d != d or d == 0.0 else math.copysign(_INF, d)


class _ScalerEpochs(_DriverEpochs):
    """The exactly-once epoch protocol of the incremental scalers: one
    (mean, var) statistic per column of ``value_cols``, rounded by
    ``round_to`` (the reference's update suppression). The output sink
    is keyed by the grain (*key_cols, *value_cols), so a key holding
    several live values keeps one output row per value.

    ``_write_state`` is the one whole-snapshot write: the cascade of
    either lane, and the output of a replayed epoch whose output a crash
    lost. ``full_reencodes`` counts its writes under a rounded meta that
    moved from ``last_meta``, so a replay counts what a crash-free run
    counts.

    Subclasses supply only the encoder: ``_encode`` (distributed) adds
    the column ``_out_field`` names to a frame projected to
    (*key_cols, *value_cols, diff); its driver-lane twin ``_encode_row``
    returns that column's value for one row's value tuple. Both take a
    meta tuple of one (mean, var) per value column.
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
        # projection every lane encodes
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
        self._n, self._nan, self._pinf, self._ninf = ([0] * k for _ in range(4))
        self._s1, self._s2 = [0.0] * k, [0.0] * k
        self._restore_from_sink()

    # -- statistic ------------------------------------------------------------

    def _sum_exprs(self) -> list:
        # per-column observation counts under the batch StandardScaler's
        # rule (operators/collection._obs_diff): a NULL is not an
        # observation; a NaN or an infinity is one. NaNs and infinities
        # are counted apart and kept out of s1/s2, which they would
        # poison for good (a retraction cannot subtract inf or NaN back
        # out). Spark orders NaN above +inf, so |x| < inf keeps exactly
        # the finite values.
        def count(cond):
            return F.sum(F.when(cond, F.col(DIFF)).otherwise(F.lit(0)))

        exprs = [F.min(F.col(DIFF)).alias("min_diff")]
        for i, c in enumerate(self.value_cols):
            x = F.col(c).cast("double")
            finite = F.when(F.abs(x) < F.lit(_INF), x)
            exprs += [
                F.sum(_obs_diff(x)).alias(f"n_{i}"),
                count(F.isnan(x)).alias(f"nan_{i}"),
                count(x == F.lit(_INF)).alias(f"pinf_{i}"),
                count(x == F.lit(-_INF)).alias(f"ninf_{i}"),
                F.sum(finite * F.col(DIFF)).alias(f"s1_{i}"),
                F.sum(finite * finite * F.col(DIFF)).alias(f"s2_{i}"),
            ]
        return exprs

    def _sums(self, df: DataFrame) -> tuple:
        """ONE aggregate job over a signed frame, all k columns at once:
        (min diff, (n, NaN, +inf, -inf, s1, s2)), one list per field."""
        row = with_diff(df).agg(*self._sum_exprs()).first()
        k = range(len(self.value_cols))
        counts = tuple(
            [int(row[f"{f}_{i}"] or 0) for i in k] for f in ("n", "nan", "pinf", "ninf")
        )
        sums = tuple([float(row[f"{f}_{i}"] or 0.0) for i in k] for f in ("s1", "s2"))
        return row["min_diff"], counts + sums

    def _stats(self) -> tuple:
        return self._n, self._nan, self._pinf, self._ninf, self._s1, self._s2

    def _meta(self, n, nan, pinf, ninf, s1, s2) -> tuple:
        """Rounded (mean, var) per column, what the batch StandardScaler
        returns: NaN for a column without observations or with a live
        NaN; a live +inf (-inf) makes the mean +inf (-inf) and the
        variance inf - inf = NaN; both signs make both NaN. Only finite
        values are rounded."""
        metas = []
        for ni, ki, pi, mi, a, b in zip(n, nan, pinf, ninf, s1, s2):
            if ni <= 0 or ki > 0 or (pi > 0 and mi > 0):
                metas.append(_NAN_META)
            elif pi > 0 or mi > 0:
                metas.append((_INF if pi > 0 else -_INF, _NAN))
            else:
                mean = a / ni
                var = b / ni - mean * mean
                if self.round_to:
                    rm, rv = self.round_to
                    mean = _round_to(mean, rm) if math.isfinite(mean) else mean
                    var = _round_to(var, rv) if math.isfinite(var) else var
                metas.append((mean, var))
        return tuple(metas)

    def _current_meta(self) -> tuple:
        return self._meta(*self._stats())

    def _restore_from_sink(self) -> None:
        """Driver-restart recovery: the running statistic lives in driver
        memory, so after a restart ``process_epoch`` would skip committed
        epochs without folding them. Rebuild the sums and last_meta
        from the committed input prefix (one aggregate job, once)."""
        committed = self.input_sink.committed_epochs()
        self._folded_epochs = set(committed)
        if not committed:
            return
        _, stats = self._sums(self.input_sink.read_all(self.spark))
        self._n, self._nan, self._pinf, self._ninf, self._s1, self._s2 = stats
        self.last_meta = self._current_meta()

    def _fold_batch(self, batch_df: DataFrame) -> tuple:
        """Fold the batch's signed partial sums into the running
        statistic and return the current (rounded) meta. n counts
        OBSERVATIONS (see _sum_exprs)."""
        min_diff, part = self._sums(batch_df)
        self._last_batch_insert_only = (min_diff or 1) > 0
        for acc, p in zip(self._stats(), part):
            for i, v in enumerate(p):
                acc[i] += v
        return self._current_meta()

    def _fold_rows(self, rows: list[tuple], schema: pa.Schema) -> tuple:
        """Driver-lane twin of _fold_batch: fold collected row tuples (in
        ``schema`` order) one by one, under the same observation rule."""
        d_at = schema.get_field_index(DIFF)
        at = [schema.get_field_index(c) for c in self.value_cols]
        n, nan, pinf, ninf, s1, s2 = self._stats()
        insert_only = True
        for r in rows:
            d = r[d_at]
            insert_only = insert_only and d > 0
            for i, j in enumerate(at):
                if r[j] is None:
                    continue
                x = float(r[j])
                n[i] += d
                if x != x:
                    nan[i] += d
                elif x == _INF:
                    pinf[i] += d
                elif x == -_INF:
                    ninf[i] += d
                else:
                    s1[i] += x * d
                    s2[i] += x * x * d
        self._last_batch_insert_only = insert_only
        return self._current_meta()

    # -- consolidated snapshot and the pinned output projection ----------------

    def _consolidated(self) -> DataFrame:
        """Net multiplicity per row INCLUDING net-zero rows (which
        ``consolidate`` drops but we keep — they tombstone the outputs
        of fully-retracted inputs)."""
        df = with_diff(self.input_sink.read_all(self.spark).drop("epoch"))
        return df.groupBy(*self._grain).agg(F.sum(DIFF).alias(DIFF))

    def _affected(self, keys: DataFrame) -> DataFrame:
        """The consolidated history of ``keys`` only, matched null-safely
        (a NULL key is a key). O(snapshot). The distributed lane reads
        it; the driver lane reads the same history with
        ``read_keys_local``."""
        hist = self._consolidated()
        keys = keys.toDF(*[f"__key_{c}" for c in self.key_cols])
        on = [hist[c].eqNullSafe(keys[f"__key_{c}"]) for c in self.key_cols]
        return hist.join(keys, on=on, how="left_semi")

    def _emit(self, df: DataFrame, meta: tuple) -> DataFrame:
        """Encode under the pinned projection (*key_cols, *value_cols,
        diff): the cascade paths encode _consolidated() (which has
        exactly these columns) while the insert-only paths encode the
        raw batch — without the select, output epochs would carry
        path-dependent extra columns (e.g. event_time) and
        read_current's schema would depend on which epoch's parquet
        footer Spark samples."""
        return self._encode(df.select(*self._grain, DIFF), meta)

    def _emit_rows(self, rows: list[tuple], schema: pa.Schema, meta: tuple):
        """Driver-lane twin of _emit: consolidate the rows (an
        insert-only epoch's own rows, or a retraction's touched-key
        history) on the grain and encode each net row, net-zero
        tombstones included, into a pa.Table of the pinned projection.
        The grain groups as Spark's groupBy does: NULLs form one group
        and NaNs form one group."""
        at = [schema.get_field_index(c) for c in self._grain]
        d_at = schema.get_field_index(DIFF)
        net: dict[tuple, int] = {}
        for r in rows:
            g = tuple(_NAN if r[j] != r[j] else r[j] for j in at)
            net[g] = net.get(g, 0) + r[d_at]
        k = len(self.key_cols)
        out = [(*g, d, self._encode_row(g[k:], meta)) for g, d in net.items()]
        fields = [schema.field(c) for c in (*self._grain, DIFF)]
        return _table(out, pa.schema([*fields, self._out_field]))

    def _write_state(self, epoch_id: int, state: DataFrame | None = None) -> None:
        """Commit the whole consolidated input (``state``, by default
        ``_consolidated()``) encoded under the current meta as the output
        of ``epoch_id``: the DD cascade, O(snapshot) as the reference's
        full re-transform, and the output of a replayed epoch. Dead keys
        get their <=0 net rows as tombstones (the upsert view drops
        them)."""
        meta = self._current_meta()
        if meta != self.last_meta:
            # set before the write: a replay of a cascade whose output
            # write failed does not count it twice
            self.full_reencodes += 1
            self.last_meta = meta
        if state is None:
            state = self._consolidated()
        self.output_sink.write_batch(self._emit(state, meta), epoch_id)

    def _fold_and_emit(self, ep: DataFrame, epoch_id: int) -> None:
        """Fold a committed input epoch and commit its output (O(batch)
        aggregate job + the output write)."""
        meta = self._fold_batch(ep)
        self._folded_epochs.add(epoch_id)
        insert_only = self._last_batch_insert_only
        if meta != self.last_meta:
            # first-ever epoch: the snapshot IS this batch — encode from
            # the in-memory cache instead of re-scanning the parquet
            # snapshot (saves a full input re-read at init, the
            # reference's dominant init phase)
            first = insert_only and self.input_sink.committed_epochs() == [epoch_id]
            self._write_state(epoch_id, consolidate(ep, self._grain) if first else None)
            return
        if insert_only:
            # inserts of (key, value) rows only touch their own keys;
            # their net state is the batch itself. O(batch).
            out = consolidate(ep, self._grain)
        else:
            # retraction-bearing batch with unchanged statistic: the
            # touched keys' net state needs the history
            out = self._affected(ep.select(*self.key_cols).dropDuplicates())
        self.output_sink.write_batch(self._emit(out, meta), epoch_id)

    # -- driver lane ------------------------------------------------------------

    def _process_small_epoch(
        self, rows: list[tuple], schema: pa.Schema, epoch_id: int
    ) -> None:
        """The reference's per-row-update shape (``src/main.rs:306-374``:
        single-row epochs at 1.45 ms in-process). A tiny delta, held as
        row tuples in ``schema`` order, needs no distributed jobs: input
        commit, statistic fold, the touched keys' history (for a
        retraction), consolidation, and (when the rounded statistic is
        unchanged) the output commit all happen driver-side — the
        exactly-once layout is identical. Only a statistic CHANGE (the
        DD cascade, O(snapshot) by design) goes distributed."""
        diff = pa.field(DIFF, pa.int64())
        if DIFF in schema.names:
            schema = schema.set(schema.get_field_index(DIFF), diff)
        else:
            schema = schema.append(diff)
            rows = [(*r, 1) for r in rows]
        table = _table(rows, schema)
        self.input_sink.write_batch_local(table, epoch_id)
        meta = self._fold_rows(rows, schema)
        self._folded_epochs.add(epoch_id)
        if meta != self.last_meta:
            self._write_state(epoch_id)
            return
        if not self._last_batch_insert_only:
            # the touched keys' net state needs their history: read it
            # from the committed input epochs, this one included
            hist = self.input_sink.read_keys_local(
                table.select(self.key_cols),
                pa.schema([schema.field(c) for c in (*self._grain, DIFF)]),
            )
            rows, schema = _rows(hist), hist.schema
        self.output_sink.write_batch_local(
            self._emit_rows(rows, schema, meta), epoch_id
        )

    # -- replay (the hooks of _DriverEpochs._replayed) ----------------------------

    def _fold_committed(self, epoch_id: int) -> None:
        """Same-process crash window BEFORE the statistic fold: the input
        epoch committed but this object's statistic never saw it (a
        restart re-folds it in _restore_from_sink). One pyarrow read of
        the epoch, folded as the driver lane folds its rows."""
        table = pq.read_table(
            self.input_sink.epoch_dir(epoch_id), columns=[*self.value_cols, DIFF]
        )
        self._fold_rows(_rows(table), table.schema)

    def _resync(self) -> None:
        # both epochs committed: last_meta is the meta of the committed
        # output, _current_meta(). Restore it if anything left it stale,
        # else the NEXT epoch's driver lane would encode new rows with a
        # meta older than the committed snapshot
        self.last_meta = self._current_meta()

    # -- entry points -----------------------------------------------------------

    def process_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body."""
        if self._replayed(epoch_id):
            return
        if SMALL_EPOCH_ROWS:
            rows = batch_df.limit(SMALL_EPOCH_ROWS + 1).collect()
            if len(rows) <= SMALL_EPOCH_ROWS:
                schema = to_arrow_schema(batch_df.schema)
                self._process_small_epoch(rows, schema, epoch_id)
                return
        batch_df = with_diff(batch_df).persist()
        try:
            self.input_sink.write_batch(batch_df, epoch_id)
            self._fold_and_emit(batch_df, epoch_id)  # O(batch), one aggregate job
        finally:
            batch_df.unpersist()

    def process_epoch_local(self, pdf, epoch_id: int) -> None:
        """Driver-local ingestion for callers that already hold the
        delta in-process as pandas (the reference's per-row shape) —
        skips ``process_epoch``'s size probe (``limit(n).collect()``),
        whose job launch dominates the single-row latency. Exactly-once
        layout, replay, and crash-window repair are identical to
        ``process_epoch``. The frame becomes a pa.Table once, here: a
        NaN in a numpy float column becomes NULL (as pyarrow would
        persist it), a NaN in a masked ``Float64`` column stays a NaN.
        Timestamp columns must be tz-aware UTC. Deltas larger than
        ``SMALL_EPOCH_ROWS`` go through ``process_epoch``."""
        if self._replayed(epoch_id):
            return
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        if not SMALL_EPOCH_ROWS or len(table) > SMALL_EPOCH_ROWS:
            self.process_epoch(self.spark.createDataFrame(table), epoch_id)
            return
        schema = table.schema.remove_metadata()
        self._process_small_epoch(_rows(table), schema, epoch_id)

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

    def _encode(self, df: DataFrame, meta: tuple) -> DataFrame:
        ((mean, var),) = meta
        return df.withColumn(
            self._out_field.name,
            standard_scale_expr(F.col(self.value_cols[0]), mean, var),
        )

    def _encode_row(self, values: tuple, meta: tuple):
        ((mean, var),) = meta
        return _scale(values[0], mean, var)


class IncrementalMultiScalerPipeline(_ScalerEpochs):
    """k StandardScalers maintained per-epoch with columnar assembly —
    the reference's headline experiment (``pipeline_3_diabetes.rs:12-60``:
    21 scalers with rounding (−2, −1) over the diabetes table, init at
    99.99% then per-row update epochs; paper Figure 3).

    Architectural differences from the reference, both deliberate:

    - the reference maintains one dataflow per encoder and assembles the
      feature vector through a left-deep chain of k−1 row-id joins (its
      paper names that chain the end-to-end bottleneck). Here ALL k
      statistics fold in ONE aggregate job per epoch (3k+1 signed partial
      sums in a single pass) and assembly is one ``F.array`` projection —
      zero joins at any k.
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

    def _encode(self, df: DataFrame, meta: tuple) -> DataFrame:
        # columnar assembly: one array projection, zero joins
        feats = F.array(
            *[
                standard_scale_expr(F.col(c), m, v)
                for c, (m, v) in zip(self.value_cols, meta)
            ]
        )
        return df.withColumn(self._out_field.name, feats)

    def _encode_row(self, values: tuple, meta: tuple) -> list:
        # a NULL value is a NULL element, as in the distributed F.array
        return [_scale(x, m, v) for x, (m, v) in zip(values, meta)]
