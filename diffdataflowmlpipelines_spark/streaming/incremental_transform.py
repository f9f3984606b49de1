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
             one aggregate job (none on the small-epoch lane)
           round; compare with the previous epoch's rounded statistic
           changed   -> re-encode the WHOLE snapshot (the DD cascade)
           unchanged -> encode only this batch's rows with current meta

Every output epoch carries exactly (*key_cols, *value_cols, diff) plus
the encoder's column, whichever lane wrote it.

The parity invariant (tested): at every epoch, the output sink equals
a from-scratch batch fit_transform over the consolidated input prefix —
the reference's incremental-update trace oracle (FIXTURES.md F3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.operators.collection import (
    DIFF,
    _obs_diff,
    consolidate,
    with_diff,
)
from diffdataflowmlpipelines_spark.operators.encoders import standard_scale_expr
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.stats import _round_to

_NAN_META = (float("nan"),) * 2


def _rows_to_pdf(rows, schema):
    """Collected Rows -> pandas frame with parquet-stable dtypes.
    Timestamps are localized to UTC (the session tz is pinned UTC) so
    pyarrow writes isAdjustedToUTC micros, matching Spark-written
    epochs. Floating columns are masked (Float64/Float32): a NULL is the
    mask and a NaN stays a value, so pyarrow writes each back as Spark
    held it (a numpy float column would turn both into null)."""
    import numpy as np
    import pandas as pd

    cols = {}
    for f in schema.fields:
        vals = [r[f.name] for r in rows]
        t = f.dataType.simpleString()
        if t in ("double", "float"):
            dtype = "float64" if t == "double" else "float32"
            x = np.array([np.nan if v is None else v for v in vals], dtype=dtype)
            mask = np.array([v is None for v in vals], dtype=bool)
            vals = pd.arrays.FloatingArray(x, mask)
        cols[f.name] = vals
    pdf = pd.DataFrame(cols)
    for f in schema.fields:
        t = f.dataType.simpleString()
        if t == "timestamp":
            pdf[f.name] = pd.to_datetime(pdf[f.name]).dt.tz_localize("UTC")
        elif t in ("bigint", "int"):
            # nullable pandas dtypes: a NULL int cell must not crash the
            # fast path (plain astype('int64') raises on None) and must
            # round-trip through parquet as a typed null like
            # Spark-written epochs do
            pdf[f.name] = pdf[f.name].astype("Int64" if t == "bigint" else "Int32")
        elif t == "string":
            # an empty/all-null object column would be INFERRED by
            # pyarrow (as double/null), writing a conflicting parquet
            # schema into the epoch directory — pin it
            pdf[f.name] = pdf[f.name].astype("string")
    return pdf


def _is_null(v, pdf, c) -> bool:
    """Whether the value ``v`` read from column ``c`` of a driver-side
    frame is NULL: the mask of a nullable column, or a NaN in a numpy
    float column (pyarrow persists that NaN as null, so the committed
    input holds a null there). A NaN in a masked column is a value."""
    import numpy as np
    import pandas as pd

    return v is None or v is pd.NA or (v != v and isinstance(pdf[c].dtype, np.dtype))


def _feature_series(lists, index):
    """list-of-lists -> arrow-backed pandas column that PRESERVES the
    IEEE NaN elements through to_parquet: the default pandas->arrow
    conversion of an object list column runs with from_pandas
    semantics, silently collapsing every NaN ELEMENT to NULL (found
    by the zero-variance regression test — the distributed F.array
    epochs carried NaN where the driver-local epochs carried NULL)."""
    import pandas as pd
    import pyarrow as pa

    arr = pa.array(lists, type=pa.list_(pa.float64()), from_pandas=False)
    return pd.Series(pd.arrays.ArrowExtensionArray(arr), index=index)


class _ScalerEpochs:
    """The exactly-once epoch protocol of the incremental scalers: one
    (mean, var) statistic per column of ``value_cols``, rounded by
    ``round_to`` (the reference's update suppression).

    Subclasses supply only the encoder: ``_encode`` (distributed) and
    its driver-local twin ``_encode_pdf``. Both receive a frame already
    projected to (*key_cols, *value_cols, diff) and a meta tuple of one
    (mean, var) per value column, and return the frame with the encoded
    column added (``_encode_pdf`` may add it in place: it gets a copy).
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        key_cols: list[str],
        value_cols: list[str],
        round_to: tuple[int, int] | None = None,
        small_epoch_rows: int = 64,
    ):
        self.spark = spark
        self.key_cols = list(key_cols)
        self.value_cols = list(value_cols)
        # the consolidation grain, and (with diff) the pinned output
        # projection every lane encodes
        self._grain = [*self.key_cols, *self.value_cols]
        self.round_to = round_to
        # epochs at or under this row count take the driver-local fast
        # path: ONE Spark job (the collect probe) + pyarrow commits,
        # instead of 3-4 distributed jobs. 0 disables.
        self.small_epoch_rows = small_epoch_rows
        self.input_sink = ExactlyOnceParquetSink(f"{workdir}/input", key_cols)
        self.output_sink = ExactlyOnceParquetSink(f"{workdir}/output", key_cols)
        self.last_meta: tuple | None = None
        self.full_reencodes = 0
        self.epochs = 0
        # running abelian statistic (n, NaN count, sum, sumsq) per
        # column — DD's incremental aggregate: each epoch folds in the
        # BATCH's partial sums, so a single-row update costs O(batch),
        # not O(snapshot)
        k = len(self.value_cols)
        self._n, self._nan = [0] * k, [0] * k
        self._s1, self._s2 = [0.0] * k, [0.0] * k
        # epochs whose partial sums THIS object has folded (restored
        # prefix counts as folded): distinguishes the two crash windows
        # on replay — before the fold (re-fold it) vs after (repair the
        # missing output only)
        self._folded_epochs: set[int] = set()
        self._restore_from_sink()

    # -- statistic ------------------------------------------------------------

    def _sum_exprs(self) -> list:
        # per-column observation counts under the batch StandardScaler's
        # rule (operators/collection._obs_diff): a NULL is not an
        # observation, a NaN is one and makes the mean NaN. The NaNs are
        # counted apart and kept out of s1/s2, which a NaN would poison
        # for good (a retraction cannot subtract it back out).
        exprs = [F.min(F.col(DIFF)).alias("min_diff")]
        for i, c in enumerate(self.value_cols):
            x = F.col(c).cast("double")
            nan_diff = F.when(F.isnan(x), F.col(DIFF)).otherwise(F.lit(0))
            finite = F.when(~F.isnan(x), x)
            exprs.append(F.sum(_obs_diff(x)).alias(f"n_{i}"))
            exprs.append(F.sum(nan_diff).alias(f"nan_{i}"))
            exprs.append(F.sum(finite * F.col(DIFF)).alias(f"s1_{i}"))
            exprs.append(F.sum(finite * finite * F.col(DIFF)).alias(f"s2_{i}"))
        return exprs

    def _sums(self, df: DataFrame) -> tuple:
        """ONE aggregate job over a signed frame, all k columns at once:
        (min diff, n list, NaN-count list, s1 list, s2 list)."""
        row = with_diff(df).agg(*self._sum_exprs()).first()
        k = range(len(self.value_cols))
        return (
            row["min_diff"],
            [int(row[f"n_{i}"] or 0) for i in k],
            [int(row[f"nan_{i}"] or 0) for i in k],
            [float(row[f"s1_{i}"] or 0.0) for i in k],
            [float(row[f"s2_{i}"] or 0.0) for i in k],
        )

    def _meta(self, n, nan, s1, s2) -> tuple:
        """Rounded (mean, var) per column; NaN for a column without
        finite observations or with a live NaN. Every NaN meta is the
        same tuple object, so an unchanged NaN statistic compares equal
        and triggers no re-encode."""
        metas = []
        for ni, ki, a, b in zip(n, nan, s1, s2):
            finite = ni - ki
            if ki > 0 or finite <= 0:
                metas.append(_NAN_META)
                continue
            mean = a / finite
            var = b / finite - mean * mean
            if self.round_to:
                mean = _round_to(mean, self.round_to[0])
                var = _round_to(var, self.round_to[1])
            metas.append((mean, var))
        return tuple(metas)

    def _current_meta(self) -> tuple:
        return self._meta(self._n, self._nan, self._s1, self._s2)

    def _restore_from_sink(self) -> None:
        """Driver-restart recovery: the running statistic lives in driver
        memory, so after a restart ``process_epoch`` would skip committed
        epochs without folding them. Rebuild the sums and last_meta
        from the committed input prefix (one aggregate job, once)."""
        committed = self.input_sink.committed_epochs()
        self._folded_epochs = set(committed)
        if not committed:
            return
        _, self._n, self._nan, self._s1, self._s2 = self._sums(
            self.input_sink.read_all(self.spark)
        )
        self.epochs = len(committed)
        self.last_meta = self._current_meta()

    def _fold_batch(self, batch_df: DataFrame) -> tuple:
        """Fold the batch's signed partial sums into the running
        statistic and return the current (rounded) meta. n counts
        OBSERVATIONS (see _sum_exprs)."""
        min_diff, n, nan, s1, s2 = self._sums(batch_df)
        self._last_batch_insert_only = (min_diff or 1) > 0
        self._n = [a + b for a, b in zip(self._n, n)]
        self._nan = [a + b for a, b in zip(self._nan, nan)]
        self._s1 = [a + b for a, b in zip(self._s1, s1)]
        self._s2 = [a + b for a, b in zip(self._s2, s2)]
        return self._current_meta()

    def _fold_pdf(self, pdf) -> tuple:
        """Driver-side twin of _fold_batch: fold the tiny batch's signed
        partial sums without a Spark job (same observation rule; see
        _is_null for which driver-side cells are NULL)."""
        import numpy as np

        if len(pdf) == 1:
            # scalar lane for the per-row-update hot path: the pandas
            # filter/astype/sum chain below costs ~2-3 ms per column per
            # call, most of the remaining gap to the reference's
            # in-process number
            row = pdf.iloc[0]
            d = int(row[DIFF])
            self._last_batch_insert_only = d > 0
            for i, c in enumerate(self.value_cols):
                v = row[c]
                if _is_null(v, pdf, c):
                    continue
                x = float(v)
                self._n[i] += d
                if x != x:
                    self._nan[i] += d
                    continue
                self._s1[i] += x * d
                self._s2[i] += x * x * d
            return self._current_meta()
        self._last_batch_insert_only = len(pdf) == 0 or int(pdf[DIFF].min()) > 0
        for i, c in enumerate(self.value_cols):
            # notna: a numpy float column's NaN is NULL, a masked
            # column's NaN is a value (see _is_null)
            obs = pdf[pdf[c].notna()]
            x = obs[c].to_numpy(dtype="float64", na_value=np.nan)
            d = obs[DIFF].to_numpy(dtype="float64")
            nan = np.isnan(x)
            self._n[i] += int(obs[DIFF].sum())
            self._nan[i] += int(d[nan].sum())
            x, d = x[~nan], d[~nan]
            self._s1[i] += float((x * d).sum())
            self._s2[i] += float((x * x * d).sum())
        return self._current_meta()

    # -- consolidated snapshot and the pinned output projection ----------------

    def _consolidated(self) -> DataFrame:
        """Net multiplicity per row INCLUDING net-zero rows (which
        ``consolidate`` drops but we keep — they tombstone the outputs
        of fully-retracted inputs)."""
        df = with_diff(self.input_sink.read_all(self.spark).drop("epoch"))
        return df.groupBy(*self._grain).agg(F.sum(DIFF).alias(DIFF))

    def _affected(self, keys: DataFrame) -> DataFrame:
        """The consolidated history of ``keys`` only. O(snapshot)."""
        return self._consolidated().join(keys, on=self.key_cols, how="left_semi")

    def _emit(self, df: DataFrame, meta: tuple) -> DataFrame:
        """Encode under the pinned projection (*key_cols, *value_cols,
        diff): the cascade paths encode _consolidated() (which has
        exactly these columns) while the insert-only paths encode the
        raw batch — without the select, output epochs would carry
        path-dependent extra columns (e.g. event_time) and
        read_current's schema would depend on which epoch's parquet
        footer Spark samples."""
        return self._encode(df.select(*self._grain, DIFF), meta)

    def _emit_pdf(self, pdf, meta: tuple):
        """Driver-side twin of _emit. ``take`` copies the projected
        columns at a fraction of ``pdf[cols].copy()``'s cost on the
        one-row frames of the per-row-update hot path."""
        cols = [pdf.columns.get_loc(c) for c in (*self._grain, DIFF)]
        return self._encode_pdf(pdf.take(cols, axis=1), meta)

    def _epoch_output(
        self,
        ep: DataFrame,
        epoch_id: int,
        meta: tuple,
        prev: tuple | None,
        insert_only: bool,
    ) -> DataFrame:
        """Output rows of the committed, folded input epoch ``ep``, given
        the meta before it (``prev``) and after it (``meta``)."""
        if meta != prev:
            # DD cascade: statistic changed -> every live output row is
            # re-emitted; dead keys get their <=0 net rows as tombstones
            # (the upsert view drops them). O(snapshot) — by design, as
            # in the reference's full re-transform on meta change.
            self.full_reencodes += 1
            if insert_only and self.input_sink.committed_epochs() == [epoch_id]:
                # first-ever epoch: the snapshot IS this batch — encode
                # from the in-memory cache instead of re-scanning the
                # parquet snapshot (saves a full input re-read at init,
                # the reference's dominant init phase)
                return self._emit(consolidate(ep, self._grain), meta)
            return self._emit(self._consolidated(), meta)
        if insert_only:
            # inserts of (key, value) rows only touch their own keys;
            # their net state is the batch itself. O(batch).
            return self._emit(consolidate(ep, self._grain), meta)
        # retraction-bearing batch with unchanged statistic: the touched
        # keys' net state needs the history
        keys = ep.select(*self.key_cols).dropDuplicates()
        return self._emit(self._affected(keys), meta)

    def _fold_and_emit(self, ep: DataFrame, epoch_id: int) -> None:
        """Fold a committed input epoch and commit its output (O(batch)
        aggregate job + the output write)."""
        meta = self._fold_batch(ep)
        self._folded_epochs.add(epoch_id)
        out = self._epoch_output(
            ep, epoch_id, meta, self.last_meta, self._last_batch_insert_only
        )
        self.output_sink.write_batch(out, epoch_id)
        self.last_meta = meta

    # -- small-epoch fast path --------------------------------------------------

    def _process_small_epoch(self, pdf, epoch_id: int) -> None:
        """The reference's per-row-update shape (``src/main.rs:306-374``:
        single-row epochs at 1.45 ms in-process). A tiny delta needs no
        distributed jobs: input commit, statistic fold, consolidation,
        and (when the rounded statistic is unchanged) the output commit
        all happen driver-side — the exactly-once layout is identical.
        Only a statistic CHANGE (the DD cascade, O(snapshot) by design)
        or a retraction-bearing batch (needs key history) goes
        distributed."""
        if DIFF not in pdf.columns:
            pdf[DIFF] = 1
        pdf[DIFF] = pdf[DIFF].astype("int64")
        self.input_sink.write_batch_local(pdf, epoch_id)
        self.epochs += 1
        meta = self._fold_pdf(pdf)
        self._folded_epochs.add(epoch_id)
        if meta != self.last_meta:
            out = self._emit(self._consolidated(), meta)
            self.output_sink.write_batch(out, epoch_id)
            self.full_reencodes += 1
        elif self._last_batch_insert_only:
            if len(pdf) == 1:
                # a single insert row IS its own net (no group to merge)
                net = pdf
            else:
                # dropna=False: Spark's groupBy keeps null keys; pandas'
                # default silently drops the whole null-bearing row
                net = pdf.groupby(
                    self._grain, as_index=False, sort=False, dropna=False
                )[DIFF].sum()
                net = net[net[DIFF] != 0]
            self.output_sink.write_batch_local(self._emit_pdf(net, meta), epoch_id)
        else:
            keys = self.spark.createDataFrame(pdf[self.key_cols].drop_duplicates())
            out = self._emit(self._affected(keys), meta)
            self.output_sink.write_batch(out, epoch_id)
        self.last_meta = meta

    # -- replay -----------------------------------------------------------------

    def _replayed(self, epoch_id: int) -> bool:
        """Replay triage: True when the input of ``epoch_id`` is already
        committed, after bringing the statistic and the output of that
        epoch up to date."""
        if not self.input_sink.is_committed(epoch_id):
            return False
        if epoch_id not in self._folded_epochs:
            self._replay_unfolded(epoch_id)
        elif not self.output_sink.is_committed(epoch_id):
            self._repair_output(epoch_id)
        else:
            # both committed: the only same-process replay that lands
            # here with stale driver state is a crash between the
            # output rename and the last_meta assignment (e.g. the
            # lineage write threw). Post-fold, last_meta ==
            # _current_meta() invariantly, so restore it — else the
            # NEXT epoch's fast path could encode new rows with a meta
            # older than the committed snapshot.
            self.last_meta = self._current_meta()
        return True

    def _replay_unfolded(self, epoch_id: int) -> None:
        """Same-process crash window BEFORE the statistic fold: the
        input epoch committed but this object's statistic never saw it
        (a restart would re-fold it via _restore_from_sink, but a
        replay on the same long-lived object must fold it here — the
        old repair path assumed the fold had happened and silently
        corrupted every later statistic)."""
        ep = with_diff(
            self.spark.read.parquet(self.input_sink.epoch_dir(epoch_id))
        ).persist()
        try:
            self.epochs = len(self.input_sink.committed_epochs())
            self._fold_and_emit(ep, epoch_id)
        finally:
            ep.unpersist()

    def _repair_output(self, epoch_id: int) -> None:
        """Crash-window repair: the input epoch committed AND was folded
        into the statistic, but the output didn't commit. Cascade-vs-
        affected is re-decided by recomputing the PRE-epoch meta from
        the input history EXCLUDING this epoch — an exact recomputation,
        not a float subtraction (a-b+b != a can misclassify the branch
        when round_to is None)."""
        ep = with_diff(self.spark.read.parquet(self.input_sink.epoch_dir(epoch_id)))
        history = (
            self.input_sink.read_all(self.spark)
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )
        meta_before = self._meta(*self._sums(history)[1:])
        meta = self._current_meta()
        # the affected-keys re-encode is correct for any batch shape
        out = self._epoch_output(ep, epoch_id, meta, meta_before, insert_only=False)
        self.output_sink.write_batch(out, epoch_id)
        # the crash skipped the post-output assignment: a stale last_meta
        # would let the NEXT epoch encode new rows with a different meta
        # than the rows just emitted
        self.last_meta = meta

    # -- entry points -----------------------------------------------------------

    def process_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body."""
        if self._replayed(epoch_id):
            return
        if self.small_epoch_rows:
            rows = batch_df.limit(self.small_epoch_rows + 1).collect()
            if len(rows) <= self.small_epoch_rows:
                self._process_small_epoch(_rows_to_pdf(rows, batch_df.schema), epoch_id)
                return
        batch_df = with_diff(batch_df).persist()
        try:
            self.input_sink.write_batch(batch_df, epoch_id)
            self.epochs += 1
            self._fold_and_emit(batch_df, epoch_id)  # O(batch), one aggregate job
        finally:
            batch_df.unpersist()

    def process_epoch_local(self, pdf, epoch_id: int) -> None:
        """Driver-local ingestion for callers that already hold the
        delta in-process as pandas (the reference's per-row shape) —
        skips ``process_epoch``'s size probe (``limit(n).collect()``),
        whose job launch alone costs ~30 ms on local[32] and dominates
        the single-row latency. Exactly-once layout, replay, and
        crash-window repair are identical to ``process_epoch``. The pdf
        must carry parquet-stable dtypes (what ``_rows_to_pdf`` pins);
        deltas larger than ``small_epoch_rows`` are routed through the
        distributed path via ``createDataFrame``."""
        if self._replayed(epoch_id):
            return
        if self.small_epoch_rows and len(pdf) <= self.small_epoch_rows:
            self._process_small_epoch(pdf.copy(), epoch_id)
            return
        self.process_epoch(self.spark.createDataFrame(pdf), epoch_id)

    def foreach_batch(self):
        return lambda df, eid: self.process_epoch(df, eid)

    def current_output(self) -> DataFrame:
        """Live outputs: latest row per key, tombstones dropped."""
        cur = self.output_sink.read_current(self.spark)
        return cur.filter(F.col(DIFF) > 0).drop(DIFF)


class IncrementalScalerPipeline(_ScalerEpochs):
    """StandardScaler fit+transform maintained across epochs — the k=1
    case of the epoch protocol.

    Rows are keyed by ``key_cols``; ``value_col`` is scaled by the
    reference formula (x - mean)/variance into ``scaled``. ``round_to``
    enables the reference's update suppression.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        key_cols: list[str],
        value_col: str,
        round_to: tuple[int, int] | None = None,
        small_epoch_rows: int = 64,
    ):
        super().__init__(
            spark, workdir, key_cols, [value_col], round_to, small_epoch_rows
        )

    def _encode(self, df: DataFrame, meta: tuple) -> DataFrame:
        ((mean, var),) = meta
        return df.withColumn(
            "scaled", standard_scale_expr(F.col(self.value_cols[0]), mean, var)
        )

    def _encode_pdf(self, pdf, meta):
        """Driver-side twin of _encode over a consolidated tiny batch.
        Nullable Float64 arithmetic: a NULL value must encode to a
        parquet NULL like the distributed path (plain float64 would
        write NaN instead), while a COMPUTED NaN (zero-variance IEEE
        0/0, standard_scale_expr's x == mean case) must stay a NaN
        VALUE — Float64 arithmetic keeps it (mask stays False) but
        pd.array construction would collapse it to NULL, hence the
        FloatingArray in the scalar lane. A NaN INPUT in a masked column
        (what _rows_to_pdf builds) encodes to NaN, as on the distributed
        path; _is_null says which cells are NULL."""
        import numpy as np
        import pandas as pd

        ((mean, var),) = meta
        c = self.value_cols[0]
        if len(pdf) == 1:
            # scalar lane: one-row Float64 Series construction dominates
            # the single-row re-encode
            v = pdf[c].iloc[0]
            if _is_null(v, pdf, c):
                pdf["scaled"] = pd.array([None], dtype="Float64")
            else:
                with np.errstate(divide="ignore", invalid="ignore"):
                    rv = float(
                        (np.float64(v) - np.float64(mean)) / np.float64(var)
                    )
                pdf["scaled"] = pd.arrays.FloatingArray(
                    np.array([rv], dtype="float64"), np.array([False])
                )
            return pdf
        with np.errstate(divide="ignore", invalid="ignore"):
            pdf["scaled"] = (pdf[c].astype("Float64") - mean) / var
        return pdf


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

    def _encode(self, df: DataFrame, meta: tuple) -> DataFrame:
        # columnar assembly: one array projection, zero joins
        feats = F.array(
            *[
                standard_scale_expr(F.col(c), m, v)
                for c, (m, v) in zip(self.value_cols, meta)
            ]
        )
        return df.withColumn("features", feats)

    def _encode_pdf(self, pdf, meta):
        """Driver-side twin of _encode. A NULL value yields a NULL array
        element (the distributed F.array does the same); a COMPUTED NaN
        (IEEE 0/0 at x == mean under zero variance) stays a NaN element
        (see _feature_series)."""
        import numpy as np
        import pandas as pd

        if len(pdf) == 1:
            # scalar lane (the single-row-update hot path): the k-column
            # Float64-Series chain below costs ~0.3 ms x k per call —
            # ~6 ms of the 21-column fold-only lane. numpy scalar
            # division mirrors the Series semantics on zero variance
            # (inf / nan, never ZeroDivisionError).
            row, feats = pdf.iloc[0], []
            with np.errstate(divide="ignore", invalid="ignore"):
                for c, (m, v) in zip(self.value_cols, meta):
                    x = row[c]
                    if _is_null(x, pdf, c):
                        feats.append(None)
                        continue
                    feats.append(
                        float((np.float64(x) - np.float64(m)) / np.float64(v))
                    )
            pdf["features"] = _feature_series([feats], pdf.index)
            return pdf

        with np.errstate(divide="ignore", invalid="ignore"):
            scaled_cols = [
                (pdf[c].astype("Float64") - m) / v
                for c, (m, v) in zip(self.value_cols, meta)
            ]
        # values + mask extraction: Float64 keeps a computed NaN as a
        # value (isna False), so NULL elements come from the MASK only —
        # tolist()+pd.isna would collapse IEEE NaN to NULL
        vals = [s.to_numpy(dtype="float64", na_value=np.nan) for s in scaled_cols]
        masks = [s.isna().to_numpy() for s in scaled_cols]
        pdf["features"] = _feature_series(
            [
                [None if mask[i] else float(val[i]) for val, mask in zip(vals, masks)]
                for i in range(len(pdf))
            ],
            pdf.index,
        )
        return pdf
