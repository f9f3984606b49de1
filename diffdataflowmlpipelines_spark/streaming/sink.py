"""Exactly-once sink keyed by (partition, epoch).

Spark's built-in file sinks are append-only; update-mode consolidation
needs upsert. In production this is an Iceberg MERGE / dynamic-partition
overwrite; this sandbox has no Iceberg jars, so the same contract is
implemented as a parquet-directory sink with an atomic-rename commit
protocol (the reference's only sink is stdout `inspect`,
``src/main.rs:59,71`` — exactly-once is part of the north rule, not the
reference).

Protocol per micro-batch (inside ``foreachBatch``):
  1. write the batch result to ``<root>/_staging/epoch=<id>.<attempt>``
  2. atomically rename to ``<root>/epoch=<id>`` — the commit point
  3. if ``epoch=<id>`` already exists (failure replay), step 2 is a
     no-op: idempotent under at-least-once delivery, hence exactly-once
     effect.

Reader semantics: for update-mode keyed output, the row for a key in the
HIGHEST committed epoch wins (later epochs supersede earlier ones);
``read_current`` resolves that with one window. Per-epoch lineage
(row counts per Spark partition, commit wall time) is recorded under
``_lineage/``.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the one NaN object every NaN key value maps to: a tuple compares its
# elements by identity first, so two NaN keys compare (and hash) equal
_NAN = float("nan")


def _key_tuples(table: pa.Table, cols: list[str]):
    """The (NaN-normalized) key tuple of each row of ``table``."""
    for t in zip(*(table[c].to_pylist() for c in cols)):
        yield tuple(_NAN if v != v else v for v in t)


def _table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    """Row tuples in ``schema`` order -> a pa.Table of that schema. None
    is NULL and a float NaN stays a NaN value. A naive datetime in a UTC
    timestamp field is read as UTC: ``collect()`` renders timestamps in
    the driver process's local zone, which the driver lanes assume is
    UTC."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _rows(table: pa.Table) -> list[tuple]:
    """The rows of ``table`` as tuples in its column order."""
    return list(zip(*(c.to_pylist() for c in table.columns)))


class ExactlyOnceParquetSink:
    """Each committed epoch gets a lineage record: its row count and its
    rows per Spark partition, read from the committed files' names and
    parquet footers, so lineage adds no Spark job to the epoch's write."""

    def __init__(self, root: str, key_cols: list[str]):
        self.root = root
        self.key_cols = list(key_cols)
        os.makedirs(os.path.join(root, "_staging"), exist_ok=True)
        os.makedirs(os.path.join(root, "_lineage"), exist_ok=True)

    # -- write side ---------------------------------------------------------

    def epoch_dir(self, epoch_id: int) -> str:
        return os.path.join(self.root, f"epoch={epoch_id}")

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_compacted.json")

    def _manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def is_committed(self, epoch_id: int) -> bool:
        if os.path.isdir(self.epoch_dir(epoch_id)):
            return True
        # a compacted epoch's directory is gone but its commit must
        # survive: the replay contract (drop re-delivered epochs) is
        # what makes the sink exactly-once
        m = self._manifest()
        return m is not None and epoch_id in set(m["epochs"])

    def write_batch(self, df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body. Safe to call again with the same epoch_id."""
        # the rename is the commit point, so the staging write leaves no
        # _SUCCESS marker: an epoch holds only its part files, the same
        # layout write_batch_local commits
        self._commit(
            epoch_id,
            lambda staging: df.write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(staging),
        )

    def write_batch_local(self, table: pa.Table, epoch_id: int) -> None:
        """Driver-local exactly-once commit of a table the driver holds:
        the same commit protocol, but the one part file is written
        in-process by pyarrow — zero Spark jobs. The driver-state
        pipelines commit every epoch so (the reference's per-row epochs,
        ``src/main.rs:306-374``, among them): the commit layout and
        readers are unchanged, so replay idempotence and read_current
        behave exactly as for Spark-written epochs.

        ``table``'s column order must match the Spark-written epochs.
        Timestamp columns must be tz-aware UTC: Spark-written epochs
        store isAdjustedToUTC micros, and a naive column would read back
        TIMESTAMP_NTZ and break the cross-epoch schema merge.
        """

        def write(staging: str) -> None:
            os.makedirs(staging)
            pq.write_table(
                table,
                os.path.join(staging, "part-00000.parquet"),
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )

        self._commit(epoch_id, write)

    def _commit(self, epoch_id: int, write) -> None:
        """The commit body of both writes: ``write(staging)`` fills a
        fresh staging directory and the atomic rename to ``epoch=<id>``
        is the commit point. A replay of a committed epoch writes only
        the lineage record, if a crash after the rename lost it."""
        if not self.is_committed(epoch_id):
            staging = os.path.join(
                self.root, "_staging", f"epoch={epoch_id}.{uuid.uuid4().hex[:8]}"
            )
            try:
                write(staging)
                os.rename(staging, self.epoch_dir(epoch_id))  # atomic commit
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                # a concurrent/replayed commit that won the rename is a
                # commit; anything else (a failed write, EACCES, EXDEV,
                # ...) is DATA LOSS if swallowed: the checkpoint would
                # advance past an epoch that was never committed
                if not self.is_committed(epoch_id):
                    raise
        self._write_lineage(epoch_id)

    def _write_lineage(self, epoch_id: int) -> None:
        """Record committed ``epoch_id`` unless its record exists: the row
        count and rows per Spark partition, read from the committed
        files' names and parquet footers so that lineage adds no Spark
        job, and ``local`` when pyarrow wrote the files in the driver."""
        path = os.path.join(self.root, "_lineage", f"epoch={epoch_id}.json")
        committed = self.epoch_dir(epoch_id)
        if os.path.exists(path) or not os.path.isdir(committed):
            return  # recorded, or compacted (its record outlives its files)
        record = {"epoch": epoch_id, "committed_at": time.time()}
        # each write task names its files part-<partition id>...
        partitions: dict[str, int] = {}
        for name in os.listdir(committed):
            if not name.endswith(".parquet"):
                continue
            meta = pq.read_metadata(os.path.join(committed, name))
            if meta.created_by.startswith("parquet-cpp"):
                record["local"] = True  # Spark's writer is parquet-mr
            if meta.num_rows:
                part = str(int(re.match(r"part-(\d+)", name).group(1)))
                partitions[part] = partitions.get(part, 0) + meta.num_rows
        record.update(rows=sum(partitions.values()), partitions=partitions)
        with open(path, "w") as f:
            json.dump(record, f)

    def foreach_batch(self):
        return lambda df, epoch_id: self.write_batch(df, epoch_id)

    # -- read side ------------------------------------------------------------

    def committed_epochs(self) -> list[int]:
        self._recover_compaction()
        dirs = set(self._live_epoch_dirs())
        m = self._manifest()
        if m is not None:
            dirs |= set(m["epochs"])
        return sorted(dirs)

    def _live_epoch_dirs(self) -> list[int]:
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.root)
            if d.startswith("epoch=")
        )

    # -- compaction ----------------------------------------------------------

    def compact(self, spark: SparkSession, up_to: int | None = None) -> int | None:
        """Fold every committed epoch <= ``up_to`` (default: all) into
        ONE snapshot directory at the highest folded epoch, preserving
        read_current semantics exactly (the snapshot holds the winning
        row per key, including net-0 tombstones, so later epochs and
        key filters behave unchanged). After compaction, ``read_all``
        reports the folded history at the snapshot epoch — per-epoch
        history is intentionally discarded; ``_lineage/`` keeps the
        audit record.

        Crash-safe with the sink's own discipline: the snapshot is
        staged, then a manifest write is the atomic commit point
        (watermark + the full list of folded epoch ids + a pending
        marker), then the folded directories are dropped and the
        staging dir renamed into place. A crash anywhere in the last
        step is finished by ``_recover_compaction`` on the next read —
        and ``is_committed`` answers from the manifest, so replayed
        deliveries of folded epochs are still dropped (the exactly-once
        contract survives its own garbage collection).

        Returns the snapshot epoch, or None if there is nothing to fold.
        """
        self._recover_compaction()
        live = self._live_epoch_dirs()
        fold = [e for e in live if up_to is None or e <= up_to]
        if len(fold) < 2:
            return None
        target = max(fold)
        snap = self._latest(
            spark.read.option("basePath", self.root).parquet(
                *[self.epoch_dir(e) for e in fold]
            )
        )
        staging = os.path.join(
            self.root, "_staging", f"compact.{uuid.uuid4().hex[:8]}"
        )
        snap.write.mode("overwrite").parquet(staging)
        prev = self._manifest()
        epochs = sorted(set(fold) | (set(prev["epochs"]) if prev else set()))
        manifest = {
            "watermark": target,
            "epochs": epochs,
            "pending": {"staging": staging, "target": target, "drop": fold},
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, self._manifest_path())  # atomic commit point
        self._finish_compaction(manifest)
        return target

    def _recover_compaction(self) -> None:
        m = self._manifest()
        if m is not None and "pending" in m:
            self._finish_compaction(m)

    def vacuum_staging(self) -> int:
        """Remove orphaned ``_staging`` entries left by crashed writes
        (a write that died before its atomic rename leaves its staging
        dir forever — harmless for correctness, but they accumulate).
        Safe between writes in the sink's single-driver model: the only
        staging entry that may be live across calls is a pending
        compaction snapshot, which is preserved. Returns the number of
        entries removed."""
        m = self._manifest()
        keep = (
            {os.path.basename(m["pending"]["staging"])}
            if m is not None and "pending" in m
            else set()
        )
        sdir = os.path.join(self.root, "_staging")
        removed = 0
        for name in os.listdir(sdir):
            if name not in keep:
                shutil.rmtree(os.path.join(sdir, name), ignore_errors=True)
                removed += 1
        return removed

    def _finish_compaction(self, manifest: dict) -> None:
        p = manifest["pending"]
        if os.path.isdir(p["staging"]):
            for e in p["drop"]:
                shutil.rmtree(self.epoch_dir(e), ignore_errors=True)
            os.rename(p["staging"], self.epoch_dir(p["target"]))
        # staging already renamed (crash after the move): just clear
        done = {k: v for k, v in manifest.items() if k != "pending"}
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(done, f)
        os.rename(tmp, self._manifest_path())

    def read_all(self, spark: SparkSession) -> DataFrame:
        """Every committed row, tagged with its epoch (compacted
        history appears folded at its snapshot epoch)."""
        self._recover_compaction()
        epochs = self._live_epoch_dirs()
        if not epochs:
            raise FileNotFoundError(f"no committed epochs under {self.root}")
        return (
            spark.read.option("basePath", self.root)
            .parquet(*[self.epoch_dir(e) for e in epochs])
        )

    def read_keys_local(self, keys: pa.Table | None, schema: pa.Schema) -> pa.Table:
        """Driver-local keyed read, zero Spark jobs: every committed row
        whose ``key_cols`` tuple is a row of ``keys`` (None: every
        committed row), projected and cast to ``schema``. It matches as
        a null-safe (``eqNullSafe``) left-semi join on ``key_cols``
        does: NULL matches NULL, as a NULL group is a group; a NaN key
        matches NaN and -0.0 matches 0.0.

        One pyarrow scan of the live epochs' part files pushes an
        ``isin`` per non-float key column down to the files. A float
        key column is matched in memory: pruning by parquet's min/max
        statistics, which leave NaN out, drops matching NaN and 0.0
        rows. More than one key column is then narrowed from the
        per-column cross product to the exact key tuples."""
        self._recover_compaction()
        files = [
            os.path.join(self.epoch_dir(e), name)
            for e in self._live_epoch_dirs()
            for name in sorted(os.listdir(self.epoch_dir(e)))
            if name.startswith("part-") and name.endswith(".parquet")
        ]
        if not files or (keys is not None and not len(keys)):
            return schema.empty_table()
        dataset = ds.dataset(files, schema=schema, format="parquet")
        if keys is None:
            return dataset.to_table()
        keys = keys.select(self.key_cols)
        floats = [c for c in self.key_cols if pa.types.is_floating(keys[c].type)]
        pushed = [
            pc.field(c).isin(pc.unique(keys[c]))
            for c in self.key_cols
            if c not in floats
        ]
        table = dataset.to_table(
            filter=functools.reduce(operator.and_, pushed) if pushed else None
        )
        for c in floats:
            # + 0.0 turns -0.0 into 0.0; is_in matches NaN with NaN and
            # NULL with NULL
            table = table.filter(
                pc.is_in(pc.add(table[c], 0.0), value_set=pc.add(keys[c], 0.0))
            )
        if len(self.key_cols) > 1:
            want = set(_key_tuples(keys, self.key_cols))
            table = table.filter(
                pa.array(
                    [t in want for t in _key_tuples(table, self.key_cols)],
                    pa.bool_(),
                )
            )
        return table

    def read_current(self, spark: SparkSession) -> DataFrame:
        """Latest value per key across committed epochs (upsert view)."""
        return self._latest(self.read_all(spark))

    def _latest(self, df: DataFrame) -> DataFrame:
        """The row of the highest epoch per key of epoch-tagged ``df``.

        Ties WITHIN an epoch are broken by net multiplicity descending
        when the payload carries a ``diff`` column: a value-update epoch
        (retract old value + insert new) emits BOTH a net-0 tombstone
        row and a net-positive row for the same key in the same epoch,
        and the live row must deterministically win over the tombstone.
        """
        order = [F.col("epoch").desc()]
        if "diff" in df.columns:
            order.append(F.col("diff").desc())
        w = Window.partitionBy(*self.key_cols).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "epoch")
        )

    def lineage(self) -> list[dict]:
        out = []
        ldir = os.path.join(self.root, "_lineage")
        # numeric epoch order (lexicographic puts epoch=10 before epoch=2)
        names = sorted(
            os.listdir(ldir),
            key=lambda n: int(n.split("=", 1)[1].split(".", 1)[0]),
        )
        for name in names:
            with open(os.path.join(ldir, name)) as f:
                out.append(json.load(f))
        return out


class _DriverEpochs:
    """The exactly-once epoch protocol of the driver-state pipelines (the
    incremental scalers, ``DriverVocabularyPipeline``): an epoch's rows
    commit to ``input_sink``, fold into driver-held state, and its output
    commits to ``output_sink``. Subclasses supply ``process_epoch`` and
    the hooks of the one replay triage ``_replayed``: ``_fold_committed``
    (fold a committed input epoch into the state, write nothing),
    ``_write_state`` (commit the output of the whole current state as an
    epoch's output) and optionally ``_resync`` (both epochs committed)."""

    def __init__(self, spark: SparkSession, workdir: str, input_keys, output_keys):
        self.spark = spark
        self.input_sink = ExactlyOnceParquetSink(f"{workdir}/input", input_keys)
        self.output_sink = ExactlyOnceParquetSink(f"{workdir}/output", output_keys)
        # epochs whose rows THIS object has folded (a restored prefix
        # counts as folded): a replay folds a committed epoch not in it
        self._folded_epochs: set[int] = set()

    @property
    def epochs(self) -> int:
        """The number of input epochs this object has folded."""
        return len(self._folded_epochs)

    def _replayed(self, epoch_id: int) -> bool:
        """Replay triage: True when the input of ``epoch_id`` is already
        committed, after bringing the driver state, the output of that
        epoch and both lineage records up to date. A missing output is
        the whole current state, correct for any epoch because an
        encoder's output is a function of its consolidated input and
        fitted statistic."""
        if not self.input_sink.is_committed(epoch_id):
            return False
        if epoch_id not in self._folded_epochs:
            self._fold_committed(epoch_id)
            self._folded_epochs.add(epoch_id)
        if not self.output_sink.is_committed(epoch_id):
            self._write_state(epoch_id)
        self._resync()
        # a record that a crash after the rename lost
        self.input_sink._write_lineage(epoch_id)
        self.output_sink._write_lineage(epoch_id)
        return True

    def _resync(self) -> None:
        pass

    def foreach_batch(self):
        return lambda df, eid: self.process_epoch(df, eid)
