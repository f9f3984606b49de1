"""Epoch-controlled streaming sources for tests and benchmarks.

The reference drives its dataflows epoch-by-epoch with
``InputSession::insert / advance_to / flush`` (``src/main.rs:75-98``).
The Spark analogue: each micro-batch is one epoch. For deterministic
tests we pre-split the input into one parquet file per intended epoch
and read it as a file stream with ``maxFilesPerTrigger=1`` — each
trigger consumes exactly one file, so batchId == epoch index and
``processAllAvailable()`` is the reference's ``step_while`` (P12).

In production the same DataFrame code runs off Kafka / an Iceberg
rate-limited snapshot stream; only this source module changes.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _to_parquet(pdf: pd.DataFrame, path: str) -> None:
    # Spark's streaming parquet reader rejects pandas' default INT64
    # nanosecond timestamps; coerce to micros.
    pdf.to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )


def _publish(pdf: pd.DataFrame, path: str, after_ms: int | None) -> int:
    """Write ``pdf`` to ``path`` so that a file-stream source reading
    the directory sees the file whole and in order; returns its
    modification time in ms.

    - Whole: Spark's file stream source ignores hidden files, so the
      file is written under a dot-prefixed temp name and appears
      atomically on rename. A plain "<name>.tmp" IS listed and can be
      recorded mid-write (FileNotFound at task time once renamed, or a
      torn read).
    - In order: the source takes new files oldest first by modification
      time in ms and breaks ties by directory listing order, which is
      not name order. Two epochs written within one millisecond could
      be read out of order, so a modification time not later than
      ``after_ms`` is moved to ``after_ms + 1``."""
    directory, name = os.path.split(path)
    tmp = os.path.join(directory, f".{name}.tmp")
    _to_parquet(pdf, tmp)
    ms = os.stat(tmp).st_mtime_ns // 1_000_000
    if after_ms is not None and ms <= after_ms:
        ms = after_ms + 1
        os.utime(tmp, ns=(ms * 1_000_000, ms * 1_000_000))
    os.rename(tmp, path)
    return ms


def write_epoch_files(
    pdf: pd.DataFrame, directory: str, n_epochs: int, sort_col: str | None = "event_time"
) -> list[str]:
    """Split a pandas frame into n_epochs parquet files (contiguous
    slices in sort_col order — mirrors arrival order of the stream)."""
    os.makedirs(directory, exist_ok=True)
    if sort_col is not None:
        pdf = pdf.sort_values(sort_col, kind="stable").reset_index(drop=True)
    n = len(pdf)
    paths = []
    ms = None
    for i in range(n_epochs):
        lo, hi = (n * i) // n_epochs, (n * (i + 1)) // n_epochs
        paths.append(os.path.join(directory, f"epoch-{i:05d}.parquet"))
        ms = _publish(pdf.iloc[lo:hi], paths[-1], ms)
    return paths


class EpochFileSource:
    """File-per-epoch streaming source with incremental file drops."""

    def __init__(self, spark: SparkSession, directory: str, schema: T.StructType):
        self.spark = spark
        self.directory = directory
        self.schema = schema
        os.makedirs(directory, exist_ok=True)
        # resume numbering after any pre-existing epoch files — starting
        # at 0 would silently OVERWRITE epoch-00000 (whose old content a
        # running file-stream source has already recorded and will never
        # re-read)
        existing = [
            int(n[len("epoch-"):].split(".", 1)[0])
            for n in os.listdir(directory)
            if n.startswith("epoch-") and n.endswith(".parquet")
        ]
        self._next = max(existing) + 1 if existing else 0
        self._last_ms: int | None = None

    def add_epoch(self, pdf: pd.DataFrame) -> str:
        path = os.path.join(self.directory, f"epoch-{self._next:05d}.parquet")
        self._last_ms = _publish(pdf, path, self._last_ms)
        self._next += 1
        return path

    def stream(self, files_per_trigger: int = 1) -> DataFrame:
        return (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(self.directory)
        )
