"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set cluster-side: AQE on (runtime
skew-join + partition coalescing), shuffle partitions ≈ cores (not 200),
Arrow on for every pandas-UDF boundary, UTC so parquet timestamps compare
byte-identically against the DuckDB oracle.

Streaming state lives in RocksDB, set up so that a micro-batch commits
only what it changed:

- changelog checkpointing: a commit appends the batch's changes to a
  changelog file instead of flushing the memtable and snapshotting every
  store (snapshots move to background maintenance). Resident state
  memory grows by the unflushed memtables.
- join state format 3: one RocksDB store per stream-stream join
  partition, with virtual column families, instead of format 2's four
  stores. It is derived from the provider: format 3 needs column
  families, which ``HDFSBackedStateStoreProvider`` lacks, so a session
  on that provider keeps Spark's default. A checkpoint records its
  format when it is created, so queries resumed from older checkpoints
  keep theirs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
JOIN_STATE_FORMAT = "spark.sql.streaming.join.stateFormatVersion"


def get_spark(
    app_name: str = "diffdataflowmlpipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # streaming state store: RocksDB keeps per-key state off-heap so the
        # vocabulary / scaler state survives 100x key growth without GC churn
        .config(STATE_PROVIDER, ROCKSDB_PROVIDER)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if JOIN_STATE_FORMAT not in (extra_conf or {}):
        # getOrCreate may return an existing session whose provider this
        # call just changed: derive the format from the resolved provider
        if spark.conf.get(STATE_PROVIDER) == ROCKSDB_PROVIDER:
            spark.conf.set(JOIN_STATE_FORMAT, "3")
        else:
            spark.conf.unset(JOIN_STATE_FORMAT)
    spark.sparkContext.setLogLevel("WARN")
    return spark
