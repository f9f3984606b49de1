"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set cluster-side: AQE on (runtime
skew-join + partition coalescing), shuffle partitions ≈ cores (not 200),
Arrow on for every pandas-UDF boundary, UTC so parquet timestamps compare
byte-identically against the DuckDB oracle.

Streaming state lives in Spark's HDFS-backed state store: a versioned
map per state partition on the JVM heap, written as one LZ4 delta file
per store per commit (snapshots move to background maintenance). It is
the default because the per-key work stays in the JVM. RocksDB crosses
JNI for every get, put and remove, and with row tracking on (Spark's
default, which keeps ``numRowsTotal``) each put and remove issues one
more native get. In traced ``stream-drain`` benchmark runs on a 4-core
host, the windowed agg (about 45k updated and 42k evicted keys per
epoch) spent about a third of RocksDB's state update and removal time
on the in-heap store. The price is on the join: format 2 commits four
stores per partition where RocksDB's format 3 commits one.

Opt into RocksDB with ``extra_conf={STATE_PROVIDER: ROCKSDB_PROVIDER}``
when state outgrows the driver and executor heaps: RocksDB keeps it off
heap and on local disk. Such a session commits only what a micro-batch
changed:

- changelog checkpointing: a commit appends the batch's changes to a
  changelog file instead of flushing the memtable and snapshotting every
  store (snapshots move to background maintenance). Resident state
  memory grows by the unflushed memtables. The setting is ignored by
  the HDFS-backed store.
- join state format 3: one RocksDB store per stream-stream join
  partition, with virtual column families, instead of format 2's four
  stores. It is derived from the provider: format 3 needs column
  families, which ``HDFSBackedStateStoreProvider`` lacks, so a session
  on that provider keeps Spark's default.

A checkpoint records its state provider and join format in its offset
log when it is created, so a query resumed from an older checkpoint
keeps both: a checkpoint created on RocksDB resumes on RocksDB.

Streaming checkpoints (offsets, commits and source logs, state-store
files) are written through ``FileSystemBasedCheckpointFileManager``
instead of Spark's default FileContext manager. Without Hadoop's native
library, ``FileContext.rename`` asks for the link status of both ends of
every temp-to-final rename, and ``RawLocalFileSystem`` answers each ask
by running ``readlink`` in a child process: for the file, its ``.crc``,
and a state file's checksum sidecar and the sidecar's ``.crc``. A JFR
``jdk.ProcessStart`` census of a ``stream-drain`` benchmark round (one
windowed-agg and one join epoch, 4 state partitions each) counted 176
such ``readlink`` starts per round; under this manager there are none.
The files and their checksums are the same. So is the commit on a local
filesystem: both managers refuse to overwrite an existing target by
checking that it is absent and then renaming, and a local rename is
atomic either way. ``extra_conf`` can set the FileContext manager back.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
JOIN_STATE_FORMAT = "spark.sql.streaming.join.stateFormatVersion"
CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "diffdataflowmlpipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # read per call: a caller may set the variable after importing this.
    # Unset, size to the CPUs this process may run on (what ``nproc``
    # reports), not to a fixed count that oversubscribes a small host.
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cores}]"
    sp = shuffle_partitions or cores
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
        # set explicitly: getOrCreate may return a session that an earlier
        # call moved to RocksDB
        .config(STATE_PROVIDER, HDFS_PROVIDER)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config(CHECKPOINT_FILE_MANAGER, FS_CHECKPOINT_FILE_MANAGER)
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
