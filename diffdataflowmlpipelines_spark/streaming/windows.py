"""Windowed incremental token-frequency aggregation — the engine's M1
spine (SURVEY.md §7.2).

The statistic is the reference CountVectorizer's fit
(``feature_extraction/count_vectorizer.rs:25-38``: token multiset counts,
signed by diff), maintained per event-time window with watermark-driven
frontier advancement (the Spark analogue of DD's progress tracking,
``src/main.rs:73,86``). Retractions (diff = -1) flow through the same
signed sum — per-key consolidation exactly as the reference's
collection-trace consolidation.

Each function returns a streaming-or-batch DataFrame transformation:
pass a streaming DF for the incremental engine, the full batch DF for
the recompute oracle — SAME code path, which is what the parity tests
assert epoch-by-epoch.
"""

from __future__ import annotations

import glob
import logging
import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.operators.collection import DIFF, with_diff

logger = logging.getLogger(__name__)


def _exploded(df: DataFrame) -> DataFrame:
    df = with_diff(df)
    return df.select(
        "event_time",
        "source",
        F.explode(F.col("tokens")).alias("token"),
        DIFF,
    )


def _file_stream_rows_per_batch(df: DataFrame) -> int:
    """Best-effort rows-per-micro-batch estimate for a file-source
    stream: when ``df`` is a plain ``readStream.parquet(dir)`` with
    ``maxFilesPerTrigger`` set, a micro-batch is that many files, so
    the parquet footers of the first files ARE the batch density. Any
    other shape (no trigger cap, non-parquet, multi-path, remote
    filesystem, wrapped/transformed frame, no files yet) raises
    LookupError naming the reason: the caller then leaves partitioning
    alone."""
    try:
        node = df._jdf.queryExecution().logical()
        plain = node.getClass().getSimpleName() == "UnresolvedDataSource"
        if plain:
            fmt = str(node.format()).lower()
            opt = node.options().get("maxfilespertrigger")
            n_files = None if opt.isEmpty() else int(opt.get())
            paths = node.paths()
            paths = [str(paths.apply(i)) for i in range(paths.size())]
    except (Py4JError, AttributeError) as e:  # Spark-internal plan API
        raise LookupError(f"the input plan could not be inspected ({e})") from e
    if not plain:
        raise LookupError("the input is not a plain readStream file source")
    if fmt != "parquet":
        raise LookupError(f"the source format is {fmt}, not parquet")
    if n_files is None:
        raise LookupError("maxFilesPerTrigger is not set")
    if len(paths) != 1:
        raise LookupError(f"the source reads {len(paths)} paths, not one")
    path = paths[0].removeprefix("file:")
    if not os.path.isdir(path):
        raise LookupError(f"{path} is not a local directory")
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))[:n_files]
    if not files:
        raise LookupError(f"{path} holds no parquet files yet")
    import pyarrow.parquet as pq

    try:
        rows = sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError) as e:
        raise LookupError(f"a parquet footer under {path} is unreadable ({e})") from e
    if not rows:
        raise LookupError(f"the first {len(files)} files under {path} hold no rows")
    return rows


def size_state_partitions(
    df: DataFrame, state_partitions: int | str | None
) -> None:
    """Bind the state-partition count for the NEXT ``start()`` on this
    session (guide §2: derive partitioning from input size, don't
    inherit a constant tuned for the core count).

    Stateful streaming operators use the strict stateful distribution:
    their partition count is EXACTLY ``spark.sql.shuffle.partitions``
    as captured at checkpoint creation — no plan-level hint or
    repartition can size it, so sizing means setting that conf before
    the query starts (precisely what the stream-join bench lane does
    via ``recommended_state_partitions``, the measured HDFS-provider
    cost model: per-partition commit overhead dominates below ~20k
    rows/partition/batch; SCALING.md join-tune matrices, and the r6
    windowed-agg A/B: 201k-row batches ran 3.6x faster at 8 state
    partitions than at 32 on identical input). ``state_partitions``:
    an int pins that count; "auto" derives rows/batch from the
    file-source footers (``_file_stream_rows_per_batch``) and applies
    the cost model, doing nothing but log one warning with the reason
    when the density is not derivable; None leaves the session
    untouched.

    SIDE EFFECT by necessity: mutates the session's
    ``spark.sql.shuffle.partitions``. Callers that interleave batch
    work should save/restore the conf around the streaming query
    (tests/conftest.py restores it per test)."""
    if state_partitions is None:
        return
    spark = df.sparkSession
    if isinstance(state_partitions, int):
        n = state_partitions
    else:
        from diffdataflowmlpipelines_spark.streaming.join import (
            recommended_state_partitions,
        )

        try:
            rows = _file_stream_rows_per_batch(df)
        except LookupError as e:
            logger.warning(
                "state_partitions='auto' left the state partitions unsized: %s", e
            )
            return
        n = recommended_state_partitions(
            rows,
            max_parallelism=spark.sparkContext.defaultParallelism,
            min_rows_per_partition=AGG_MIN_ROWS_PER_PARTITION,
        )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))


# The AGG's commit-vs-parallelism crossover sits ~5x higher than the
# stream-join's 20k (a windowed agg commits ONE state store per
# partition where a format-2 join commits four, and its per-row update
# work is lighter): the r6 matrices (HDFS provider) measured 2/4/8
# partitions equal-best at 200k-row batches (2.7-3.1 s vs 8.6 s at 32)
# and 4/8 best at 800k-row batches (5.7-6.2 s vs 16's 6.1-6.8 s and
# 32's 7.4-8.2 s) — both densities' optima track ~100k
# rows/partition/batch (SCALING.md "Windowed-agg state-partition
# sizing").
AGG_MIN_ROWS_PER_PARTITION = 100_000


def tumbling_token_frequency(
    df: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    streaming: bool = True,
    state_partitions: int | str | None = "auto",
) -> DataFrame:
    """(window_start, token) -> net tf. Streaming: update-mode stateful
    agg; state is dropped once the watermark passes window end.

    ``state_partitions`` sizes the stateful operator's state layout via
    :func:`size_state_partitions` (default "auto": derived from the
    file-source batch density, no-op when not derivable). Results are
    partition-count independent; only the per-batch commit overhead
    changes."""
    if streaming:
        size_state_partitions(df, state_partitions)
    ex = _exploded(df)
    if streaming:
        ex = ex.withWatermark("event_time", watermark)
    return (
        ex.groupBy(F.window("event_time", window).alias("w"), "token")
        .agg(F.sum(DIFF).alias("tf"))
        .select(F.col("w.start").alias("window_start"), "token", "tf")
    )


def sliding_token_frequency(
    df: DataFrame,
    window: str = "20 seconds",
    slide: str = "10 seconds",
    watermark: str = "30 seconds",
    streaming: bool = True,
    state_partitions: int | str | None = "auto",
) -> DataFrame:
    if streaming:
        size_state_partitions(df, state_partitions)
    ex = _exploded(df)
    if streaming:
        ex = ex.withWatermark("event_time", watermark)
    return (
        ex.groupBy(F.window("event_time", window, slide).alias("w"), "token")
        .agg(F.sum(DIFF).alias("tf"))
        .select(F.col("w.start").alias("window_start"), "token", "tf")
    )


def windowed_distinct_count(
    df: DataFrame,
    col: str,
    window: str = "60 seconds",
    watermark: str = "30 seconds",
    *,
    rsd: float = 0.05,
    streaming: bool = True,
) -> DataFrame:
    """Approximate distinct count per event-time window via HLL++
    (``approx_count_distinct``) — the only distinct-count that is
    incrementally maintainable in streaming state (exact distinct needs
    unbounded per-window sets). HLL register-merge is commutative and
    associative, so the streaming result is bit-identical to the batch
    run of the same expression (parity-tested), and within ``rsd``
    relative error of the exact count. Returns (window_start, n_distinct).
    """
    ex = df.select("event_time", F.col(col).alias("__v"))
    if streaming:
        ex = ex.withWatermark("event_time", watermark)
    return (
        ex.groupBy(F.window("event_time", window).alias("w"))
        .agg(F.approx_count_distinct("__v", rsd).alias("n_distinct"))
        .select(F.col("w.start").alias("window_start"), "n_distinct")
    )


def session_token_activity(
    df: DataFrame,
    gap: str = "15 seconds",
    watermark: str = "30 seconds",
    streaming: bool = True,
) -> DataFrame:
    """Per (doc_id, source) session: session bounds + token volume.

    Built-in ``session_window`` merges sessions in state but cannot
    retract an already-merged session (SURVEY.md §7.3), so sessionization
    consumes only insertions; retraction-bearing pipelines consolidate
    BEFORE sessionizing (diff > 0 net rows). Counts are DIFF-WEIGHTED:
    a consolidated net row with diff=2 is a twice-inserted event, so it
    contributes 2 to n_rows and 2*n_tok to n_tokens (plain count(*)
    would undercount exactly the consolidated inputs the docstring
    tells callers to feed; review r4d).
    """
    df = with_diff(df).filter(F.col(DIFF) > 0)
    if streaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(F.session_window("event_time", gap).alias("w"), "doc_id", "source")
        .agg(
            F.sum(DIFF).cast("long").alias("n_rows"),
            F.sum(F.col("n_tok") * F.col(DIFF)).cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "source",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_rows",
            "n_tokens",
        )
    )
