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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.operators.collection import DIFF, with_diff


def _exploded(df: DataFrame) -> DataFrame:
    df = with_diff(df)
    return df.select(
        "event_time",
        "source",
        F.explode(F.col("tokens")).alias("token"),
        DIFF,
    )


def tumbling_token_frequency(
    df: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    streaming: bool = True,
) -> DataFrame:
    """(window_start, token) -> net tf. Streaming: update-mode stateful
    agg; state is dropped once the watermark passes window end.

    The state layout is Spark's: a stateful operator takes its
    partition count from ``spark.sql.shuffle.partitions`` when its
    checkpoint is created, so a caller who wants N state partitions sets
    that conf before ``start()``. Results do not depend on the count."""
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
) -> DataFrame:
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
