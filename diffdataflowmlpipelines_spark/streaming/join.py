"""Stateful stream-stream join on (doc_id, source) with watermarks —
the north-rule join. Every DD join in the reference is a continuously
maintained stream x stream join (e.g.
``src/feature_encoders/multi_column_encoder.rs:32-35``); Spark's
watermarked stream-stream equi-join with a time-range condition is the
bounded-state analogue: state for a side is dropped once the watermark
passes its join-window.

The same function handles the batch recompute oracle (streaming=False),
which the parity tests compare against epoch outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_join(
    tokens: DataFrame,
    labels: DataFrame,
    *,
    watermark: str = "30 seconds",
    tolerance_s: int = 10,
    streaming: bool = True,
) -> DataFrame:
    """tokens (doc_id, tokens, n_tok, source, event_time[, diff]) INNER
    JOIN labels (doc_id, source, label, event_time) where the label
    arrives within +-tolerance_s of the token row. Output keeps both
    event times; diff (if present) passes through — a retracted token
    row's join outputs are retracted downstream by the same diff.
    """
    t = tokens.withWatermark("event_time", watermark) if streaming else tokens
    l = labels.withWatermark("event_time", watermark) if streaming else labels
    l2 = l.select(
        F.col("doc_id").alias("l_doc_id"),
        F.col("source").alias("l_source"),
        "label",
        F.col("event_time").alias("label_time"),
    )
    cond = (
        (t["doc_id"] == l2["l_doc_id"])
        & (t["source"] == l2["l_source"])
        & (l2["label_time"] >= t["event_time"] - F.expr(f"INTERVAL {tolerance_s} SECONDS"))
        & (l2["label_time"] <= t["event_time"] + F.expr(f"INTERVAL {tolerance_s} SECONDS"))
    )
    out_cols = ["doc_id", "source", "tokens", "n_tok", "event_time", "label", "label_time"]
    if "diff" in tokens.columns:
        out_cols.append("diff")
    return t.join(l2, cond, "inner").select(*out_cols)


def salted_label_join(
    tokens: DataFrame,
    labels: DataFrame,
    hot_keys: list[str],
    *,
    n_salts: int = 8,
    watermark: str = "30 seconds",
    tolerance_s: int = 10,
    streaming: bool = True,
) -> DataFrame:
    """Skew-aware variant of :func:`label_join` (north rule: "handles
    skewed doc_id hot keys via salted repartitioning").

    Hash partitioning pins all rows of a hot doc_id to one task; AQE
    cannot rebalance stateful streaming joins. Split-path rewrite:

    - cold keys -> plain watermarked join (unchanged);
    - hot keys  -> join key extended with a salt: the token side salts
      each row deterministically from row content, the (smaller) label
      side is replicated across all ``n_salts`` — every hot key's state
      and probe work spreads over ``n_salts`` tasks.

    Output ≡ label_join (asserted by the parity test); costs an extra
    ``n_salts``x replication of hot-key LABEL rows only.
    """
    is_hot = F.col("doc_id").isin(*hot_keys)

    cold = label_join(
        tokens.filter(~is_hot),
        labels.filter(~is_hot),
        watermark=watermark,
        tolerance_s=tolerance_s,
        streaming=streaming,
    )

    tok_hot = tokens.filter(is_hot).withColumn(
        "salt",
        F.pmod(
            F.xxhash64("event_time", "n_tok", F.col("tokens").cast("string")),
            F.lit(n_salts),
        ).cast("int"),
    )
    lab_hot = (
        labels.filter(is_hot)
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
        .withColumn("salt", F.col("salt").cast("int"))
    )
    t = tok_hot.withWatermark("event_time", watermark) if streaming else tok_hot
    l = lab_hot.withWatermark("event_time", watermark) if streaming else lab_hot
    l2 = l.select(
        F.col("doc_id").alias("l_doc_id"),
        F.col("source").alias("l_source"),
        F.col("salt").alias("l_salt"),
        "label",
        F.col("event_time").alias("label_time"),
    )
    cond = (
        (t["doc_id"] == l2["l_doc_id"])
        & (t["source"] == l2["l_source"])
        & (t["salt"] == l2["l_salt"])
        & (l2["label_time"] >= t["event_time"] - F.expr(f"INTERVAL {tolerance_s} SECONDS"))
        & (l2["label_time"] <= t["event_time"] + F.expr(f"INTERVAL {tolerance_s} SECONDS"))
    )
    out_cols = ["doc_id", "source", "tokens", "n_tok", "event_time", "label", "label_time"]
    if "diff" in tokens.columns:
        out_cols.append("diff")
    hot = t.join(l2, cond, "inner").select(*out_cols)
    return cold.unionByName(hot)


def streaming_range_join(
    left: DataFrame,
    right: DataFrame,
    left_time: str,
    right_time: str,
    *,
    lower: float,
    upper: float,
    watermark: str = "30 seconds",
    streaming: bool = True,
) -> DataFrame:
    """Keyless interval join as a watermarked stream-stream join — the
    streaming face of ``operators/rangejoin.bucketed_range_join`` (j4).

    Without an equi key, Spark rejects/cross-plans a stream-stream
    theta join; the batch operator's interval-bucket trick IS the fix
    here too: both sides derive a span-width bucket id (right rows in
    exactly one, left windows over <= 2, fan-out bounded), the join
    becomes equi-on-bucket, and the exact ``right_time BETWEEN
    left_time + lower AND left_time + upper`` range rides in the join
    condition ON THE RAW EVENT-TIME COLUMNS, which is what Spark's
    state-cleanup analysis needs to derive each side's state watermark
    — state is dropped once the other side's watermark passes the
    window, so state stays bounded by (watermark + span) x arrival
    rate, never the full history.

    ``streaming=False`` runs the identical plan on batch frames — the
    parity-test oracle (label_join convention). Column names must not
    collide across sides (pre-alias, the j1/j3/j4 convention).

    Validation, bucket math, and the join itself live in ONE place —
    ``operators/rangejoin.bucket_equi_range_join`` — shared with the
    batch operator, so the two paths cannot drift; this wrapper only
    contributes the watermarks.
    """
    from diffdataflowmlpipelines_spark.operators.rangejoin import (
        bucket_equi_range_join,
    )

    l = left.withWatermark(left_time, watermark) if streaming else left
    r = right.withWatermark(right_time, watermark) if streaming else right
    return bucket_equi_range_join(
        l, r, left_time, right_time, lower=lower, upper=upper
    )
