"""Regression tests for the round-3 ADVICE findings (fixed in round 4):

* stratified_sample: NULL stratum silently dropped by the equi-join
  while still counted in the threshold aggregate (now null-safe join);
  NULL ids documented as dropped by the hash gate.
* event_funnel: pre-1970 event times could never complete a step (-1
  micros unset sentinel) — now raises on the shared precondition.
* ivf_topk: caller-supplied centroids of the wrong dimension nulled
  every cosine silently — now validated eagerly like lsh_topk.

(The streaming-packing diff<=0 guard has its regression test in
tests/test_streaming_packing.py.)
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.functions.cep import event_funnel
from diffdataflowmlpipelines_spark.functions.sampling import stratified_sample
from diffdataflowmlpipelines_spark.functions.similarity import ivf_topk


def test_stratified_sample_null_stratum_is_a_group(spark):
    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, None) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, "source", "doc_id", target_per_stratum=20)
    # NULL stratum is under target -> every row kept (the old equi-join
    # returned 0 here: NULL never equi-joins)
    assert out.filter(F.col("source").isNull()).count() == 5
    # and the non-null strata are unaffected by the null-safe rewrite
    assert 5 <= out.filter(F.col("source") == "big").count() <= 45
    assert "__stratum" not in out.columns and "__thr" not in out.columns


def test_stratified_sample_null_id_rows_drop(spark):
    df = spark.createDataFrame(
        [(None, "s"), ("a", "s"), ("b", "s")], "doc_id string, source string"
    )
    out = stratified_sample(df, "source", "doc_id", target_per_stratum=10)
    # documented: no identity to hash -> gated out (never a crash)
    assert {r["doc_id"] for r in out.collect()} == {"a", "b"}


def test_event_funnel_raises_on_pre_1970_event(spark):
    df = spark.createDataFrame(
        [
            (1, datetime(1969, 12, 31, 23, 0, 0), "view"),
            (1, datetime(2024, 1, 1, 0, 0, 1), "buy"),
        ],
        "uid int, t timestamp, ty string",
    )
    with pytest.raises(Exception, match="1970"):
        event_funnel(df, "uid", "t", "ty", ["view", "buy"]).collect()


def test_event_funnel_accepts_epoch_boundary(spark):
    # exactly 1970-01-01T00:00:00 is micros==0: valid, not the sentinel
    df = spark.createDataFrame(
        [
            (1, datetime(1970, 1, 1, 0, 0, 0), "view"),
            (1, datetime(1970, 1, 1, 0, 0, 5), "buy"),
        ],
        "uid int, t timestamp, ty string",
    )
    rows = event_funnel(df, "uid", "t", "ty", ["view", "buy"]).collect()
    assert len(rows) == 1 and rows[0]["steps_completed"] == 2


def test_ivf_topk_rejects_centroid_dim_mismatch(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.5]) for i in range(6)],
        "id long, vec array<double>",
    )
    cents = spark.createDataFrame([(0, [1.0, 2.0])], "id long, vec array<double>")
    with pytest.raises(ValueError, match="dim"):
        ivf_topk(corpus, corpus, "id", "vec", k=2, centroids=cents)
