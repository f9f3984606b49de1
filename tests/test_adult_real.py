"""pipeline_2 on the REAL adult_data.csv shipped by the reference
(public UCI Adult data, /root/reference/data/adult_data.csv;
reference src/pipelines/pipeline_2.rs:17-39): pins the Float-or-Text
column classification and the one-hot overprovisioning policy against
reality rather than the synthetic adultlike fixture."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.operators.encoders import overprovisioned_len
from diffdataflowmlpipelines_spark.plans.pipeline2 import (
    EXCLUDED_IDX,
    run_pipeline2,
)
from diffdataflowmlpipelines_spark.sources.csv import read_adult_like_csv

ADULT_CSV = "/root/reference/data/adult_data.csv"
if not os.path.exists(ADULT_CSV):
    pytest.skip(f"{ADULT_CSV} does not exist", allow_module_level=True)

# the reference's find_indices(Float) split on this file
# (adult_dataset_reader.rs:6-29: a column is Float iff every cell parses)
EXPECTED_NUMERIC = [
    "age", "fnlwgt", "education-num", "capital-gain", "capital-loss",
    "hours-per-week",
]


@pytest.fixture(scope="module")
def adult(spark):
    return read_adult_like_csv(spark, ADULT_CSV).cache()


def test_float_or_text_classification(adult):
    numeric = [
        f.name for f in adult.schema.fields
        if isinstance(f.dataType, T.DoubleType)
    ]
    text = [
        f.name for f in adult.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]
    assert numeric == EXPECTED_NUMERIC
    assert set(text) == {
        "workclass", "education", "marital-status", "occupation",
        "relationship", "race", "sex", "native-country", "salary",
    }
    assert adult.count() == 32561  # UCI adult training split


def test_pipeline2_feature_width_matches_overprovisioning(adult):
    cols = adult.columns
    excluded = {cols[i] for i in EXCLUDED_IDX}
    # reference classification: one-hot for Text, passthrough for Float
    cat_feature_cols = [
        f.name for f in adult.schema.fields
        if isinstance(f.dataType, T.StringType) and f.name not in excluded
    ]
    num_feature_cols = [
        f.name for f in adult.schema.fields
        if isinstance(f.dataType, T.DoubleType) and f.name not in excluded
    ]
    assert set(excluded) == {"race", "sex", "hours-per-week", "salary"}

    out = run_pipeline2(adult)
    width = out.select(F.size("features").alias("w")).distinct().collect()
    assert len(width) == 1  # every row gets the same assembled width

    cards = {
        c: adult.select(c).distinct().count() for c in cat_feature_cols
    }
    expected = sum(overprovisioned_len(cards[c]) for c in cat_feature_cols)
    expected += len(num_feature_cols)
    assert width[0]["w"] == expected

    # the known UCI cardinalities (incl. '?') -> x1.5 growth ladder
    assert cards["workclass"] == 9 and overprovisioned_len(9) == 12
    assert cards["education"] == 16 and overprovisioned_len(16) == 18
    assert cards["native-country"] == 42 and overprovisioned_len(42) == 62


def test_pipeline2_onehot_is_indicator_on_real_rows(adult):
    # spot-check: each categorical block holds exactly one 1.0 per row
    out = run_pipeline2(adult.limit(200))
    # first block is the first configured column; config order follows
    # schema order with exclusions -> first categorical is workclass
    # (after numeric age passthrough). Validate totals instead of
    # positions: sum(features) = n_categorical_blocks * 1.0 + sum(numerics)
    cols = adult.columns
    excluded = {cols[i] for i in EXCLUDED_IDX}
    num_feature_cols = [
        f.name for f in adult.schema.fields
        if isinstance(f.dataType, T.DoubleType) and f.name not in excluded
    ]
    n_cat = len(
        [
            f.name for f in adult.schema.fields
            if isinstance(f.dataType, T.StringType) and f.name not in excluded
        ]
    )
    total = F.aggregate("features", F.lit(0.0), lambda a, x: a + x)
    num_sum = sum(F.col(c) for c in num_feature_cols)
    bad = out.withColumn("__t", total).withColumn("__n", num_sum).filter(
        F.abs(F.col("__t") - (F.col("__n") + F.lit(float(n_cat)))) > 1e-6
    )
    assert bad.count() == 0
