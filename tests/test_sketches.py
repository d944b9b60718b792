"""operators/sketches.py helpers outside the registered queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from proof_of_concept___cdc_w_iceberg_spark.operators.sketches import (
    _kq_exact_ranks,
)


def test_kq_exact_ranks_empty_targets(spark):
    """No targets means no rank probes: an empty result and the stream
    count, instead of building a zero-worker thread pool."""
    df = spark.range(50).select(F.col("id").cast("double").alias("v"))
    assert _kq_exact_ranks(spark, df, []) == ({}, 50)
    assert _kq_exact_ranks(spark, df, [], n=50) == ({}, 50)


def test_kq_exact_ranks_matches_sorted_order(spark):
    df = spark.range(1, 101).select(F.col("id").cast("double").alias("v"))
    out, n = _kq_exact_ranks(spark, df, [0.5, 0.9])
    assert n == 100
    assert out == {0.5: 50.0, 0.9: 90.0}
