"""Distributed exact global row numbering (operators/ranked.py): the
sampled range-partition path and the driver-computed-bounds path must both
reproduce the single-partition window's ordinals exactly — including under
gaps, skew, and duplicate-free total orders of several shapes."""

import pytest

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from x227f_spark.operators.ranked import global_row_number


def _check(df, order_by, **kw):
    got = global_row_number(df, order_by, "rn", **kw)
    exp = {r["k"]: r["rn"] for r in
           df.withColumn("rn", F.row_number().over(W.orderBy(*order_by)))
           .collect()}
    assert {r["k"]: r["rn"] for r in got.collect()} == exp
    # the result must not leak the internal bucketing columns
    assert set(got.columns) == set(df.columns) | {"rn"}
    return exp


def test_sampled_path_matches_window(spark):
    df = (spark.range(10_000)
          .select(F.col("id").alias("k"),
                  (F.xxhash64("id") % 1000).alias("score")))
    _check(df, [F.desc("score"), F.asc("k")])


@pytest.mark.parametrize("gappy", [False, True])
def test_bounds_path_matches_window(spark, gappy):
    """The scheduler's path: single ascending numeric key with known
    bounds. Gaps (consumed positions) skew the buckets but never the
    ordinals."""
    base = spark.range(10_000).select(F.col("id").alias("k"))
    if gappy:
        base = base.where((F.col("k") % 7 != 0) & (F.col("k") < 2000)
                          | (F.col("k") > 9000))
    _check(base, ["k"], bounds=(0, 10_000))


def test_bounds_path_clamps_out_of_range_keys(spark):
    """Keys outside the advertised bounds land in the edge buckets —
    ordinals stay exact (the bounds are a balance hint, not a contract)."""
    df = spark.range(500).select((F.col("id") - 100).alias("k"))
    _check(df, ["k"], bounds=(0, 100))


@pytest.mark.parametrize("bounds", [None, (0, 10_000)])
def test_lazy_offsets_matches_window(spark, bounds):
    """The prefix sum is a broadcast-joined plan, not a driver roundtrip —
    ordinals must match the single-partition window exactly on both the
    sampled and bounds bucketings, including under gaps/skew."""
    # every third key missing above 500: gaps skew the buckets
    df = (spark.range(10_000)
          .select(F.col("id").alias("k"))
          .where((F.col("k") % 3 != 0) | (F.col("k") < 500)))
    _check(df, ["k"], bounds=bounds)
