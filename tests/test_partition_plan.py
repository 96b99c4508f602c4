"""The skew planner (``engine.plan_partitions``) against an oracle.

The oracle is the planner's original all-Spark formula: a per-key count,
a global window computing ``max(1, round(num_buckets * count / total))``
bucket sizes (``F.round`` is HALF_UP), and a window prefix sum of those
sizes in ``asc_nulls_first`` key order as offsets, applied by a broadcast
``eqNullSafe`` join. The driver-side planner must give every row the same
global bucket and ``part_id``, for every leading-key type.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from pysparkenc.engine import _hashable_type, plan_partitions


def _oracle(df, partition_by, num_partitions):
    key0 = partition_by[0]
    num_buckets = num_partitions * 8
    salt_keys = list(partition_by[1:]) or [
        f.name for f in df.schema.fields
        if f.name != key0 and _hashable_type(f.dataType)
    ] or [key0]
    counts = df.groupBy(key0).count()
    total = F.sum("count").over(Window.partitionBy())
    buckets = F.greatest(
        F.lit(1),
        F.round(F.lit(num_buckets) * F.col("count") / total).cast("int"),
    )
    order = Window.orderBy(F.col(key0).asc_nulls_first())
    plan = (
        counts.withColumn("__buckets", buckets)
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__buckets").over(
                    order.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("int"),
        )
        .select(F.col(key0).alias("__k0"), "__offset", "__buckets")
    )
    salted = F.pmod(
        F.abs(F.xxhash64(*[F.col(c) for c in salt_keys])), F.col("__buckets")
    )
    bucket = (F.col("__offset") + salted).cast("long")
    return df.join(
        F.broadcast(plan), F.col(key0).eqNullSafe(F.col("__k0"))
    ).select(
        "rid",
        bucket.alias("__bucket"),
        F.pmod(bucket, F.lit(num_partitions)).cast("long").alias("part_id"),
    )


def _assignments(df):
    return sorted(
        (r["rid"], r["__bucket"], r["part_id"])
        for r in df.select("rid", "__bucket", "part_id").collect()
    )


@pytest.fixture(scope="module")
def keyed(spark):
    """3,000 rows with one skewed leading-key column per type (about 60%
    of rows on one hot value, a tail of rarer values and some nulls) and
    a string secondary key."""
    rid = F.col("id")
    hot = (rid % 10) < 6
    tail = rid % 37
    null = (rid % 97) == 0

    def skewed(hot_value, tail_value):
        return F.when(null, None).when(hot, hot_value).otherwise(tail_value)

    df = spark.range(3000).select(
        rid.alias("rid"),
        F.concat(F.lit("d"), rid.cast("string")).alias("doc"),
        skewed(F.lit("web"), F.concat(F.lit("s"), tail.cast("string")))
        .alias("k_str"),
        skewed(F.lit(7), tail.cast("int")).alias("k_int"),
        skewed(F.date_add(F.lit("2024-01-01").cast("date"), 0),
               F.date_add(F.lit("2020-06-01").cast("date"), tail.cast("int")))
        .alias("k_date"),
        skewed(F.timestamp_micros(F.lit(1_700_000_000_123_456)),
               F.timestamp_micros(tail * 3_600_000_001))
        .alias("k_ts"),
        skewed(F.lit("12.500").cast("decimal(12,3)"),
               (tail / 8).cast("decimal(12,3)"))
        .alias("k_dec"),
    )
    df.cache().count()
    yield df
    df.unpersist()


@pytest.mark.parametrize("key", ["k_str", "k_int", "k_date", "k_ts", "k_dec"])
def test_plan_matches_spark_formula(keyed, key):
    df = keyed.select("rid", "doc", key)
    assert df.where(F.col(key).isNull()).count() > 0  # a null leading key
    for partition_by in ((key, "doc"), (key,)):
        got = _assignments(plan_partitions(df, partition_by, 4))
        want = _assignments(_oracle(df, partition_by, 4))
        assert len(got) == 3000
        assert got == want, (key, partition_by)


def test_null_key_keeps_the_first_range(keyed):
    """Nulls sort first: the null key's buckets start at offset 0."""
    df = keyed.select("rid", "doc", "k_str")
    planned = plan_partitions(df, ("k_str", "doc"), 4)
    nulls = planned.where(F.col("k_str").isNull())
    assert nulls.count() == df.where(F.col("k_str").isNull()).count()
    assert nulls.agg(F.min("__bucket")).first()[0] == 0


def test_bucket_rounding_is_half_up(spark):
    """num_buckets·count/total = 2.5 exactly for key "a" (8·500/1600):
    HALF_UP gives it 3 buckets (half-even would give 2), so "b"'s range
    starts at 3; "b" gets round(5.5) = 6 buckets."""
    rows = [(i, "a" if i < 500 else "b", f"d{i}") for i in range(1600)]
    df = spark.createDataFrame(rows, "rid long, k string, doc string")
    planned = plan_partitions(df, ("k", "doc"), 1)
    assert _assignments(planned) == _assignments(_oracle(df, ("k", "doc"), 1))
    span = {
        r["k"]: (r["lo"], r["hi"])
        for r in planned.groupBy("k").agg(
            F.min("__bucket").alias("lo"), F.max("__bucket").alias("hi")
        ).collect()
    }
    assert span == {"a": (0, 2), "b": (3, 8)}


def test_empty_input_plans_nothing(spark):
    df = spark.createDataFrame([], "rid long, k string, doc string")
    assert plan_partitions(df, ("k", "doc"), 4).count() == 0


def test_key_guard_refuses_over_1e6_distinct_values(spark):
    with pytest.raises(ValueError, match="over 1e6 distinct values"):
        plan_partitions(spark.range(1_000_001), ("id",), 4)
