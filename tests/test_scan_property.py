"""Property test for scan_table: any AND of supported predicates, OR
entries included, over a mixed-type store must equal the same filter
applied to the original dataframe — pruning may only skip, never change
results.

One module-scoped store, a seeded sweep of generated predicate sets
(hypothesis-style randomized composition without per-example Spark jobs
exploding the runtime: each example is one scan + one reference filter).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pysparkenc.engine import encode_table, scan_table

COLS = ["k_int", "k_str", "v_small", "v_float"]


@pytest.fixture(scope="module")
def store(spark):
    df = spark.range(30_000).select(
        (F.col("id") % 997).alias("k_int"),
        F.concat(F.lit("cat-"), (F.col("id") % 37).cast("string")).alias(
            "k_str"),
        (F.col("id") % 11).cast("int").alias("v_small"),
        (F.col("id") * 0.25).cast("double").alias("v_float"),
    )
    chunks = encode_table(df, partition_by=("k_int",), num_partitions=4)
    chunks.cache().count()
    df.cache().count()
    yield df, chunks
    chunks.unpersist()
    df.unpersist()


def _gen_predicate(rng: random.Random):
    kind = rng.choice(["int_eq", "int_range", "str_eq", "in_list",
                       "small_le", "str_range", "int_gt", "int_lt",
                       "small_ne", "or_prunable", "or_with_ne"])
    if kind == "or_prunable":
        # two prunable branches on different columns
        (p1, c1), (p2, c2) = _gen_simple(rng, "int_eq"), _gen_simple(
            rng, "str_eq")
        return ("or", [p1, p2]), (c1 | c2)
    if kind == "or_with_ne":
        # a != branch: the disjunction prunes nothing
        (p1, c1), (p2, c2) = _gen_simple(rng, "in_list"), _gen_simple(
            rng, "small_ne")
        return ("or", [p1, p2]), (c1 | c2)
    return _gen_simple(rng, kind)


def _gen_simple(rng: random.Random, kind: str):
    if kind == "small_ne":
        v = rng.randrange(0, 12)
        return ("v_small", "!=", v), (F.col("v_small") != v)
    if kind == "int_gt":
        v = rng.randrange(0, 1000)
        return ("k_int", ">", v), (F.col("k_int") > v)
    if kind == "int_lt":
        v = rng.randrange(0, 1000)
        return ("k_int", "<", v), (F.col("k_int") < v)
    if kind == "int_eq":
        v = rng.randrange(0, 1100)  # sometimes absent (>996)
        return ("k_int", "==", v), (F.col("k_int") == v)
    if kind == "int_range":
        lo = rng.randrange(0, 900)
        hi = lo + rng.randrange(0, 300)
        return ("k_int", "between", (lo, hi)), F.col("k_int").between(lo, hi)
    if kind == "str_eq":
        v = f"cat-{rng.randrange(0, 45)}"  # sometimes absent (>36)
        return ("k_str", "==", v), (F.col("k_str") == v)
    if kind == "in_list":
        vals = rng.sample(range(0, 1100), rng.randrange(1, 5))
        return ("k_int", "in", vals), F.col("k_int").isin(vals)
    if kind == "small_le":
        v = rng.randrange(0, 12)
        return ("v_small", "<=", v), (F.col("v_small") <= v)
    v = f"cat-{rng.randrange(0, 40)}"
    return ("k_str", ">=", v), (F.col("k_str") >= v)


@pytest.mark.parametrize("seed", range(12))
def test_random_predicate_sets_match_reference(spark, store, seed):
    df, chunks = store
    rng = random.Random(1000 + seed)
    n_preds = rng.randrange(1, 4)
    preds, conds = [], F.lit(True)
    for _ in range(n_preds):
        p, c = _gen_predicate(rng)
        preds.append(p)
        conds = conds & c
    cols = rng.sample(COLS, rng.randrange(1, len(COLS) + 1))
    got = scan_table(chunks, df.schema, columns=cols, where=preds)
    want = df.where(conds).select(*cols)
    assert got.columns == cols
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b, (preds, cols, len(a), len(b))
