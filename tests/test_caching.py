"""Persisted-intermediate lifecycle: operators that cache an internal
band/bucket/count table must not leak MEMORY_AND_DISK blocks across a
long-lived session. Each returned DataFrame is tethered to its caches
(pysparkenc.caching.tether); dropping the result (GC) or calling
pysparkenc.release(result) frees them. Regression for ADVICE r2 #4."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

import pysparkenc
from pysparkenc import dedup, engine, similarity
from pysparkenc.caching import release, tether


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def docs(spark):
    rows = [(f"d{i:03d}", f"alpha beta gamma delta {i % 7} epsilon zeta") for i in range(60)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_release_frees_minhash_band_cache(spark, docs):
    base = _n_cached(spark)
    pairs = dedup.minhash_lsh_pairs(docs)
    pairs.count()  # materialize through the cache
    assert _n_cached(spark) > base  # the band table is cached while in use
    assert release(pairs) is True
    assert _n_cached(spark) == base
    assert release(pairs) is False  # idempotent
    # correctness-safe: the plan still evaluates after release (recompute)
    assert pairs.count() >= 0


def test_gc_frees_simhash_cache(spark, docs):
    base = _n_cached(spark)
    pairs = dedup.simhash_dup_pairs(docs)
    pairs.count()
    assert _n_cached(spark) > base
    del pairs
    gc.collect()
    assert _n_cached(spark) == base


def test_release_frees_near_dup_and_plan_caches(spark, docs):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [(i, rng.randn(16).astype(float).tolist()) for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    base = _n_cached(spark)
    nd = similarity.embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", dim=16, exact=False
    )
    nd.count()
    release(nd)
    assert _n_cached(spark) == base

    planned = engine.plan_partitions(docs, ("doc_id",), 4)
    planned.count()
    release(planned)
    assert _n_cached(spark) == base


def test_encode_table_caches_nothing(spark, docs):
    # the partition plan is collected to the driver: encoding persists no
    # intermediate, so there is nothing to tether or release
    base = _n_cached(spark)
    enc = engine.encode_table(docs, partition_by=("doc_id",), num_partitions=4)
    enc.count()
    assert _n_cached(spark) == base
    assert release(enc) is False


def test_exact_mode_has_no_cache_to_tether(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    nd = similarity.embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", dim=2, exact=True
    )
    assert release(nd) is False  # nothing tethered in exact mode
    assert nd.where(F.col("cos_e6") > 990_000).count() >= 1


def test_tether_public_surface():
    assert pysparkenc.release is release
    # tether returns its first argument
    class Obj:  # weakref-able stand-in
        pass

    o = Obj()
    assert tether(o) is o
