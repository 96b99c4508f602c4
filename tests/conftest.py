from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pysparkenc-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def filter_pushdown(spark):
    """Opt the session into Catalyst filter pushdown into the
    ``pysparkenc`` reader for one test (off unless the session enables
    it before ``datasource.register``)."""
    from pysparkenc.datasource import _PUSHDOWN_CONF as key
    from pysparkenc.datasource import register

    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    register(spark)
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)
    register(spark)


def kept_groups(chunks, pushed) -> int:
    """Page groups of the chunk DataFrame ``chunks`` that survive the
    pruning predicates ``pushed``, counted by the evaluator every read
    path's page-group walk runs (``engine._page_groups``)."""
    from pysparkenc.engine import _page_groups

    return len(_page_groups(chunks.toArrow(), pushed)[1])
