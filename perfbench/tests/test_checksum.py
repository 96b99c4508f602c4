"""The output checksum must not depend on how the table is partitioned."""

import pytest

from helpers import checksum


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    yield spark
    spark.stop()


def test_checksum_equal_across_partitionings(spark):
    from pyspark.sql import functions as F

    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 600, seed=3).cache()
    base = checksum(df)
    assert base[0] == 600
    assert checksum(df.repartition(7)) == base
    assert checksum(df.repartition(3, "source")) == base
    assert checksum(df.coalesce(1).orderBy(F.col("doc_id").desc())) == base
    # and it sees a change in any column, tokens included
    assert checksum(df.limit(599)) != base
    changed = df.withColumn(
        "tokens", F.when(F.col("doc_id") == df.first()["doc_id"],
                         F.reverse("tokens")).otherwise(F.col("tokens")))
    assert checksum(changed) != base
    df.unpersist()
