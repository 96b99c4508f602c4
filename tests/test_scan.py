"""scan_table: the one-call projection + composed-pruning query surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import kept_groups
from pysparkenc.engine import (
    encode_table,
    scan_table,
    where_pushed,
)


@pytest.fixture(scope="module")
def li_chunks(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_shipdate", "l_quantity"
    )
    chunks = encode_table(
        df, partition_by=("l_returnflag", "l_orderkey"), num_partitions=4,
        bloom=("l_partkey",),
    )
    chunks.cache().count()
    yield df, chunks
    chunks.unpersist()


def test_scan_composes_equality_and_range(spark, li_chunks):
    df, chunks = li_chunks
    got = scan_table(
        chunks,
        df.schema,
        columns=["l_orderkey", "l_quantity"],
        where=[("l_returnflag", "==", "R"),
               ("l_orderkey", "between", (1000, 20000))],
    )
    assert got.columns == ["l_orderkey", "l_quantity"]
    want = (
        df.where((F.col("l_returnflag") == "R")
                 & F.col("l_orderkey").between(1000, 20000))
        .select("l_orderkey", "l_quantity")
    )
    a = sorted((r[0], r[1]) for r in got.collect())
    b = sorted((r[0], r[1]) for r in want.collect())
    assert a == b and a


def test_scan_in_list_and_schema_recovery(spark, li_chunks):
    df, chunks = li_chunks
    keys = [17, 1003, 4000]
    got = scan_table(chunks, columns=["l_partkey", "l_orderkey"],
                     where=[("l_partkey", "in", keys)])
    want = df.where(F.col("l_partkey").isin(keys)).select(
        "l_partkey", "l_orderkey")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))


def test_scan_rejects_bad_predicates(spark, li_chunks):
    _, chunks = li_chunks
    with pytest.raises(KeyError):
        scan_table(chunks, where=[("nope", "==", 1)])
    with pytest.raises(ValueError):
        scan_table(chunks, where=[("l_orderkey", "~", 1)])


def test_scan_projection_reaches_chunk_scan(spark, li_chunks, tmp_path):
    """On a parquet-backed store the chunk-scan filter keeps only the
    requested + predicate columns' chunks: non-requested payload columns
    are pruned BEFORE any decode (pushed into the parquet scan)."""
    import contextlib
    import io

    _, chunks = li_chunks
    store = str(tmp_path / "chunks")
    chunks.write.parquet(store)
    back = spark.read.parquet(store)
    got = scan_table(back, columns=["l_orderkey"],
                     where=[("l_returnflag", "==", "A")])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "In(col" in pushed[0]
    assert "l_quantity" not in pushed[0] and "l_shipdate" not in pushed[0]
    assert "l_orderkey" in pushed[0] and "l_returnflag" in pushed[0]


def test_scan_string_range_uses_lexicographic_stats(spark, li_chunks):
    """String >=/<= bounds route through the smin/smax pruning path and
    still re-apply exactly on decoded rows."""
    df, chunks = li_chunks
    got = scan_table(chunks, df.schema,
                     columns=["l_returnflag", "l_orderkey"],
                     where=[("l_returnflag", ">=", "N")])
    want = df.where(F.col("l_returnflag") >= "N").select(
        "l_returnflag", "l_orderkey")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))
    assert got.where(F.col("l_returnflag") == "A").count() == 0


def test_scan_timestamp_range_in_physical_micros(spark, li_chunks):
    """Timestamp bounds are given in the column's physical domain
    (int64 epoch-micros, where the footer stats live)."""
    import datetime as dt

    df, chunks = li_chunks
    cut = dt.datetime(1995, 1, 1)
    micros = int((cut - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    got = scan_table(chunks, df.schema,
                     columns=["l_orderkey", "l_shipdate"],
                     where=[("l_shipdate", ">=", micros)])
    want = df.where(F.col("l_shipdate") >= F.lit(cut)).select(
        "l_orderkey", "l_shipdate")
    assert got.count() == want.count() > 0
    assert got.agg(F.min("l_shipdate")).collect()[0][0] >= cut


def test_scan_equality_on_converted_domains(spark):
    """==/in predicates on decimal and timestamp columns: the prune AND
    the residual filter must both work in the physical domain (unscaled
    int / micros). Before the fix the residual compared the decoded
    decimal against the raw unscaled literal (silently empty/wrong) and
    a timestamp equality raised DATATYPE_MISMATCH."""
    df = spark.sql("""
        SELECT id,
          CAST(CAST(id AS DECIMAL(10,2)) / 100 AS DECIMAL(10,2)) AS price,
          timestamp_micros(id * 1000000) AS ts
        FROM range(500)
    """)
    chunks = encode_table(df, num_partitions=2)
    chunks.cache().count()
    try:
        # price == 1.50 <=> unscaled 150
        got = scan_table(chunks, df.schema, columns=["id", "price"],
                         where=[("price", "==", 150)])
        assert [(r["id"], str(r["price"])) for r in got.collect()] \
            == [(150, "1.50")]
        # ts == 7s <=> 7_000_000 micros
        got = scan_table(chunks, df.schema, columns=["id"],
                         where=[("ts", "==", 7_000_000)])
        assert [r["id"] for r in got.collect()] == [7]
        # in-list over a converted domain
        got = scan_table(chunks, df.schema, columns=["id"],
                         where=[("price", "in", [150, 275, 499])])
        assert sorted(r["id"] for r in got.collect()) == [150, 275, 499]
    finally:
        chunks.unpersist()


def test_scan_equality_on_dict_encoded_wide_decimal(spark):
    """A DECIMAL(30,2) column with few distinct values rides a dict page
    of 16-byte fixed values; an unscaled-int probe can't be compared
    with those bytes, so the dict probe must keep the group rather than
    drop every match."""
    df = spark.sql(
        "SELECT id, CAST(id % 5 AS DECIMAL(30,2)) AS w FROM range(2000)"
    )
    chunks = encode_table(df, num_partitions=1)
    chunks.cache().count()
    try:
        codecs = {r["codec"] for r in chunks.where(F.col("col") == "w")
                  .select("codec").collect()}
        assert codecs == {"dict_rle"}
        got = scan_table(chunks, df.schema, columns=["id"],
                         where=[("w", "==", 300)])
        assert got.count() == 400
        got = scan_table(chunks, df.schema, columns=["id"],
                         where=[("w", "in", [100, 400])])
        assert got.count() == 800
    finally:
        chunks.unpersist()


def test_scan_strict_inequalities(spark, li_chunks):
    df, chunks = li_chunks
    got = scan_table(
        chunks, df.schema, columns=["l_orderkey"],
        where=[("l_orderkey", ">", 1000), ("l_orderkey", "<", 1100)],
    )
    want = sorted(
        r[0] for r in df.where((F.col("l_orderkey") > 1000)
                               & (F.col("l_orderkey") < 1100))
        .select("l_orderkey").collect()
    )
    assert sorted(r[0] for r in got.collect()) == want
    assert want  # non-vacuous


def test_where_equals_isin_converted_domains(spark):
    """``==`` / ``in`` values on converted-domain columns are physical
    (unscaled int / micros) and the residual converts them back,
    including TIMESTAMP_NTZ under a non-UTC session timezone (an LTZ
    literal would shift NTZ comparisons by the session zone)."""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.sql("""
            SELECT id,
              CAST(CAST(id AS DECIMAL(10,2)) / 100 AS DECIMAL(10,2)) AS price,
              CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)
                + make_dt_interval(0, 0, 0, CAST(id AS DECIMAL(10,0)))
                AS ts_ntz
            FROM range(300)
        """)
        chunks = encode_table(df, num_partitions=2)
        chunks.cache().count()
        try:
            got = scan_table(chunks, df.schema,
                             where=[("price", "==", 250)])
            assert [r["id"] for r in got.collect()] == [250]
            got = scan_table(chunks, df.schema,
                             where=[("price", "in", [150, 299])])
            assert sorted(r["id"] for r in got.collect()) == [150, 299]
            # NTZ wall-clock micros, independent of session tz
            got = scan_table(chunks, df.schema,
                             where=[("ts_ntz", "==", 9_000_000)])
            assert [r["id"] for r in got.collect()] == [9]
            got = scan_table(chunks, df.schema, columns=["id"],
                             where=[("ts_ntz", "==", 12_000_000)])
            assert [r["id"] for r in got.collect()] == [12]
        finally:
            chunks.unpersist()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def _groups(chunks) -> int:
    return chunks.select("part_id", "chunk_id").distinct().count()


def test_scan_or_disjunction(spark, li_chunks):
    """("or", [...]) composes mixed ops across columns; results equal
    the row-level OR."""
    df, chunks = li_chunks
    got = scan_table(
        chunks,
        df.schema,
        columns=["l_orderkey", "l_returnflag", "l_quantity"],
        where=[
            ("or", [("l_returnflag", "==", "R"),
                    ("l_orderkey", "<", 500)]),
            ("l_quantity", ">=", 10),
        ],
    )
    want = df.where(
        ((F.col("l_returnflag") == "R") | (F.col("l_orderkey") < 500))
        & (F.col("l_quantity") >= 10)
    ).select("l_orderkey", "l_returnflag", "l_quantity")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))


def test_scan_or_prunes_with_union_of_survivors(spark):
    """A disjunction of prunable terms drops every chunk group NEITHER
    branch can contain — gated by counting surviving groups on a store
    clustered so both branches are selective."""
    df = spark.range(0, 40_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    chunks = encode_table(df, partition_by=("k",), num_partitions=8,
                          sort_by=("k",), rows_per_chunk=2048)
    chunks.cache().count()
    total = _groups(chunks)
    lo_keep = kept_groups(chunks, where_pushed([("k", "<=", 1000)]))
    hi_keep = kept_groups(chunks,
                           where_pushed([("k", ">=", 39_000)]))
    where = [("or", [("k", "<=", 1000), ("k", ">=", 39_000)])]
    got = scan_table(chunks, df.schema, where=where)
    want = df.where((F.col("k") <= 1000) | (F.col("k") >= 39_000))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))
    assert lo_keep + hi_keep < total  # the gate is non-vacuous
    # the OR-pruned scan decodes at most the union of branch survivors
    keep = kept_groups(chunks, where_pushed(where))
    assert 0 < keep <= lo_keep + hi_keep < total
    chunks.unpersist()


def test_scan_not_in_and_or_with_unprunable_branch(spark, li_chunks):
    df, chunks = li_chunks
    got = scan_table(
        chunks, df.schema, columns=["l_orderkey", "l_partkey"],
        where=[("l_partkey", "not in", [17, 1003])],
    )
    want = df.where(~F.col("l_partkey").isin([17, 1003])).select(
        "l_orderkey", "l_partkey")
    assert got.count() == want.count()
    # OR with a residual-only branch: correct, prunes nothing
    got2 = scan_table(
        chunks, df.schema, columns=["l_orderkey"],
        where=[("or", [("l_returnflag", "!=", "R"),
                       ("l_orderkey", "<", 100)])],
    )
    want2 = df.where(
        (F.col("l_returnflag") != "R") | (F.col("l_orderkey") < 100)
    ).select("l_orderkey")
    assert sorted(r[0] for r in got2.collect()) == sorted(
        r[0] for r in want2.collect())


def test_scan_rejects_malformed_or(spark, li_chunks):
    _, chunks = li_chunks
    with pytest.raises(ValueError):
        scan_table(chunks, where=[("or", [])])
    with pytest.raises(KeyError):
        scan_table(chunks, where=[("or", [("nope", "==", 1)])])


def test_scan_or_exact_on_uncached_chunks(spark):
    """Regression: the OR prune must union the branches' KEY frames.
    Unioning the semi-joined chunk frames themselves mis-resolves in
    Spark's self-union deduplication and silently drops one branch's
    survivors — which only manifested when the chunk table was an
    UNCACHED encode pipeline (the contract-query shape)."""
    df = spark.read.parquet(
        "/root/testdata/sf0.01/lineitem.parquet"
    ).select("l_orderkey", "l_returnflag", "l_quantity")
    chunks = encode_table(
        df, partition_by=("l_returnflag", "l_orderkey"), num_partitions=4
    )  # deliberately NOT cached
    got = scan_table(
        chunks, df.schema,
        where=[("or", [("l_returnflag", "==", "R"),
                       ("l_orderkey", "<", 500)]),
               ("l_quantity", "not in", [1.0, 2.0])],
    )
    want = df.where(
        ((F.col("l_returnflag") == "R") | (F.col("l_orderkey") < 500))
        & ~F.col("l_quantity").isin([1.0, 2.0])
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
