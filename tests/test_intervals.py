"""INTERVAL logical types through the engine (VERDICT r3 gap #2).

The reference models INTERVAL in its thrift (parquet/parquet.go:2597-
2612) and uses it in its draft schema JSON (examples/schemas/
schema1.json). Spark's Arrow interop cannot carry interval values
through mapInArrow/applyInArrow AT ALL (PySparkNotImplementedError), so
the engine converts top-level interval columns to their exact physical
integers around the Arrow stage: day-time -> int64 microseconds (via
the epoch-shift trick — a plain BIGINT cast truncates to seconds),
year-month -> int32 months. The recorded logical keeps the interval
type and its start/end fields, so decode restores the exact Spark type.

Collect caveat: PySpark cannot even collect() YearMonthIntervalType
rows (fromInternal unimplemented), so comparisons project both sides to
ints first.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysparkenc.engine import decode_table, encode_table


def _mk(spark, n=1000):
    return spark.sql(f"""
        SELECT id,
          CASE WHEN id % 5 = 0 THEN NULL
               ELSE make_dt_interval(CAST(id % 3 AS INT),
                                     CAST(id % 20 AS INT), 0,
                                     id * 1.500001) END AS dti,
          make_ym_interval(CAST(id % 4 AS INT), CAST(id % 11 AS INT)) AS ymi
        FROM range({n})
    """)


def _proj(df):
    epoch = F.lit("1970-01-01 00:00:00Z").cast("timestamp")
    return {
        r["id"]: (r["a"], r["b"])
        for r in df.select(
            "id",
            F.unix_micros(epoch + F.col("dti")).alias("a"),
            F.col("ymi").cast("int").alias("b"),
        ).collect()
    }


def test_interval_roundtrip_exact_micros_and_months(spark):
    df = _mk(spark)
    chunks = encode_table(df, num_partitions=4)
    back = decode_table(chunks, df.schema)
    assert back.schema == df.schema  # start/end fields restored exactly
    assert _proj(back) == _proj(df)  # sub-second micros survive


def test_interval_schema_recovery(spark):
    df = _mk(spark, 200)
    back = decode_table(encode_table(df, num_partitions=2))
    by_name = {f.name: f.dataType for f in back.schema.fields}
    assert by_name["dti"].simpleString() == "interval day to second"
    assert by_name["ymi"].simpleString() == "interval year to month"
    assert _proj(back) == _proj(df)


def test_interval_narrow_fields_restored(spark):
    df = spark.sql(
        "SELECT id, CAST(make_dt_interval(0, CAST(id AS INT), 0, 0)"
        " AS INTERVAL HOUR TO MINUTE) AS h FROM range(50)"
    )
    back = decode_table(encode_table(df, num_partitions=2), df.schema)
    assert back.schema == df.schema
    got = {r["id"]: r["h"] for r in back.collect()}
    want = {r["id"]: r["h"] for r in df.collect()}
    assert got == want


def test_nested_interval_raises_typed_error(spark):
    df = spark.sql(
        "SELECT id, array(make_dt_interval(0,0,0,id)) AS xs FROM range(5)"
    )
    with pytest.raises(TypeError, match="INTERVAL nested"):
        encode_table(df, num_partitions=2)


def test_interval_pruned_range_decode(spark):
    """scan_table range over a day-time interval column: bounds in the
    physical domain (microseconds) prune chunk groups by footer stats
    and the row-level predicate restores exact interval semantics."""
    from pysparkenc.engine import scan_table

    df = spark.sql(
        "SELECT id, timestamp_micros(id * 1000000) - timestamp_micros(0)"
        " AS dur FROM range(10000)"
    )
    chunks = encode_table(df, partition_by=("id",), num_partitions=4)
    lo, hi = 2_000 * 1_000_000, 2_500 * 1_000_000
    got = scan_table(chunks, df.schema, where=[("dur", "between", (lo, hi))])
    ids = sorted(r["id"] for r in got.select("id").collect())
    assert ids == list(range(2000, 2501))


def test_restricted_field_intervals_roundtrip(spark):
    """YEAR-only / MONTH-only / HOUR-restricted intervals: the encode
    cast must normalize to the physical unit (months / micros) — a bare
    int cast of an INTERVAL YEAR yields YEARS and silently corrupts
    (decode would rebuild from months: 3 years -> 3 months -> 0 years)."""
    df = spark.sql("""
        SELECT id,
          CAST(make_ym_interval(CAST(id AS INT), 0) AS INTERVAL YEAR) AS yy,
          CAST(make_ym_interval(0, CAST(id AS INT)) AS INTERVAL MONTH) AS mm,
          CAST(make_dt_interval(0, CAST(id AS INT), 0, 0)
               AS INTERVAL HOUR) AS hh
        FROM range(25)
    """)
    back = decode_table(encode_table(df, num_partitions=2), df.schema)
    assert back.schema == df.schema

    def proj(d):
        epoch = F.lit("1970-01-01 00:00:00Z").cast("timestamp")
        return {
            r["id"]: (r["y"], r["m"], r["h"])
            for r in d.select(
                "id",
                F.col("yy").cast("interval year to month").cast("int")
                .alias("y"),
                F.col("mm").cast("int").alias("m"),
                F.unix_micros(epoch + F.col("hh")).alias("h"),
            ).collect()
        }

    assert proj(back) == proj(df)
    # and the values are genuinely non-trivial (id=7 -> 84 months)
    assert proj(df)[7][0] == 84


def test_struct_field_named_interval_is_encodable(spark):
    """A struct FIELD merely named interval_* must not trip the nested-
    interval guard (it scans types, not logical strings)."""
    df = spark.sql(
        "SELECT id, named_struct('interval_ms', id * 10) AS meta "
        "FROM range(50)"
    )
    back = decode_table(encode_table(df, num_partitions=2), df.schema)
    got = {r["id"]: r["meta"]["interval_ms"] for r in back.collect()}
    assert got == {i: i * 10 for i in range(50)}
