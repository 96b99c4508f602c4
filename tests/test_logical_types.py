"""DATE / DECIMAL logical types over the physical int codecs.

Mirrors the reference's logical-type layering (parquet/parquet.go:2597-2612;
DECIMAL scale/precision carried like datastore/column-parameters.go:6-13):
DATE is int32 epoch-days, DECIMAL(p<=18,s) is the unscaled int64 — both ride
the existing delta/dict/FOR integer codecs unchanged.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from pysparkenc.engine import (
    decode_table,
    encode_table,
    footer,
    output_schema_of_chunks,
)


def _roundtrip(spark, df, key="id", **kw):
    chunks = encode_table(df, num_partitions=kw.pop("num_partitions", 2), **kw)
    dec = decode_table(chunks, df.schema)
    cols = [c for c in df.columns if c != key]
    want = {r[key]: tuple(r[c] for c in cols) for r in df.collect()}
    got = {r[key]: tuple(r[c] for c in cols) for r in dec.collect()}
    return want, got, chunks


def test_date_roundtrip(spark):
    base = dt.date(1994, 3, 1)
    rows = [(i, base + dt.timedelta(days=i * 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, d date")
    want, got, chunks = _roundtrip(spark, df)
    assert got == want
    meta = footer(chunks).where(F.col("col") == "d").collect()
    assert all(r["logical"] == "date_day" for r in meta)
    # near-sorted day numbers should pick an int codec cheaply (delta/FOR),
    # never fall back to 8-byte plain
    assert all(r["dtype"] == "int32" for r in meta)


def test_date_nullable_roundtrip(spark):
    base = dt.date(2020, 1, 1)
    rows = [
        (i, None if i % 4 == 0 else base + dt.timedelta(days=i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, d date")
    want, got, _ = _roundtrip(spark, df)
    assert got == want


def test_decimal_roundtrip_exact(spark):
    rows = [
        (i, Decimal(str((i * 7919 % 100000) / 100.0)))
        for i in range(500)
    ]
    rows.append((500, Decimal("-12345.67")))
    rows.append((501, Decimal("0.01")))
    df = spark.createDataFrame(rows, "id long, price decimal(12,2)")
    want, got, chunks = _roundtrip(spark, df)
    assert got == want
    meta = footer(chunks).where(F.col("col") == "price").collect()
    assert all(r["logical"] == "decimal(12,2)" for r in meta)
    assert all(r["dtype"] == "int64" for r in meta)


def test_decimal_nullable_and_negative(spark):
    rows = [
        (i, None if i % 3 == 0 else Decimal(i - 50) / Decimal(1000))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, x decimal(18,3)")
    want, got, _ = _roundtrip(spark, df)
    assert got == want


def test_decimal_schema_recovery(spark):
    df = spark.createDataFrame(
        [(1, Decimal("1.50"), dt.date(2024, 5, 17))],
        "id long, p decimal(10,2), d date",
    )
    chunks = encode_table(df, num_partitions=1)
    rec = output_schema_of_chunks(chunks)
    by_name = {f.name: f.dataType.simpleString() for f in rec.fields}
    assert by_name["p"] == "decimal(10,2)"
    assert by_name["d"] == "date"
    got = decode_table(chunks).collect()[0]
    assert got["p"] == Decimal("1.50") and got["d"] == dt.date(2024, 5, 17)


def test_date_pruned_range_scan(spark):
    """Stat pruning + exact predicate on a DATE column: bounds are epoch
    days, the row filter compares real dates."""
    from pysparkenc.engine import encode_table, scan_table

    base = dt.date(1995, 1, 1)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(days=i % 400)) for i in range(2000)],
        "id long, d date",
    )
    chunks = encode_table(df, num_partitions=4)
    lo = (dt.date(1995, 3, 1) - dt.date(1970, 1, 1)).days
    hi = (dt.date(1995, 4, 1) - dt.date(1970, 1, 1)).days
    got = scan_table(chunks, df.schema,
                     where=[("d", "between", (lo, hi))]).count()
    want = sum(
        1
        for i in range(2000)
        if lo <= (base + dt.timedelta(days=i % 400) - dt.date(1970, 1, 1)).days <= hi
    )
    assert got == want > 0


def test_decimal_pruned_range_scan(spark):
    """DECIMAL pruning bounds are unscaled ints (cents for scale 2)."""
    from pysparkenc.engine import encode_table, scan_table

    df = spark.createDataFrame(
        [(i, Decimal(i) / 100) for i in range(3000)],
        "id long, p decimal(12,2)",
    )
    chunks = encode_table(df, num_partitions=4)
    got = scan_table(chunks, df.schema,
                     where=[("p", "between", (150, 450))]).collect()
    vals = sorted(r["p"] for r in got)
    assert vals[0] == Decimal("1.50") and vals[-1] == Decimal("4.50")
    assert len(vals) == 301


def test_decimal_precision_over_18_uses_flba(spark):
    """p>18 switches from the int64 physical to the 16-byte FLBA path
    (reference FLBA-backed wide decimals, parquet/parquet.go:2597-2612)."""
    df = spark.createDataFrame(
        [(1, Decimal("1.5")), (2, Decimal("12345678901234567890.25")), (3, None)],
        "id long, x decimal(24,2)",
    )
    chunks = encode_table(df, num_partitions=1)
    assert chunks.where("col = 'x'").first()["dtype"] == "bytes"
    got = {r["id"]: r["x"] for r in decode_table(chunks, df.schema).collect()}
    assert got == {r["id"]: r["x"] for r in df.collect()}
