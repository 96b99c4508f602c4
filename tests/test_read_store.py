"""``read_store`` as a file-local read through the ``pysparkenc`` data
source: same rows as the shuffle-based formulation it replaced, filter
pushdown on converted-domain columns, and the reader's typed failure
when a lineage file read is planned without a widened schema."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    In,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    DateType,
    DayTimeIntervalType,
    DecimalType,
    LongType,
    StructField,
    StructType,
    YearMonthIntervalType,
)

from pysparkenc.datasource import (
    ChunkStoreReader,
    _list_parquet,
    _to_pushed,
)
from pysparkenc.engine import scan_table, where_pushed
from pysparkenc.lineage import (
    apply_deletes,
    delete_rows,
    encode_with_lineage,
    read_committed_chunks,
    read_delete_sets,
    read_store,
    store_aggregate,
    store_count_rows,
    store_distinct_values,
)

_ROWS = """
SELECT concat('doc-', id) AS doc_id,
       id + {bump} AS n,
       IF(id % 9 = 0, NULL, CAST(id / 7.0 AS DECIMAL(10,2))) AS d,
       date_add(DATE'2020-01-01', CAST(id AS INT)) AS dt,
       make_dt_interval(0, 0, 0, CAST(id AS DOUBLE)) AS iv,
       make_ym_interval(0, CAST(id % 13 AS INT)) AS ym
FROM range({lo}, {hi})
"""
EPOCH_2020 = 18262  # DATE'2020-01-01' in epoch days


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Run 1: docs 0-299. Run 2: docs 300-499. Run 3: delete of five
    keys across both runs. Run 4: doc-2 re-appended (with a new ``n``)
    after its delete, so it must survive."""
    path = str(tmp_path_factory.mktemp("read_store") / "store")

    def rows(lo, hi, bump=0):
        return spark.sql(_ROWS.format(lo=lo, hi=hi, bump=bump))

    kw = dict(num_partitions=2, rows_per_chunk=64)
    assert encode_with_lineage(rows(0, 300), path, **kw)["run_id"] == 1
    assert encode_with_lineage(rows(300, 500), path, resume=False,
                               **kw)["run_id"] == 2
    gone = spark.createDataFrame(
        [(f"doc-{i}",) for i in (1, 2, 3, 350, 499)], "doc_id string"
    )
    assert delete_rows(spark, path, gone)["run_id"] == 3
    assert encode_with_lineage(rows(2, 3, bump=10_000), path, resume=False,
                               num_partitions=1)["run_id"] == 4
    return path


def _oracle(spark, path, *, columns=None, where=(), as_of_run=None):
    """The pre-data-source formulation: a Spark-side scan with row
    provenance, then the run-sequenced anti-joins."""
    pc = "__part"
    scan_cols = (None if columns is None
                 else list(dict.fromkeys(list(columns) + ["doc_id"])))
    rows = scan_table(
        read_committed_chunks(spark, path, as_of_run=as_of_run),
        columns=scan_cols, where=where, part_col=pc,
    )
    out = apply_deletes(rows, read_delete_sets(spark, path,
                                               as_of_run=as_of_run),
                        part_col=pc).drop(pc)
    return out if columns is None else out.select(*columns)


def _rows(df):
    # year-month intervals don't collect to Python: compare as strings
    cols = [F.col(c).cast("string") for c in df.columns]
    return sorted(map(repr, df.select(*cols).collect()))


CASES = [
    {},
    {"columns": ["n", "iv"]},
    {"columns": ["dt"], "as_of_run": 1},
    {"as_of_run": 2},
    {"as_of_run": 3, "columns": ["doc_id", "ym"]},
    {"where": [("doc_id", "==", "doc-2")]},
    {"where": [("n", "in", [4, 5, 350, 10_002])], "columns": ["n"]},
    {"where": [("d", "!=", 100)]},
    {"where": [("dt", "not in", [EPOCH_2020 + 1, EPOCH_2020 + 7])],
     "columns": ["doc_id"]},
    {"where": [("d", "<", 2000)], "columns": ["d"]},
    {"where": [("dt", "<=", EPOCH_2020 + 40)]},
    {"where": [("iv", ">", 250 * 10**6)], "columns": ["doc_id"]},
    {"where": [("ym", ">=", 11)]},
    {"where": [("d", "between", (1000, 3000)),
               ("iv", "between", (0, 400 * 10**6))], "as_of_run": 2},
    {"where": [("or", [("n", "==", 7), ("d", "==", 6000),
                       ("dt", ">", EPOCH_2020 + 495)])]},
    {"where": [("or", [("doc_id", "==", "doc-350"), ("ym", "!=", 0)])],
     "columns": ["n"], "as_of_run": 2},
]


@pytest.mark.parametrize("kw", CASES, ids=[repr(c) for c in CASES])
def test_read_store_matches_scan_plus_anti_join(spark, store, kw):
    got = read_store(spark, store, **kw)
    want = _oracle(spark, store, **kw)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert _rows(got) == _rows(want)


def test_read_store_sequencing_and_snapshots(spark, store):
    """Spot checks that pin the fixture itself, so the equivalence
    cases can't pass on a degenerate store."""
    assert read_store(spark, store).count() == 500 - 5 + 1
    assert read_store(spark, store, as_of_run=2).count() == 500
    assert read_store(spark, store, as_of_run=1).count() == 300
    doc2 = read_store(spark, store, columns=["n"],
                      where=[("doc_id", "==", "doc-2")]).collect()
    assert [r["n"] for r in doc2] == [10_002]
    dt = dict((f.name, f.dataType) for f in read_store(spark, store).schema)
    assert isinstance(dt["iv"], DayTimeIntervalType)
    assert isinstance(dt["ym"], YearMonthIntervalType)
    assert dt["d"] == DecimalType(10, 2)


def test_read_store_validation(spark, store):
    with pytest.raises(KeyError):
        read_store(spark, store, columns=["nope"])
    with pytest.raises(KeyError):
        read_store(spark, store, where=[("nope", "==", 1)])
    with pytest.raises(ValueError):
        read_store(spark, store, where=[("n", "~", 1)])
    with pytest.raises(ValueError):
        read_store(spark, store, where=[("n", "==")])
    with pytest.raises(ValueError):
        read_store(spark, store, where=[("or", [])])
    with pytest.raises(ValueError):
        read_store(spark, store, where=[("n", "in", [])])
    with pytest.raises(TypeError):
        read_store(spark, store, where=[("n", "in", [1, "a"])])


def test_store_queries_with_deletes_use_visible_rows(spark, store):
    """The delete-aware fallbacks of the store_* queries read through
    read_store; their answers must match the oracle's rows."""
    want = _oracle(spark, store)
    assert store_count_rows(spark, store) == want.count()
    assert store_count_rows(spark, store, as_of_run=2) == 500
    got = {r["n"] for r in store_distinct_values(spark, store, "n").collect()}
    assert got == {r["n"] for r in want.select("n").collect()}
    agg = store_aggregate(spark, store, ["n"]).collect()[0]
    exp = want.agg(F.count("n").alias("c"), F.sum("n").alias("s"),
                   F.min("n").alias("lo"), F.max("n").alias("hi")).collect()[0]
    assert (agg["n_values"], agg["sum_val"], agg["min_val"], agg["max_val"]) \
        == (exp["c"], exp["s"], float(exp["lo"]), float(exp["hi"]))
    with pytest.raises(TypeError, match="plain numeric"):
        store_aggregate(spark, store, ["d"])


def test_filtered_query_does_not_change_later_reads(spark, store):
    """Spark reuses a data source reader planned with one query's pushed
    filters for a later query on the same DataFrame that pushes none;
    read_store's DataFrame must read the same rows whatever ran on it
    before."""
    got = read_store(spark, store)
    assert got.where(F.col("d").isNull()).count() == 56
    assert got.count() == 496
    assert got.where(F.col("n") == 7).count() == 1
    assert got.select("doc_id").distinct().count() == 496


def test_where_prunes_page_groups_in_the_reader(store):
    schema = StructType([StructField("n", LongType())])

    def rows_read(where):
        r = ChunkStoreReader(store, schema)
        r.pushed = where_pushed(where)
        return sum(b.num_rows for p in r.partitions() for b in r.read(p))

    total = rows_read([])
    assert total == 496
    # run 1's two partitions hold ~150 rows each in 64-row page groups:
    # a point or a short range overlaps at most one group per partition
    assert rows_read([("n", "==", 7)]) <= 2 * 64
    assert rows_read([("n", "in", [7, 8])]) <= 2 * 64
    assert rows_read([("n", "between", (100, 120))]) <= 2 * 64
    # an OR of prunable branches keeps the union of their groups
    assert rows_read([("or", [("n", "==", 7), ("n", "==", 8)])]) <= 2 * 64
    # residual-only shapes prune nothing
    assert rows_read([("n", "!=", 7)]) == total
    assert rows_read([("or", [("n", "==", 7), ("n", "!=", 8)])]) == total


def test_lineage_file_read_without_widened_schema_raises(store):
    """``python -O`` strips asserts; the reader's guard must survive."""
    schema = StructType([StructField("n", LongType())])
    reader = ChunkStoreReader(store, schema)
    reader._widened = None
    f = _list_parquet(f"{store}/chunks/run_id=1")[0]
    with pytest.raises(RuntimeError, match="widened schema unset"):
        next(reader._read_file(f, 1))


# ---------------------------------------------------------------------------
# pushed filters on converted-domain columns
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    """A lineage store whose page groups hold disjoint value ranges, so
    a wrongly converted pushed value prunes groups that hold matches."""
    path = str(tmp_path_factory.mktemp("pushdown") / "store")
    src = spark.sql(
        """
        SELECT id,
               CAST(id / 100.0 AS DECIMAL(10,2)) AS d,
               date_add(DATE'2021-03-01', CAST(id AS INT)) AS dt,
               timestamp_micros(1600000000000000 + id * 3600000000) AS ts,
               CAST(timestamp_micros(1600000000000000 + id * 3600000000)
                    AS TIMESTAMP_NTZ) AS ntz
        FROM range(2000)
        """
    )
    encode_with_lineage(src, path, num_partitions=2, rows_per_chunk=128,
                        sort_by=("id",))
    return src, path


PUSHDOWN = {
    "decimal": ["d <= 5.00", "d = 12.34", "d IN (0.05, 19.99)",
                "d > 12.34", "d BETWEEN 3.00 AND 4.00"],
    "date": ["dt <= DATE'2021-03-20'", "dt = DATE'2022-01-01'",
             "dt BETWEEN DATE'2023-01-01' AND DATE'2023-02-01'",
             "dt IN (DATE'2021-03-01', DATE'2026-08-20')"],
    "timestamp": ["ts <= timestamp_micros(1600036000000000)",
                  "ts = timestamp_micros(1600000000000000 + 1500 * 3600000000)",
                  "ts > timestamp_micros(1600000000000000 + 1990 * 3600000000)"],
    "timestamp_ntz": [
        "ntz <= CAST(timestamp_micros(1600036000000000) AS TIMESTAMP_NTZ)",
        "ntz = CAST(timestamp_micros(1600000000000000 + 700 * 3600000000)"
        " AS TIMESTAMP_NTZ)",
        "ntz >= CAST(timestamp_micros(1600000000000000 + 1998 * 3600000000)"
        " AS TIMESTAMP_NTZ)",
    ],
}


@pytest.mark.parametrize("kind", sorted(PUSHDOWN))
def test_pushed_filters_on_converted_columns(spark, typed, kind,
                                            filter_pushdown):
    src, path = typed
    ds = spark.read.format("pysparkenc").load(path)
    for cond in PUSHDOWN[kind]:
        want = src.where(cond).count()
        assert want > 0, cond
        assert ds.where(cond).count() == want, cond


def test_pushed_values_move_to_physical_domain():
    schema = StructType([
        StructField("d", DecimalType(10, 2)),
        StructField("w", DecimalType(30, 2)),
        StructField("dt", DateType()),
        StructField("iv", DayTimeIntervalType()),
        StructField("ym", YearMonthIntervalType()),
    ])
    got = _to_pushed([
        LessThanOrEqual(("d",), decimal.Decimal("2.00")),
        In(("d",), (decimal.Decimal("1.23"), decimal.Decimal("0.05"))),
        EqualTo(("dt",), datetime.date(1970, 1, 11)),
        GreaterThan(("iv",), datetime.timedelta(seconds=2)),
        EqualTo(("ym",), 14),
    ], schema)
    assert [(p.col, p.kind, p.values, p.lo, p.hi) for p in got] == [
        ("d", "range", (), None, 200),
        ("d", "isin", (123, 5), None, None),
        ("dt", "isin", (10,), None, None),
        ("iv", "range", (), 2_000_000, None),
        ("ym", "isin", (14,), None, None),
    ]
    # no exact physical value: left to Spark, never pushed
    assert _to_pushed([
        EqualTo(("d",), decimal.Decimal("1.234")),
        EqualTo(("w",), decimal.Decimal("1.00")),
        EqualTo(("dt",), "2020-01-01"),
    ], schema) == []
