"""Schema evolution on decode: chunk groups written before a column
existed read as typed nulls (the parquet/iceberg reader contract), and a
projection of ONLY the evolved column still returns every row — every
chunk row of an old group carries the group's row count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from conftest import kept_groups
from pysparkenc.engine import decode_table, encode_table


@pytest.fixture(scope="module")
def evolved(spark):
    old = spark.range(300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("name"),
    )
    new = spark.range(300, 500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("name"),
        (F.col("id") * 2).cast("int").alias("score"),
        F.array(F.col("id").cast("int")).alias("tags"),
    )
    # two independent encode jobs appended into one store: disjoint
    # part_id ranges, exactly what lineage/datasource appends produce;
    # 8 parts each, so the k < 10 rows miss some old page groups
    kw = dict(rows_per_chunk=128, partition_by=None, num_partitions=8)
    c_old = encode_table(old, **kw)
    c_new = encode_table(new, **kw)
    c_new = c_new.withColumn("part_id", F.col("part_id") + 1000)
    evolved_schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("name", StringType(), False),
            StructField("score", IntegerType(), True),
            StructField("tags", ArrayType(IntegerType(), False), True),
        ]
    )
    merged = c_old.unionByName(c_new, allowMissingColumns=True).persist()
    merged.count()
    yield merged, evolved_schema
    merged.unpersist()


def test_old_groups_read_evolved_columns_as_nulls(spark, evolved):
    merged, schema = evolved
    out = decode_table(merged, schema)
    assert out.count() == 500
    assert out.where(F.col("score").isNull()).count() == 300
    assert out.where(F.col("tags").isNull()).count() == 300
    # new rows carry real values
    row = out.where(F.col("k") == 400).first()
    assert row.score == 800 and list(row.tags) == [400]
    # pre-existing columns are intact across both eras
    assert out.where(F.col("name") == "v7").count() == 1


def test_projection_of_only_evolved_column_keeps_all_rows(spark, evolved):
    merged, schema = evolved
    proj = StructType([StructField("score", IntegerType(), True)])
    out = decode_table(merged, proj)
    # any chunk row carries its group's n_rows: the 300 pre-evolution rows
    assert out.count() == 500
    assert out.where(F.col("score").isNull()).count() == 300
    assert out.agg(F.sum("score")).first()[0] == sum(
        2 * k for k in range(300, 500)
    )


def test_predicate_on_evolved_column_skips_pre_evolution_groups(
    spark, evolved, tmp_path
):
    """A page group written before ``score`` existed has no ``score``
    chunk and decodes it as all-null, so no ``==`` / ``in`` / range
    predicate on ``score`` can match it: the one pruning evaluator
    drops it, in ``scan_table``'s decode and in the file-local reader
    alike, while an IS NULL keeps it and an OR keeps it when another
    branch may match."""
    from pysparkenc.datasource import ChunkStoreReader
    from pysparkenc.engine import (
        _Pushed,
        scan_table,
        where_pushed,
    )
    from pysparkenc.lineage import encode_with_lineage, read_store

    merged, schema = evolved
    groups = merged.select("part_id", "chunk_id").distinct()
    old_groups = groups.where(F.col("part_id") < 1000).count()
    new_groups = groups.count() - old_groups
    assert old_groups and new_groups
    on_score = [("score", ">=", 0)]
    assert kept_groups(merged, where_pushed(on_score)) == new_groups
    either = [("or", [("score", "==", 800), ("k", "<", 10)])]
    kept = kept_groups(merged, where_pushed(either))
    assert 2 <= kept < old_groups + new_groups
    got = scan_table(merged, schema, columns=["k"], where=either)
    assert sorted(r.k for r in got.collect()) == list(range(10)) + [400]

    path = str(tmp_path / "store")
    kw = dict(num_partitions=1, rows_per_chunk=128)
    encode_with_lineage(spark.range(300).select(F.col("id").alias("k")),
                        path, **kw)
    encode_with_lineage(spark.range(300, 500).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("int").alias("score"),
    ), path, resume=False, **kw)
    proj = StructType([StructField("score", IntegerType(), True)])

    def rows_read(pushed):
        r = ChunkStoreReader(path, proj)
        r.pushed = pushed
        return sum(b.num_rows for p in r.partitions() for b in r.read(p))

    assert rows_read([]) == 500
    assert rows_read(where_pushed(on_score)) == 200
    # IS NULL keeps the all-null old groups, drops the null-free new ones
    assert rows_read([_Pushed("score", "isnull")]) == 300
    assert read_store(spark, path, where=on_score).count() == 200
    assert read_store(spark, path, where=[("score", "==", 800)]).count() == 1


def test_evolved_struct_subtree_reads_null(spark):
    old = spark.range(100).select(F.col("id").alias("k"))
    new = spark.range(100, 150).select(
        F.col("id").alias("k"),
        F.struct(
            F.col("id").cast("int").alias("a"),
            F.lit("x").alias("b"),
        ).alias("meta"),
    )
    c = encode_table(old, partition_by=None).unionByName(
        encode_table(new, partition_by=None).withColumn(
            "part_id", F.col("part_id") + 1000
        ),
        allowMissingColumns=True,
    )
    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("a", IntegerType(), True),
                        StructField("b", StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    out = decode_table(c, schema)
    assert out.count() == 150
    assert out.where(F.col("meta").isNull()).count() == 100
    assert out.where(F.col("k") == 120).first().meta.a == 120


# ---------------------------------------------------------------------------
# WRITE-side evolution through encode_with_lineage (r5)
# ---------------------------------------------------------------------------

def test_lineage_append_adds_column_and_records_schemas(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from pysparkenc.lineage import (
        encode_with_lineage,
        read_store,
        run_schemas,
    )
    from pysparkenc.synth import make_tokens_table

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 60, seed=31)
    old = df.where(F.col("n_tok") % 2 == 0)
    new = df.where(F.col("n_tok") % 2 == 1).withColumn(
        "quality", (F.col("n_tok") * 2).cast("int")
    )
    encode_with_lineage(old, store, num_partitions=2)
    encode_with_lineage(new, store, num_partitions=2, resume=False)
    # union schema derived from chunk metadata; old rows carry nulls
    got = read_store(spark, store)
    assert "quality" in got.columns
    assert got.count() == 60
    assert got.where(F.col("quality").isNull()).count() == old.count()
    exp = old.withColumn("quality", F.lit(None).cast("int")).unionByName(new)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # per-run schema records
    rs = run_schemas(store)
    assert set(rs) == {1, 2}
    assert "quality" not in [f.name for f in rs[1].fields]
    assert "quality" in [f.name for f in rs[2].fields]
    # a type CHANGE on a shared column is refused before any write
    bad = df.withColumn("n_tok", F.col("n_tok").cast("double"))
    with pytest.raises(TypeError, match="cannot change"):
        encode_with_lineage(bad, store, num_partitions=1, resume=False)


def test_lineage_append_may_omit_columns(spark, tmp_path):
    """A later run may also DROP a column: its groups decode the
    missing column as typed nulls under the union schema, the same rule
    as adding: any chunk row of a group supplies its row count."""
    from pyspark.sql import functions as F

    from pysparkenc.lineage import encode_with_lineage, read_store
    from pysparkenc.synth import make_tokens_table

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 40, seed=33)
    encode_with_lineage(df, store, num_partitions=2)
    narrow = make_tokens_table(spark, 10, seed=34).withColumn(
        "doc_id", F.concat(F.lit("n-"), F.col("doc_id"))
    ).drop("source")
    encode_with_lineage(narrow, store, num_partitions=1, resume=False)
    got = read_store(spark, store)
    assert got.count() == 50
    assert got.where(F.col("source").isNull()).count() == 10


# -------------------------------------------------------------- r5 fixes


def test_disjoint_column_runs_recover_nullable_schema(spark, tmp_path):
    """Two runs with FULLY DISJOINT column sets: schema recovery must
    mark BOTH columns nullable. The old per-column-max group count
    declared whichever column had the most groups non-nullable, and
    Catalyst then folded `b IS NULL` to false — silently wrong reads."""
    from pysparkenc.datasource import register
    from pysparkenc.lineage import encode_with_lineage, read_store

    path = str(tmp_path / "disjoint")
    encode_with_lineage(
        spark.range(10).select(F.col("id").alias("a")), path,
        num_partitions=2,
    )
    encode_with_lineage(
        spark.range(5).select((F.col("id") * 100).alias("b")), path,
        num_partitions=2, resume=False,
    )
    out = read_store(spark, path)
    assert {f.name: f.nullable for f in out.schema.fields} == {
        "a": True, "b": True,
    }
    assert out.count() == 15
    assert out.where(F.col("b").isNull()).count() == 10
    assert out.where(F.col("a").isNull()).count() == 5

    register(spark)
    ds = spark.read.format("pysparkenc").load(path)
    assert {f.name: f.nullable for f in ds.schema.fields} == {
        "a": True, "b": True,
    }
    assert ds.count() == 15
    assert ds.where(F.col("b").isNull()).count() == 10


def test_assemble_schema_exact_group_total():
    from pysparkenc.engine import assemble_schema_from_meta

    meta = [
        {"col": "a", "logical": "int64", "nc": 0, "ng": 5},
        {"col": "b", "logical": "int64", "nc": 0, "ng": 8},
    ]
    s = assemble_schema_from_meta(meta, total_groups=13)
    assert [(f.name, f.nullable) for f in s.fields] == [
        ("a", True), ("b", True),
    ]
    # when every group carries every column, non-nullable survives
    meta2 = [
        {"col": "a", "logical": "int64", "nc": 0, "ng": 8},
        {"col": "b", "logical": "int64", "nc": 0, "ng": 8},
    ]
    s2 = assemble_schema_from_meta(meta2, total_groups=8)
    assert [(f.name, f.nullable) for f in s2.fields] == [
        ("a", False), ("b", False),
    ]


def test_datasource_explicit_late_column_schema_keeps_old_rows(
    spark, tmp_path
):
    """Reading an evolved lineage store through the data source with an
    explicit schema of ONLY the late column must still return every
    row (old groups as nulls): any chunk row of a group supplies its
    row count, in decode_table and in the data source's per-file
    parquet filter alike."""
    from pysparkenc.datasource import register
    from pysparkenc.lineage import encode_with_lineage

    path = str(tmp_path / "late")
    encode_with_lineage(
        spark.range(10).select(F.col("id").alias("doc_id")), path,
        num_partitions=2,
    )
    encode_with_lineage(
        spark.range(5).select(
            (F.col("id") + 100).alias("doc_id"),
            (F.col("id") * 2).alias("quality"),
        ),
        path, num_partitions=2, resume=False,
    )
    register(spark)
    ds = spark.read.format("pysparkenc").schema("quality long").load(path)
    assert ds.count() == 15
    assert ds.where(F.col("quality").isNull()).count() == 10
    got = sorted(
        r["quality"] for r in ds.where(F.col("quality").isNotNull()).collect()
    )
    assert got == [0, 2, 4, 6, 8]


def test_struct_first_groups_read_as_nulls(spark, tmp_path):
    """A leading struct column without nulls writes no col_idx-0 chunk
    (its first chunk is ``st.x``), yet a page group written before
    ``score`` existed still reads its rows, as nulls, on every read
    path: any chunk row of a group supplies its row count."""
    from pysparkenc.datasource import register
    from pysparkenc.lineage import (
        encode_with_lineage,
        read_committed_chunks,
        read_store,
    )

    register(spark)
    store = str(tmp_path / "store")
    st = F.struct(F.col("id").alias("x")).alias("st")
    encode_with_lineage(spark.range(300).select(st), store,
                        num_partitions=2, resume=False)
    encode_with_lineage(
        spark.range(200).select(st, (F.col("id") * 2).alias("score")),
        store, num_partitions=2, resume=False)
    schema = StructType([StructField("score", LongType(), True)])
    reads = {
        "read_store": read_store(spark, store, columns=["score"]),
        "decode_table": decode_table(read_committed_chunks(spark, store),
                                     schema),
        "format": spark.read.format("pysparkenc").schema(schema)
        .load(store),
    }
    for how, df in reads.items():
        got = [r["score"] for r in df.collect()]
        assert len(got) == 500, how
        assert sum(v is None for v in got) == 300, how
