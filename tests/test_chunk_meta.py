"""Forged chunk footer fields fail with the library's own typed error,
naming the chunk, on both read paths: the file-local reader
(``read_store``) and the shuffle decode (``decode_table``)."""

from __future__ import annotations

import glob
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pysparkenc.engine import decode_table
from pysparkenc.lineage import (
    encode_with_lineage,
    read_committed_chunks,
    read_store,
)


@pytest.fixture(scope="module")
def clean_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("chunk_meta") / "store")
    df = spark.range(600).selectExpr(
        "id AS k", "id * 3 AS v", "concat('s', id % 5) AS s"
    )
    encode_with_lineage(df, path, num_partitions=1, rows_per_chunk=200,
                        codec={"s": "dict_rle"})
    return path


def _forge(src: str, dst: str, col: str, field: str, value) -> None:
    """Copy the store at ``src`` to ``dst`` with ``field`` of the
    ``col`` chunk of page group 1 set to ``value``."""
    shutil.copytree(src, dst)
    (f,) = glob.glob(f"{dst}/chunks/run_id=*/*.parquet")
    t = pq.read_table(f)
    rows = t.to_pylist()
    (row,) = [r for r in rows if r["col"] == col and r["chunk_id"] == 1]
    row[field] = value
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), f)


# what the encoder writes: one n_rows per page group, one value per
# present slot, and extra as "" or a JSON object
FORGED = [
    ("k", "n_rows", 201, "n_rows 201"),
    ("s", "n_values", 150, "n_values 150"),
    ("v", "extra", "{not json", "extra '{not json'"),
]


READS = pytest.mark.parametrize("read", [
    lambda spark, path: read_store(spark, path),
    lambda spark, path: decode_table(read_committed_chunks(spark, path)),
], ids=["read_store", "decode_table"])


def _raises_naming_chunk(spark, read, path, col, what) -> None:
    with pytest.raises(Exception) as ei:
        read(spark, path).collect()
    # the reader names the file's part id, decode_table the combined
    # run_id * 2^32 + part_id of read_committed_chunks
    assert re.search(
        rf"ValueError: corrupt chunk '{col}' \(part_id (0|4294967296), "
        rf"chunk_id 1\): {re.escape(what)}", str(ei.value)), str(ei.value)


@pytest.mark.parametrize("col,field,value,what", FORGED,
                         ids=[f[1] for f in FORGED])
@READS
def test_forged_footer_field_raises_value_error(
        spark, clean_store, tmp_path, read, col, field, value, what):
    path = str(tmp_path / "store")
    _forge(clean_store, path, col, field, value)
    _raises_naming_chunk(spark, read, path, col, what)


@READS
def test_corrupt_payload_names_the_chunk(spark, clean_store, tmp_path, read):
    """A flipped payload byte fails its CRC with the chunk's part and
    chunk id, so a multi-file store can locate it."""
    (f,) = glob.glob(f"{clean_store}/chunks/run_id=*/*.parquet")
    (row,) = [r for r in pq.read_table(f).to_pylist()
              if r["col"] == "v" and r["chunk_id"] == 1]
    data = bytearray(row["data"])
    data[len(data) // 2] ^= 0xFF
    path = str(tmp_path / "store")
    _forge(clean_store, path, "v", "data", bytes(data))
    _raises_naming_chunk(spark, read, path, "v", "crc32 mismatch")

