"""encode_table / decode_table — the engine's public DataFrame API.

Replaces the reference's (unimplemented) file-writer lifecycle
(``/root/reference/layout/page.go:23-27``, ``schema/schema.go:43-50``) with
the Spark-idiomatic pipeline from SURVEY.md §3:

    df --[skew-aware salted partitioning]--> repartition(part_id)
       --[mapInArrow, one Arrow batch = one chunk group]--> chunk rows

- Arrow batches arrive zero-copy: a ``tokens: array<int32>`` column is
  already the flat-values + offsets layout the kernels want (the Dremel
  rep/def levels of the reference collapse to list offsets for this schema,
  SURVEY.md §1.4), so there is **no per-row Python anywhere**.
- Each input batch (bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``)
  becomes one *chunk group*: one output row per column per group keyed by
  ``(part_id, chunk_id)``. Executor memory is bounded by the batch size, not
  the partition size — the scale lever for 10^12-sequence tables.
- Skew: ``plan_partitions`` gives every distinct value of the leading
  partition key a contiguous bucket range sized proportionally to its row
  count, then salts within the range by hashing the secondary key. The
  plan is one per-key count collected to the driver, sized there with
  numpy and applied as one broadcast join. Hot sources spread over many
  partitions; every partition stays single-source, which keeps chunks
  homogeneous and dictionary/RLE-friendly.
- decode_table groups the chunk rows back with ``applyInArrow`` and emits
  the original schema; round-trip is bit-identical (token-array equality
  per row — the BASELINE.json invariant).

Nested data (the reference's full Dremel tree, ``schema/column.go:259-304``
builds rep/def levels for REPEATED groups, reassembly
``datastore/column.go:127-177``) is shredded *recursively* into flat chunk
streams — repetition levels collapse to one offsets/length chunk per list
nesting level, definition levels to one validity bitvector chunk per
nullable node. Chunk naming grammar (user column names must not contain
``#``; dots are the struct separator — same documented convention as the
reference's dotted paths ``schema/column.go:75-77``):

    {path}        scalar value chunk / list-or-map length chunk
    {path}#def    validity bitvector (present = True) over the node's slots
    {path}.{f}    struct field subtree
    {path}#item   list element subtree (slots = sum of lengths)
    {path}#key    map key subtree          {path}#val  map value subtree

This composes to any depth: ``spans: array<struct<start,end>>`` becomes
``spans`` (lengths) + ``spans#item#def`` (element validity) +
``spans#item.start`` / ``spans#item.end`` leaf chunks, and
``array<array<int>>`` becomes two nested length chunks over one flat
int stream — exactly the Dremel shredding, expressed as columnar chunks.
"""

from __future__ import annotations

import dataclasses
import json
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DayTimeIntervalType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    YearMonthIntervalType,
)

from . import chunk as chunklib

CHUNK_SCHEMA = StructType(
    [
        StructField("part_id", LongType(), False),
        StructField("chunk_id", LongType(), False),
        StructField("group_key", StringType(), True),
        StructField("col", StringType(), False),
        StructField("col_idx", IntegerType(), False),
        StructField("logical", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("dtype", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_values", LongType(), False),
        StructField("null_count", LongType(), False),
        StructField("n_unique", LongType(), False),
        StructField("bit_width", IntegerType(), False),
        StructField("plain_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("num_min", DoubleType(), True),
        StructField("num_max", DoubleType(), True),
        StructField("crc32", LongType(), False),
        StructField("extra", StringType(), True),
        StructField("data", BinaryType(), False),
        StructField("aux", BinaryType(), True),
        StructField("bloom", BinaryType(), True),
    ]
)

_CHUNK_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int64()),
        ("chunk_id", pa.int64()),
        ("group_key", pa.string()),
        ("col", pa.string()),
        ("col_idx", pa.int32()),
        ("logical", pa.string()),
        ("codec", pa.string()),
        ("dtype", pa.string()),
        ("n_rows", pa.int64()),
        ("n_values", pa.int64()),
        ("null_count", pa.int64()),
        ("n_unique", pa.int64()),
        ("bit_width", pa.int32()),
        ("plain_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("num_min", pa.float64()),
        ("num_max", pa.float64()),
        ("crc32", pa.int64()),
        ("extra", pa.string()),
        ("data", pa.binary()),
        ("aux", pa.binary()),
        ("bloom", pa.binary()),
    ]
)


def _logical_of(field) -> str:
    return _logical_of_dtype(field.dataType, field.name)


def _logical_of_dtype(dt, name: str) -> str:
    if isinstance(dt, IntegerType):
        return "int32"
    if isinstance(dt, LongType):
        return "int64"
    if isinstance(dt, FloatType):
        return "float32"
    if isinstance(dt, DoubleType):
        return "float64"
    if isinstance(dt, BooleanType):
        return "bool"
    if isinstance(dt, StringType):
        return "string"
    if isinstance(dt, BinaryType):
        return "binary"
    if isinstance(dt, TimestampType):
        return "timestamp_us"
    if isinstance(dt, TimestampNTZType):
        return "timestamp_ntz_us"
    if isinstance(dt, DateType):
        # DATE logical type over int32 epoch-days (parquet/parquet.go:2597-
        # 2612): near-sorted day numbers delta-pack beautifully
        return "date_day"
    if isinstance(dt, DayTimeIntervalType):
        # INTERVAL logical type (modeled in the reference's thrift at
        # parquet/parquet.go:2597-2612, used by its draft schema JSON
        # examples/schemas/schema1.json): day-time intervals are int64
        # microseconds physically — same codecs as timestamps. The
        # start/end fields ride the logical string so decode restores
        # the exact Spark type.
        return f"interval_dt_us[{dt.startField},{dt.endField}]"
    if isinstance(dt, YearMonthIntervalType):
        # year-month intervals: int32 months physically
        return f"interval_ym_mo[{dt.startField},{dt.endField}]"
    if isinstance(dt, DecimalType):
        # DECIMAL over the unscaled integer, scale/precision carried like
        # datastore/column-parameters.go:6-13: p<=18 rides int64, p<=38
        # rides 16-byte FIXED_LEN_BYTE_ARRAY (parquet/parquet.go:2597-2612
        # FLBA-backed decimals)
        if dt.precision > 38:
            raise TypeError(
                f"unsupported decimal precision {dt.precision} for {name}"
            )
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, ArrayType):
        return f"list<{_logical_of_dtype(dt.elementType, name)}>"
    if isinstance(dt, MapType):
        k = _logical_of_dtype(dt.keyType, name)
        v = _logical_of_dtype(dt.valueType, name)
        return f"map<{k},{v}>"
    if isinstance(dt, StructType):
        if not dt.fields:
            raise TypeError(f"empty struct column {name} cannot be encoded")
        inner = ",".join(
            f"{f.name}:{_logical_of_dtype(f.dataType, name)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    raise TypeError(f"unsupported column type for encoding: {name}: {dt}")


def _split_toplevel(s: str) -> list[str]:
    """Split on commas at bracket depth 0 (``<>`` and ``()`` aware)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _split_map_logical(logical: str) -> tuple[str, str]:
    """('k', 'v') from 'map<k,v>'; nesting-aware."""
    k, v = _split_toplevel(logical[4:-1])
    return k, v


def _phys_of(logical: str) -> str | None:
    """Physical storage dtype for scalar numeric logicals; None otherwise.

    Logical types layer over the physical codecs exactly like the
    reference's ConvertedType/LogicalType annotations over physical
    parquet types (parquet/parquet.go:2597-2612): DATE is int32
    epoch-days, DECIMAL(p<=18,s) is the unscaled int64, timestamps are
    int64 microseconds. DECIMAL(p>18) is byte-backed (16-byte FLBA) and
    returns None here."""
    if logical in ("int32", "int64", "float32", "float64"):
        return logical
    if logical.startswith("timestamp") or logical.startswith("interval_dt_us"):
        return "int64"
    if logical == "date_day" or logical.startswith("interval_ym_mo"):
        return "int32"
    if logical.startswith("decimal("):
        p, _ = _decimal_params(logical)
        return "int64" if p <= 18 else None
    return None


def _decimal_params(logical: str) -> tuple[int, int]:
    p, s = logical[8:-1].split(",")
    return int(p), int(s)


def _decimal_to_int64(arr: pa.Array) -> np.ndarray:
    """Unscaled int64 values from a decimal128 array (p <= 18 guarantees
    the 128-bit value fits the low word; little-endian layout)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    words = np.frombuffer(
        arr.buffers()[1], dtype=np.int64, count=2 * (n + arr.offset)
    ).reshape(-1, 2)
    return np.ascontiguousarray(words[arr.offset : arr.offset + n, 0])


def _int64_to_decimal(
    vals: np.ndarray, logical: str, valid: np.ndarray | None
) -> pa.Array:
    """Unscaled int64 -> decimal128 array (pa.cast would re-scale the
    values, so build the 16-byte little-endian buffer directly: low word
    = value, high word = sign extension)."""
    p, s = _decimal_params(logical)
    n = vals.size
    words = np.empty((n, 2), dtype=np.int64)
    words[:, 0] = vals
    words[:, 1] = vals >> 63
    validity = (
        pa.py_buffer(np.packbits(valid, bitorder="little"))
        if valid is not None
        else None
    )
    null_count = int(n - valid.sum()) if valid is not None else 0
    return pa.Array.from_buffers(
        pa.decimal128(p, s), n, [validity, pa.py_buffer(words.tobytes())],
        null_count=null_count,
    )


def _decimal_to_fixed(arr: pa.Array) -> bytes:
    """Raw 16-byte little-endian payload of a decimal128 array — the
    FIXED_LEN_BYTE_ARRAY backing the reference uses for wide decimals
    (parquet/parquet.go:2597-2612 + datastore/column-parameters.go:6-13)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    return bytes(memoryview(arr.buffers()[1])[arr.offset * 16 : (arr.offset + n) * 16])


def _fixed_to_decimal(
    data: bytes, logical: str, n_out: int, valid: np.ndarray | None
) -> pa.Array:
    """16-byte FLBA payload -> decimal128 array, scattering under valid."""
    p, s = _decimal_params(logical)
    vals = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    if valid is not None:
        full = np.zeros((n_out, 16), dtype=np.uint8)
        full[valid] = vals
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
        null_count = int(n_out - valid.sum())
    else:
        full = vals
        validity, null_count = None, 0
    return pa.Array.from_buffers(
        pa.decimal128(p, s), n_out,
        [validity, pa.py_buffer(np.ascontiguousarray(full).tobytes())],
        null_count=null_count,
    )


def _requested_chunks(schema: StructType) -> list[str]:
    """Sorted names of every chunk a decode of ``schema`` may read, its
    value, validity and length chunks at any depth: the decode-side
    projection filter (SetSelectedColumns + SkipChunk analogue,
    schema/schema.go:212-232, layout/chunk.go:28-51)."""
    names: set[str] = set()

    def add(path: str, dt) -> None:
        names.update((path, f"{path}#def"))
        if isinstance(dt, StructType):
            for f in dt.fields:
                add(f"{path}.{f.name}", f.dataType)
        elif isinstance(dt, ArrayType):
            add(f"{path}#item", dt.elementType)
        elif isinstance(dt, MapType):
            add(f"{path}#key", dt.keyType)
            add(f"{path}#val", dt.valueType)

    for f in schema.fields:
        add(f.name, f.dataType)
    return sorted(names)


# ---------------------------------------------------------------------------
# skew-aware partition planning (north_rule: salted/range partitioning)
# ---------------------------------------------------------------------------

def _hashable_type(dt) -> bool:
    """Spark prohibits hash expressions over MAP-bearing columns
    (nondeterministic map iteration)."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


_PREIMAGE_CACHE: dict[int, list[int]] = {}

# distinct leading-key values past which plan_partitions refuses to plan
_MAX_PLAN_KEYS = 1_000_000

# most encode partitions routed through slot preimages, so that task i
# holds exactly the rows planned for part_id i; past it rows are hashed
_EXACT_ROUTE_MAX = 8192


def _slot_preimages(spark: SparkSession, n: int) -> list[int]:
    """``out[s]`` = a long v with ``pmod(murmur3(v), n) == s`` — i.e.
    ``repartition(n, col)`` places a row whose col is ``out[s]`` on
    physical partition s EXACTLY. This turns Spark's hash partitioner
    into an addressable one: the skew plan can stripe its buckets
    round-robin across all n slots instead of relying on hash placement
    (balls-into-bins leaves ~2x hot spots even with 8x oversampling).
    Found with one tiny Spark job probing ``F.hash`` (the same Murmur3
    seed-42 expression HashPartitioning uses), cached per size;
    deterministic (min id per slot), so part_ids stay resume-stable."""
    got = _PREIMAGE_CACHE.get(n)
    if got is not None:
        return got
    out: dict[int, int] = {}
    lo = 0
    while len(out) < n:
        # coupon collector: n·ln n expected draws; 64x covers w.h.p.
        hi = lo + max(65536, n * 64)
        rows = (
            spark.range(lo, hi)
            .select(F.pmod(F.hash("id"), F.lit(n)).alias("s"),
                    F.col("id").alias("v"))
            .groupBy("s").agg(F.min("v").alias("v"))
            .collect()
        )
        for r in rows:
            s = int(r["s"])
            if s not in out:
                out[s] = int(r["v"])
        lo = hi
    table = [out[s] for s in range(n)]
    _PREIMAGE_CACHE[n] = table
    return table


def plan_partitions(
    df: DataFrame,
    partition_by: tuple[str, ...],
    num_partitions: int,
) -> DataFrame:
    """Assign ``part_id``: contiguous bucket ranges per leading-key value,
    sized by row count, salted within the range by the remaining keys.

    With a single-column ``partition_by`` the salt falls back to a
    deterministic whole-row hash over the other (hashable) columns:
    salting by the range key itself would send EVERY row of a hot key to
    one bucket of its range, re-creating exactly the skew the range plan
    exists to defuse. Row-content salting keeps part_id a pure function
    of the row given the input and ``num_partitions`` (same input and
    plan ⇒ same part_id at any cluster size — the property lineage
    resume's anti-join depends on, which is why the lineage records
    ``num_partitions``).

    Buckets are OVERSAMPLED 8× past ``num_partitions`` and striped onto
    slots round-robin (``part_id = global_bucket mod n``): with exactly
    n coarse buckets, ``round(n·share)`` quantizes a 1.4-share source
    down to one bucket; at 8n granularity each bucket is ~1/(8n) of the
    data and consecutive buckets of a hot key land on consecutive slots,
    so per-slot mass evens out to row-level noise. The emitted part_id
    IS the physical partition index — :func:`encode_table` places it
    exactly via :func:`_slot_preimages` instead of re-hashing (hash
    placement would re-merge distinct buckets into hot tasks)."""
    key0 = partition_by[0]
    num_buckets = num_partitions * 8
    salt_keys = list(partition_by[1:])
    if not salt_keys:
        salt_keys = [
            f.name for f in df.schema.fields
            if f.name != key0 and _hashable_type(f.dataType)
        ] or [key0]
    # The plan is built on the driver from ONE collected aggregate: the
    # per-key counts arrive as Arrow, already in asc_nulls_first key
    # order (one coalesced task sorts them, so the order is Spark's),
    # and numpy turns them into bucket sizes and prefix-sum offsets. The
    # guard bounds both the collect and the broadcast of the plan — past
    # it, the leading key is too fine for range planning and pure hash
    # partitioning is the right tool anyway.
    counts = (
        df.groupBy(key0).count()
        .coalesce(1)
        .sortWithinPartitions(F.col(key0).asc_nulls_first())
        .limit(_MAX_PLAN_KEYS + 1)
        .toArrow()
    )
    if counts.num_rows > _MAX_PLAN_KEYS:
        raise ValueError(
            f"partition key {key0} has over 1e6 distinct values; "
            "use a coarser leading key or partition_by=None (pure hash)"
        )
    n = counts.column("count").to_numpy().astype(np.int64)
    # Spark's F.round(num_buckets * count / total): a long product, a
    # double quotient, then HALF_UP on the double's exact value
    share = (num_buckets * n).astype(np.float64) / np.float64(n.sum())
    whole = np.floor(share)
    buckets = np.maximum(1, whole + (share - whole >= 0.5)).astype(np.int32)
    offsets = (np.cumsum(buckets) - buckets).astype(np.int32)
    plan = df.sparkSession.createDataFrame(
        pa.table({"__k0": counts.column(0), "__offset": offsets,
                  "__buckets": buckets}),
        StructType([
            StructField("__k0", df.schema[key0].dataType, True),
            StructField("__offset", IntegerType(), False),
            StructField("__buckets", IntegerType(), False),
        ]),
    )
    salted = F.pmod(
        F.abs(F.xxhash64(*[F.col(c) for c in salt_keys])), F.col("__buckets")
    )
    # eqNullSafe: a nullable leading key still gets its bucket range (an
    # inner equi-join would silently drop null-key rows)
    return (
        df.join(F.broadcast(plan), F.col(key0).eqNullSafe(F.col("__k0")))
        .withColumn("__bucket", (F.col("__offset") + salted).cast("long"))
        .withColumn(
            "part_id",
            F.pmod(F.col("__bucket"), F.lit(num_partitions)).cast("long"),
        )
        .drop("__k0", "__offset", "__buckets")
    )


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _encode_scalar_chunk(
    name: str,
    arr: pa.Array,
    logical: str,
    codec: str | None,
    compression: str | None,
    bloom_fpp: float | None = None,
    kcache: dict | None = None,
) -> chunklib.EncodedChunk:
    """Encode a flat, already null-compacted scalar Arrow array — shared
    by top-level columns, struct leaves, list elements, and map
    keys/values. ``bloom_fpp`` attaches a split-block bloom filter over
    the chunk's values (kernels/bloom.py) for equality/IN pruning.
    ``kcache``: per-task kernel cache (FSST symbol tables reused across
    pages of one column — see chunk.encode_bytes)."""
    if (phys := _phys_of(logical)) is not None:
        if logical.startswith("decimal("):
            values = _decimal_to_int64(arr)
        elif phys != logical:
            # timestamp -> int64 micros, date -> int32 epoch-days:
            # Arrow casts are reinterpretations, not value conversions
            pa_phys = pa.int32() if phys == "int32" else pa.int64()
            values = arr.cast(pa_phys).to_numpy(zero_copy_only=False)
        else:
            values = arr.to_numpy(zero_copy_only=False)
        return chunklib.encode_numeric(name, values, phys, codec,
                                       compression=compression,
                                       bloom_fpp=bloom_fpp)
    if logical.startswith("decimal("):
        # DECIMAL(18 < p <= 38): 16-byte FLBA payloads through the
        # fixed-width byte path (the selector picks ba_fixed — zero
        # offset overhead — or dict_rle on heavy duplication)
        data_buf = _decimal_to_fixed(arr)
        offsets = np.arange(len(arr) + 1, dtype=np.int64) * 16
        return chunklib.encode_bytes(name, offsets, data_buf, codec,
                                     bloom_fpp=bloom_fpp, fsst_cache=kcache)
    if logical == "bool":
        values = arr.to_numpy(zero_copy_only=False)
        return chunklib.encode_bool(name, values, codec)
    if logical in ("string", "binary"):
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        ba = arr.cast(pa.large_binary())
        bufs = ba.buffers()
        offsets = np.frombuffer(
            bufs[1], dtype=np.int64, count=len(ba) + 1, offset=ba.offset * 8
        ).astype(np.int64)
        if bufs[2] is not None:
            data_buf = bytes(memoryview(bufs[2])[offsets[0] : offsets[-1]])
        else:
            data_buf = b""
        offsets = offsets - offsets[0]
        ck = chunklib.encode_bytes(name, offsets, data_buf, codec,
                                   bloom_fpp=bloom_fpp, fsst_cache=kcache)
        if logical == "string" and len(arr):
            _attach_string_stats(ck, arr)
        return ck
    raise TypeError(f"unsupported logical type {logical}")


_STR_STAT_MAX = 64  # codepoints kept per bound (parquet-style truncation)


def _attach_string_stats(ck: chunklib.EncodedChunk, arr: pa.Array) -> None:
    """Record lexicographic min/max of a string chunk in its ``extra``
    JSON — the stats the reference's ByteArrayStore declares but never
    sets (datastore/byte-array.go:8-12). Truncation keeps bounds valid:
    a truncated *min* prefix is still <= every value; a *max* is stored
    only when the full value fits (a truncated max would falsely bound
    above), otherwise absent = unbounded — pruning keeps the chunk.
    """
    import pyarrow.compute as pc

    mm = pc.min_max(arr)
    smin, smax = mm["min"].as_py(), mm["max"].as_py()
    if smin is None:
        return
    extra = json.loads(ck.extra) if ck.extra else {}
    extra["smin"] = smin[:_STR_STAT_MAX]
    if len(smax) <= _STR_STAT_MAX:
        extra["smax"] = smax
    ck.extra = json.dumps(extra)


def _encode_arrow_batch(
    batch: pa.RecordBatch,
    fields,
    part_id: int,
    chunk_id: int,
    group_key: str | None,
    codec_for: dict[str, str],
    default_codec: str | None = None,
    compression: str | None = None,
    bloom_for: dict[str, float] | None = None,
    kcache: dict | None = None,
) -> pa.RecordBatch:
    """Shred one Arrow batch into chunk rows by recursive descent over the
    schema tree — the flat-chunk collapse of the reference's rep/def-level
    shredder (schema/column.go:259-304): REPEATED nodes become length
    chunks, nullable nodes become validity chunks, leaves become value
    chunks, composable to any depth.

    ``codec_for`` routes forced codecs: an exact chunk-path key wins;
    a key naming a container (list/map/struct) is inherited by every
    scalar *value* chunk in its subtree (so ``codec={"mymap": "dict_rle"}``
    forces the key/value chunks — never a silent no-op). Length chunks
    take only the exact ``{path}#len`` key; validity only ``{path}#def``.
    """
    n_rows = batch.num_rows
    out_rows: list[dict] = []
    ordinal = [0]

    def emit(ck: chunklib.EncodedChunk, idx: int, logical: str) -> None:
        out_rows.append(_chunk_row(ck, part_id, chunk_id, group_key, idx,
                                   logical, n_rows, compression))

    def rec(path, arr, dt, enclosing, inherited) -> None:
        idx = ordinal[0]
        ordinal[0] += 1
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        inherited = codec_for.get(path, inherited)
        n = len(arr)
        if isinstance(dt, StructType):
            if not dt.fields:
                raise TypeError(f"empty struct column {path} cannot be encoded")
            # a null struct masks every descendant: children's validity is
            # AND-ed with the combined struct validity (the flat-bitvector
            # collapse of multi-level definition levels,
            # datastore/column.go:136-142)
            v = arr.is_valid().to_numpy(zero_copy_only=False)
            if enclosing is not None:
                v = v & enclosing
            has_nulls = not bool(v.all())
            if has_nulls:
                emit(chunklib.encode_bool(f"{path}#def", v,
                                          codec_for.get(f"{path}#def")),
                     idx, "bool")
            child_mask = v if has_nulls else None
            for f in dt.fields:
                rec(f"{path}.{f.name}", arr.field(f.name), f.dataType,
                    child_mask, inherited)
            return
        if enclosing is not None:
            valid = arr.is_valid().to_numpy(zero_copy_only=False) & enclosing
            null_count = n - int(valid.sum())
        else:
            null_count = arr.null_count
            valid = None
        if null_count:
            # Nullable node: the definition-level stream collapses to a
            # validity bitvector stored as a sibling `{path}#def` chunk
            # through the boolean codecs (RLE shines: null runs are long
            # in real data); only present values are encoded.
            if valid is None:
                valid = arr.is_valid().to_numpy(zero_copy_only=False)
            arr = arr.filter(pa.array(valid))
            emit(chunklib.encode_bool(f"{path}#def", valid,
                                      codec_for.get(f"{path}#def")),
                 idx, "bool")
        logical = _logical_of_dtype(dt, path)
        if isinstance(dt, (ArrayType, MapType)):
            offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lengths = np.diff(offsets).astype(np.int32)
            lo, span = int(offsets[0]), int(offsets[-1] - offsets[0])
            # the container's primary `{path}` chunk IS its length stream
            # (repetition levels collapsed to per-slot counts); logical
            # carries the full recursive type for schema recovery
            lk = chunklib.encode_numeric(path, lengths, "int32",
                                         codec_for.get(f"{path}#len"))
            lk.null_count = null_count
            emit(lk, idx, logical)
            if isinstance(dt, MapType):
                rec(f"{path}#key", arr.keys.slice(lo, span), dt.keyType,
                    None, inherited)
                rec(f"{path}#val", arr.items.slice(lo, span), dt.valueType,
                    None, inherited)
            else:
                rec(f"{path}#item", arr.values.slice(lo, span),
                    dt.elementType, None, inherited)
            return
        ck = _encode_scalar_chunk(
            path, arr, logical, inherited, compression,
            bloom_fpp=(bloom_for or {}).get(path), kcache=kcache,
        )
        ck.null_count = null_count
        emit(ck, idx, logical)

    for f in fields:
        rec(f.name, batch.column(batch.schema.get_field_index(f.name)),
            f.dataType, None, default_codec)

    cols_data = {
        k: [r[k] for r in out_rows] for k in _CHUNK_PA_SCHEMA.names
    }
    return pa.RecordBatch.from_pydict(cols_data, schema=_CHUNK_PA_SCHEMA)


def _chunk_row(
    ck: chunklib.EncodedChunk,
    part_id: int,
    chunk_id: int,
    group_key: str | None,
    col_idx: int,
    logical: str,
    n_rows: int,
    compression: str | None = None,
) -> dict:
    ck = chunklib.compress_chunk(ck, compression)
    return {
        "part_id": part_id,
        "chunk_id": chunk_id,
        "group_key": group_key,
        "col": ck.col,
        "col_idx": col_idx,
        "logical": logical,
        "codec": ck.codec,
        "dtype": ck.dtype,
        "n_rows": n_rows,
        "n_values": ck.n_values,
        "null_count": ck.null_count,
        "n_unique": ck.n_unique,
        "bit_width": ck.bit_width,
        "plain_bytes": ck.plain_bytes,
        "enc_bytes": ck.enc_bytes,
        "num_min": ck.num_min,
        "num_max": ck.num_max,
        "crc32": ck.crc32,
        "extra": ck.extra,
        "data": ck.data,
        "aux": ck.aux,
        "bloom": ck.bloom or None,
    }


def encode_table(
    df: DataFrame,
    *,
    partition_by: tuple[str, ...] | None = None,
    part_id_col: str | None = None,
    num_partitions: int | None = None,
    codec: str | dict[str, str] | None = None,
    group_key_col: str | None = None,
    compression: str | None = None,
    rows_per_chunk: int | None = 4096,
    target_chunk_bytes: int | None = None,
    bloom: Iterable[str] | dict[str, float] | None = None,
    sort_by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Encode every column of ``df`` into chunk rows (CHUNK_SCHEMA).

    ``bloom``: chunk paths (same addressing as ``codec`` dict keys —
    ``"doc_id"``, ``"spans#item.label"``) to cover with a per-chunk
    split-block bloom filter, or a dict path -> target FPP (default
    0.01). Blooms make equality/IN pruning (:func:`_group_passes`)
    decisive on high-cardinality columns where min/max stats span the
    key space and no dict page exists — opt-in, like parquet's
    ``bloom_filter_enabled`` writer property (the reference ships the
    thrift for it, parquet/parquet.go:4953-5024, but no writer).

    ``codec``: None = auto-select per chunk (SURVEY.md §7.3); a string
    forces one codec for every scalar value chunk; a dict maps chunk
    path -> codec (a container path is inherited by its subtree's value
    chunks). ``compression``: optional block compression over the encoded
    payload (reference's compression/ layer); kept per-chunk only when
    smaller.
    ``rows_per_chunk``: split each Arrow batch into zero-copy row slices
    of at most this size, one chunk group each — the analogue of the
    reference's page granularity (layout/page.go): the codec selector
    then adapts to local value distributions instead of averaging over a
    whole batch. Interleaved A/B on the 300M-token table: 4096 (default)
    is fastest AND smaller than unpaged (cache-sized kernel arrays);
    2048 maximizes ratio (+3.5%) at ~28% throughput cost; None = one
    chunk group per Arrow batch.
    ``target_chunk_bytes``: overrides ``rows_per_chunk`` with a BYTES
    target per page: rows-per-page = the largest power of two whose
    Arrow footprint (``batch.nbytes / batch.num_rows`` across all
    columns) fits the target, clamped to [512, 65536]. A fixed row
    count lands wide tables (lineitem, 16 cols) and narrow ones
    (documents) at very different page byte sizes; a bytes target puts
    both near the throughput-optimal point (sweep table in BENCH.md,
    `python bench.py --page-sweep`).
    ``part_id_col``: bring-your-own partitioning — an existing int
    column giving each row its encode partition directly (e.g. to align
    chunk groups with a pre-existing Iceberg partition layout). Bypasses
    the skew-aware planner entirely; the caller owns balance. Mutually
    exclusive with ``partition_by``. Exactness bound: the slot-preimage
    placement honors each distinct part_id as its own Spark partition
    only up to 8192 distinct values; beyond that the route falls back to
    hashing part_id, which may co-locate distinct part_ids in one task
    (chunk rows record the task's partition id, so those part_ids share
    its chunk groups). Raise ``num_partitions`` structure upstream or
    pre-split if >8192 exact groups are required.
    ``num_partitions``: encode partitions (= encode tasks). The default
    is ``defaultParallelism``, so the encode stage runs as ONE wave of
    tasks: every task pays a fixed Python-boundary cost, and a second
    wave pays it again without adding balance — the skew plan already
    oversamples 8× and stripes its buckets onto the slots.
    ``sort_by``: cluster rows by these columns INSIDE each partition
    before chunking (``sortWithinPartitions`` — a local sort, no extra
    shuffle). Sorted pages hand the codecs longer runs and smaller
    deltas: the classic sort-to-compress writer knob (parquet writers
    recommend the same). Measured at sf0.1: lineitem by l_shipdate
    3.50 -> 4.72 plain/enc. Decode order is unaffected (chunk tables
    are unordered; the engine's contract is set equality).
    """
    planned, pages = _plan_encode(
        df, partition_by, part_id_col, num_partitions, codec, group_key_col,
        compression, rows_per_chunk, target_chunk_bytes, bloom, sort_by)
    return planned.mapInArrow(pages, CHUNK_SCHEMA)


def _page_encoder(
    fields, codec_for: dict, default_codec: str | None = None,
    compression: str | None = None, bloom_for: dict | None = None,
    rows_per_chunk: int | None = 4096, target_chunk_bytes: int | None = None,
    group_key_col: str | None = None,
):
    """The page loop of every encode task (:func:`encode_table` and
    :func:`pysparkenc.datasource._stage_task`): a function that cuts each
    Arrow batch into zero-copy row slices, one page group of chunk rows
    each."""

    def encode(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        seq = 0
        kcache: dict = {}  # per-task FSST symbol reuse across pages
        for batch in batches:
            if batch.num_rows == 0:
                continue
            gk = None
            if group_key_col in batch.schema.names:
                gk = str(batch.column(group_key_col)[0])
            if target_chunk_bytes:
                row_b = max(1.0, batch.nbytes / batch.num_rows)
                raw = max(512, min(65536, int(target_chunk_bytes / row_b)))
                step = 1 << (raw.bit_length() - 1)
            else:
                step = rows_per_chunk or batch.num_rows
            for start in range(0, batch.num_rows, step):
                sub = batch.slice(start, step)
                yield _encode_arrow_batch(sub, fields, pid, seq, gk,
                                          codec_for, default_codec,
                                          compression, bloom_for, kcache)
                seq += 1

    return encode


def _plan_encode(
    df: DataFrame, partition_by=None, part_id_col=None, num_partitions=None,
    codec=None, group_key_col=None, compression=None, rows_per_chunk=4096,
    target_chunk_bytes=None, bloom=None, sort_by=None,
) -> tuple[DataFrame, Callable]:
    """:func:`encode_table` (same parameters) up to its encode stage: the
    planned, clustered DataFrame and the page encoder."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    def _contains_interval(dt) -> bool:
        if isinstance(dt, (DayTimeIntervalType, YearMonthIntervalType)):
            return True
        if isinstance(dt, StructType):
            return any(_contains_interval(x.dataType) for x in dt.fields)
        if isinstance(dt, ArrayType):
            return _contains_interval(dt.elementType)
        if isinstance(dt, MapType):
            return _contains_interval(dt.keyType) or _contains_interval(
                dt.valueType
            )
        return False

    for f in df.schema.fields:
        _logical_of(f)  # validate eagerly (driver-side error)
        if _contains_interval(f.dataType) and not isinstance(
            f.dataType, (DayTimeIntervalType, YearMonthIntervalType)
        ):
            # Spark's Arrow interop cannot carry interval values through
            # mapInArrow at all (PySparkNotImplementedError), so nested
            # intervals have no transport; top-level ones are converted
            # around the Arrow stage below. (A type check, not a logical-
            # string scan: a struct FIELD merely named `interval_*` must
            # not trip this.)
            raise TypeError(
                f"column {f.name}: INTERVAL nested inside {f.dataType} is "
                "not encodable — flatten it to a top-level column, or cast "
                "it to long (micros/months) before encode_table"
            )

    # Top-level INTERVAL columns (the reference's INTERVAL logical type,
    # parquet/parquet.go:2597-2612): Spark cannot move interval values
    # through mapInArrow in either direction, so encode converts them to
    # their exact physical integers *before* the Arrow stage — day-time
    # to int64 microseconds (epoch-shift trick keeps sub-second digits;
    # a direct BIGINT cast truncates to seconds), year-month to int32
    # months — while the recorded logical keeps the interval type (and
    # its start/end fields) so decode_table restores it Spark-side.
    orig_fields = list(df.schema.fields)
    iv_exprs = {}
    for f in orig_fields:
        if isinstance(f.dataType, DayTimeIntervalType):
            iv_exprs[f.name] = F.unix_micros(
                F.lit("1970-01-01 00:00:00Z").cast("timestamp") + F.col(f.name)
            )
        elif isinstance(f.dataType, YearMonthIntervalType):
            # widen to YEAR TO MONTH first: casting a YEAR-only interval
            # straight to int yields YEARS (Spark divides by the end
            # field), while the stored physical unit — and what decode
            # rebuilds via make_ym_interval — is MONTHS
            iv_exprs[f.name] = (
                F.col(f.name)
                .cast(
                    YearMonthIntervalType(
                        YearMonthIntervalType.YEAR,
                        YearMonthIntervalType.MONTH,
                    )
                )
                .cast("int")
            )
    if iv_exprs:
        df = df.withColumns(iv_exprs)
    if isinstance(codec, str):
        codec_for: dict[str, str] = {}
        default_codec: str | None = codec
    else:
        codec_for = dict(codec or {})
        default_codec = None
    if isinstance(bloom, dict):
        bloom_for: dict[str, float] = {k: float(v) for k, v in bloom.items()}
    else:
        bloom_for = {p: 0.01 for p in (bloom or ())}

    if group_key_col is None and partition_by:
        group_key_col = partition_by[0]

    if part_id_col is not None and partition_by:
        raise ValueError("pass either partition_by or part_id_col, not both")
    if part_id_col is not None:
        with_part = df.withColumn(
            "part_id", F.col(part_id_col).cast("long")
        ).drop(*([part_id_col] if part_id_col != "part_id" else []))
    elif partition_by:
        with_part = plan_partitions(df, partition_by, num_partitions)
    else:
        hash_cols = [f.name for f in df.schema.fields
                     if _hashable_type(f.dataType)]
        part_expr = (
            F.pmod(F.abs(F.xxhash64(*[F.col(c) for c in hash_cols])),
                   F.lit(num_partitions))
            if hash_cols
            else F.pmod(F.monotonically_increasing_id(),
                        F.lit(num_partitions))
        )
        with_part = df.withColumn("part_id", part_expr.cast("long"))

    # EXACT placement: repartition(n, "part_id") would re-hash the dense
    # slot ids and merge ~1/e of them into shared tasks (balls-into-bins)
    # — undoing the skew plan's balance. Routing through a hash-preimage
    # value per slot makes partition i hold exactly the rows with
    # part_id == i (tc.partitionId() below then equals the planned id).
    if num_partitions <= _EXACT_ROUTE_MAX:
        pre = _slot_preimages(spark, num_partitions)
        # literals MUST be LongType: Murmur3 of an int32 differs from the
        # int64 hash the preimages were probed against
        route = F.element_at(
            F.array(*[F.lit(v).cast("long") for v in pre]),
            (F.pmod(F.col("part_id"), F.lit(num_partitions)) + 1).cast("int"),
        )
    elif "__bucket" in with_part.columns:
        # a >8k-literal lookup would bloat the Catalyst plan; hash the
        # FINE bucket id instead — 8x oversampling keeps balls-into-bins
        # placement within ~2x of even
        route = F.col("__bucket")
    else:
        route = F.col("part_id")
    shuffled = (
        with_part.withColumn("__route", route)
        .repartition(num_partitions, "__route")
        .drop("__route", *(["__bucket"] if "__bucket" in with_part.columns else []))
    )

    # Striped placement balances partitions but interleaves the leading
    # key's rows inside each one; clustering by key0 (then any user sort
    # keys) restores PAGE-level homogeneity — dict/stat/bloom pruning
    # stays decisive, group_key metadata stays truthful, and the codecs
    # see runs again. Local sort, no shuffle; measured best-of-3 at 2M
    # rows it is net FASTER (4.60s vs 5.25s) and smaller (1.898 vs
    # 1.856 ratio) than leaving pages mixed.
    cluster: tuple[str, ...] = tuple(sort_by or ())
    if partition_by and partition_by[0] not in cluster:
        cluster = (partition_by[0], *cluster)
    if cluster:
        shuffled = shuffled.sortWithinPartitions(*cluster)

    # part_id_col is layout metadata, not data — never encoded; interval
    # columns keep their ORIGINAL field (the batch carries the converted
    # ints, the logical string records the interval type)
    fields = [f for f in orig_fields if f.name != part_id_col]
    return shuffled, _page_encoder(
        fields, codec_for, default_codec, compression, bloom_for,
        rows_per_chunk, target_chunk_bytes, group_key_col)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _interval_fields(logical: str) -> tuple[int, int]:
    a, b = logical[logical.index("[") + 1:-1].split(",")
    return int(a), int(b)


def _arrow_type_of(logical: str) -> pa.DataType:
    if logical == "date_day":
        return pa.date32()
    if logical.startswith("decimal("):
        p, s = _decimal_params(logical)
        return pa.decimal128(p, s)
    if logical.startswith("list<"):
        return pa.list_(_arrow_type_of(logical[5:-1]))
    if logical.startswith("map<"):
        k, v = _split_map_logical(logical)
        return pa.map_(_arrow_type_of(k), _arrow_type_of(v))
    if logical.startswith("struct<"):
        fields = []
        for part in _split_toplevel(logical[7:-1]):
            fname, ftype = part.split(":", 1)
            fields.append(pa.field(fname, _arrow_type_of(ftype), True))
        return pa.struct(fields)
    return {
        "int32": pa.int32(),
        "int64": pa.int64(),
        "float32": pa.float32(),
        "float64": pa.float64(),
        "bool": pa.bool_(),
        "string": pa.string(),
        "binary": pa.binary(),
        "timestamp_us": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz_us": pa.timestamp("us"),
    }[logical]


def _spark_type_of(logical: str):
    if logical == "date_day":
        return DateType()
    if logical.startswith("interval_dt_us"):
        return DayTimeIntervalType(*_interval_fields(logical))
    if logical.startswith("interval_ym_mo"):
        return YearMonthIntervalType(*_interval_fields(logical))
    if logical.startswith("decimal("):
        p, s = _decimal_params(logical)
        return DecimalType(p, s)
    if logical.startswith("list<"):
        return ArrayType(_spark_type_of(logical[5:-1]))
    if logical.startswith("map<"):
        k, v = _split_map_logical(logical)
        return MapType(_spark_type_of(k), _spark_type_of(v))
    if logical.startswith("struct<"):
        fields = []
        for part in _split_toplevel(logical[7:-1]):
            fname, ftype = part.split(":", 1)
            fields.append(StructField(fname, _spark_type_of(ftype), True))
        return StructType(fields)
    return {
        "int32": IntegerType(),
        "int64": LongType(),
        "float32": FloatType(),
        "float64": DoubleType(),
        "bool": BooleanType(),
        "string": StringType(),
        "binary": BinaryType(),
        "timestamp_us": TimestampType(),
        "timestamp_ntz_us": TimestampNTZType(),
    }[logical]


def _arrow_full_type(dtype, name: str) -> pa.DataType:
    if isinstance(dtype, StructType):
        return pa.struct(
            [
                pa.field(f.name, _arrow_full_type(f.dataType, f.name),
                         f.nullable)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, ArrayType):
        return pa.list_(
            pa.field("item", _arrow_full_type(dtype.elementType, name),
                     dtype.containsNull)
        )
    if isinstance(dtype, MapType):
        return pa.map_(
            pa.field("key", _arrow_full_type(dtype.keyType, name), False),
            pa.field("value", _arrow_full_type(dtype.valueType, name),
                     dtype.valueContainsNull),
        )
    return _arrow_type_of(_logical_of_dtype(dtype, name))


def output_schema_of_chunks(chunks_df: DataFrame) -> StructType:
    """Recover the original table schema from chunk metadata (a column is
    nullable iff any of its chunks recorded nulls). Dotted chunk names
    reassemble into nested structs (the reference's dotted leaf paths,
    schema/column.go:75-77); a top-level ``path#def`` chunk with no
    matching primary chunk marks a nullable struct. Container logicals
    (``list<…>``, ``map<…,…>``, nested ``struct<…>``) are parsed
    recursively; nested-node nullability defaults to nullable."""
    base = F.expr("substring(col, 1, length(col) - 4)")
    # ONE metadata job via grouping sets: the per-column rows carry
    # (max null_count, distinct groups carrying the column) and the
    # grand-total row carries the EXACT overall group count — NOT
    # max(ng): with disjoint-column runs (run 1 writes only a, run 2
    # only b) a per-column max would declare the widest column
    # non-nullable even though the other runs' groups decode it as
    # NULL. Payload bytes are never read.
    rows = (
        chunks_df.select(
            "col", "col_idx", "logical", "null_count", "part_id",
            "chunk_id",
        )
        # primary chunks never contain '#'; the only side chunks needed
        # are TOP-LEVEL struct-validity `#def` rows (nested `…#item#def`
        # etc. are reassembly details)
        .where(
            ~F.col("col").contains("#")
            | (F.col("col").endswith("#def") & ~base.contains("#"))
        )
    )
    agg = (
        rows.groupingSets(
            [["col", "col_idx", "logical"], []],
            "col", "col_idx", "logical",
        )
        .agg(
            F.max("null_count").alias("nc"),
            F.countDistinct("part_id", "chunk_id").alias("ng"),
        )
        .collect()
    )
    total_groups = 0
    meta = []
    for r in agg:
        if r["col"] is None:  # the grand-total grouping-set row
            total_groups = int(r["ng"])
        else:
            meta.append({"col": r["col"], "col_idx": r["col_idx"],
                         "logical": r["logical"], "nc": r["nc"],
                         "ng": r["ng"]})
    meta.sort(key=lambda m: m["col_idx"])
    return assemble_schema_from_meta(meta, total_groups=total_groups)


def assemble_schema_from_meta(
    meta: list[dict], total_groups: int | None = None
) -> StructType:
    """Rebuild a Spark schema from pre-aggregated chunk metadata rows
    ``{"col", "logical", "nc", "ng"}`` (one per distinct chunk name,
    sorted by ``col_idx``, primary chunks plus top-level ``#def`` rows
    only; ``nc`` = max null_count, ``ng`` = number of chunk groups
    carrying the column). Shared by :func:`output_schema_of_chunks`
    (Spark aggregation) and the data source's driver-side pyarrow
    recovery of a lineage store's schema.

    Nullability: a column is nullable when any chunk recorded nulls OR
    when some group lacks the column entirely (schema evolution — the
    page-group walk decodes those groups' rows as nulls, so the recovered
    field must admit them). ``total_groups`` is the EXACT number of
    distinct ``(part_id, chunk_id)`` groups across the store; callers
    that cannot supply it fall back to the per-column max, which is
    only an under-count when runs carry fully disjoint column sets."""
    value_rows = [r for r in meta if "#" not in r["col"]]
    if total_groups is None:
        total_groups = max((int(r.get("ng") or 0) for r in value_rows),
                           default=0)
    value_paths = {r["col"] for r in value_rows}
    nullable_structs = {
        r["col"][:-4]
        for r in meta
        if r["col"].endswith("#def") and r["col"][:-4] not in value_paths
    }
    root: dict = {}
    for r in value_rows:
        parts = r["col"].split(".")
        cursor = root
        for p in parts[:-1]:
            cursor = cursor.setdefault(p, {})
        nullable = r["nc"] > 0 or int(r.get("ng") or total_groups) < total_groups
        cursor[parts[-1]] = StructField(
            parts[-1], _spark_type_of(r["logical"]), nullable
        )

    def to_struct(d: dict, prefix: str = "") -> StructType:
        fields = []
        for k, v in d.items():
            if isinstance(v, dict):
                path = prefix + k
                fields.append(
                    StructField(k, to_struct(v, path + "."),
                                path in nullable_structs)
                )
            else:
                fields.append(v)
        return StructType(fields)

    return to_struct(root)


def _decode_scalar_array(
    ck: dict, logical: str, n_out: int, valid: np.ndarray | None
) -> pa.Array:
    """Decode one scalar chunk to a length-``n_out`` Arrow array,
    scattering the compacted values under ``valid`` (True = present) when
    a validity vector applies — shared by top-level columns, struct
    leaves, list elements, and map keys/values."""
    nulls = ~valid if valid is not None else None
    if (phys := _phys_of(logical)) is not None:
        vals = chunklib.decode_numeric({**ck, "dtype": phys})
        if valid is not None:
            full = np.zeros(n_out, dtype=vals.dtype)
            full[valid] = vals
        else:
            full = vals
        if logical.startswith("decimal("):
            # int64 -> decimal128 must reinterpret the unscaled value;
            # a pa cast would multiply by 10^scale
            return _int64_to_decimal(full, logical, valid)
        arr = pa.array(full, mask=nulls) if valid is not None else pa.array(full)
        return arr.cast(_arrow_type_of(logical))
    if logical.startswith("decimal("):
        # wide decimal: 16-byte FLBA payload back to decimal128
        offsets, data = chunklib.decode_bytes(ck)
        return _fixed_to_decimal(data, logical, n_out, valid)
    if logical == "bool":
        vals = chunklib.decode_bool(ck)
        if valid is not None:
            full = np.zeros(n_out, dtype=bool)
            full[valid] = vals
            return pa.array(full, mask=nulls)
        return pa.array(vals)
    offsets, data = chunklib.decode_bytes(ck)
    if valid is not None:
        lens = np.diff(offsets)
        full_len = np.zeros(n_out, dtype=np.int64)
        full_len[valid] = lens
        offsets = np.zeros(n_out + 1, dtype=np.int64)
        np.cumsum(full_len, out=offsets[1:])
        validity_buf = pa.py_buffer(np.packbits(valid, bitorder="little"))
        ba = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), n_out,
            [validity_buf, pa.py_buffer(offsets), pa.py_buffer(data)],
            null_count=int(nulls.sum()),
        )
    else:
        ba = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(),
            offsets.size - 1,
            [None, pa.py_buffer(offsets.astype(np.int64)),
             pa.py_buffer(data)],
        )
    return ba.cast(_arrow_type_of(logical))


def _corrupt(ck: dict, what: str) -> ValueError:
    """The typed error for a chunk row whose footer contradicts what the
    encoder (:func:`_encode_arrow_batch`) writes."""
    return ValueError(f"corrupt chunk {ck['col']!r} (part_id {ck['part_id']}, "
                      f"chunk_id {ck['chunk_id']}): {what}")


def _extra_of(ck: dict) -> dict:
    """A chunk's ``extra`` stats, written as ``""`` or a JSON object."""
    try:
        extra = json.loads(ck["extra"] or "{}")
    except ValueError:
        extra = None
    if not isinstance(extra, dict):
        raise _corrupt(ck, f"extra {ck['extra']!r} is not a JSON object")
    return extra


def _arrow_schema(schema: StructType) -> pa.Schema:
    return pa.schema(
        [(f.name, _arrow_full_type(f.dataType, f.name)) for f in schema.fields]
    )


_WALK_COLS = ("part_id", "chunk_id", "col", "codec", "dtype", "n_rows",
              "n_values", "null_count", "n_unique", "bit_width", "crc32",
              "extra")


def _walk_groups(
    schema: StructType, table: pa.Table, pushed: Iterable[_Pushed] = ()
) -> Iterator[pa.Table]:
    """THE page-group walk, the reference's skip-then-load loop
    (file-reader.go:110-112, 141-191), run per file by the file-local
    reader and per grouped-map call by :func:`decode_table`: cut
    ``table``'s chunk rows into page groups once, drop every group
    ``pushed`` proves empty (:func:`_page_groups`), then check and
    decode each survivor, yielding a pa.Table of ``schema`` per group.

    Only the schema's chunk paths are decoded, from zero-copy views of
    the Arrow buffers. Any other row of a group only supplies
    ``n_rows``, so a group written before every requested column
    existed decodes as all-null rows. A footer that contradicts the
    encoder raises :func:`_corrupt`: one ``n_rows`` per group,
    ``n_values`` equal to the present slots (all slots for a validity
    chunk), ``extra`` a JSON object."""
    if table.num_rows == 0:
        return
    out_schema = _arrow_schema(schema)
    wanted = set(_requested_chunks(schema))
    table, spans = _page_groups(table, list(pushed))
    metas = {c: table.column(c).to_pylist() for c in _WALK_COLS}
    data = table.column("data").combine_chunks()
    aux = table.column("aux").combine_chunks()
    by_col: dict[str, dict] = {}  # the current group's requested chunks

    def present(path: str, dt) -> bool:
        if isinstance(dt, StructType):
            return f"{path}#def" in by_col or any(
                present(f"{path}.{f.name}", f.dataType) for f in dt.fields
            )
        return path in by_col

    def counted(ck: dict, n: int) -> dict:
        if ck["n_values"] != n:
            raise _corrupt(ck, f"n_values {ck['n_values']} != {n} slots")
        return ck

    def build(path: str, dt, n_slots: int) -> pa.Array:
        if not present(path, dt):
            # schema evolution: this chunk group predates the column
            # (an appended store whose later batches added it) — the
            # reader contract matches parquet/iceberg: absent columns
            # read as typed nulls. Declare evolved columns nullable.
            return pa.nulls(n_slots, type=_arrow_full_type(dt, path))
        defck = by_col.get(f"{path}#def")
        valid = bitmap = None
        n_null = 0
        if defck is not None:
            valid = chunklib.decode_bool(counted(defck, n_slots))
            bitmap = pa.py_buffer(np.packbits(valid, bitorder="little"))
            n_null = int(n_slots - valid.sum())
        if isinstance(dt, StructType):
            children = [
                build(f"{path}.{f.name}", f.dataType, n_slots)
                for f in dt.fields
            ]
            # from_buffers, not from_arrays: Spark's applyInArrow
            # checks the result type *including field nullability*,
            # and from_arrays always yields all-nullable fields
            stype = pa.struct(
                [
                    pa.field(f.name, children[i].type, f.nullable)
                    for i, f in enumerate(dt.fields)
                ]
            )
            return pa.Array.from_buffers(
                stype, n_slots, [bitmap], null_count=n_null,
                children=children,
            )
        ck = counted(by_col[path], n_slots - n_null)
        if isinstance(dt, (ArrayType, MapType)):
            lengths = chunklib.decode_numeric({**ck, "dtype": "int32"})
            if valid is not None:
                full_len = np.zeros(n_slots, dtype=np.int64)
                full_len[valid] = lengths
            else:
                full_len = lengths.astype(np.int64)
            offsets = np.zeros(n_slots + 1, dtype=np.int32)
            np.cumsum(full_len, out=offsets[1:])
            n_elem = int(offsets[-1])
            if isinstance(dt, MapType):
                keys = build(f"{path}#key", dt.keyType, n_elem)
                items = build(f"{path}#val", dt.valueType, n_elem)
                entries = pa.Array.from_buffers(
                    pa.struct(
                        [
                            pa.field("key", keys.type, False),
                            pa.field("value", items.type,
                                     dt.valueContainsNull),
                        ]
                    ),
                    n_elem, [None], null_count=0,
                    children=[keys, items],
                )
                mtype = pa.map_(
                    pa.field("key", keys.type, False),
                    pa.field("value", items.type, dt.valueContainsNull),
                )
                return pa.Array.from_buffers(
                    mtype, n_slots,
                    [bitmap, pa.py_buffer(offsets)],
                    null_count=n_null, children=[entries],
                )
            child_arr = build(f"{path}#item", dt.elementType, n_elem)
            ltype = pa.list_(
                pa.field("item", child_arr.type, dt.containsNull)
            )
            return pa.Array.from_buffers(
                ltype, n_slots,
                [bitmap, pa.py_buffer(offsets)],
                null_count=n_null, children=[child_arr],
            )
        logical = _logical_of_dtype(dt, path)
        return _decode_scalar_array(ck, logical, n_slots, valid)

    for s, e in spans:
        rows = [{c: metas[c][j] for c in _WALK_COLS} for j in range(s, e)]
        counts = [ck["n_rows"] for ck in rows]
        n_rows = max(set(counts), key=counts.count)
        by_col = {}
        for j, ck in enumerate(rows, s):
            if ck["n_rows"] != n_rows:
                raise _corrupt(ck, f"n_rows {ck['n_rows']} != the page "
                                   f"group's {n_rows}")
            _extra_of(ck)
            if ck["col"] in wanted:
                ck["data"] = memoryview(data[j].as_buffer())
                ck["aux"] = (memoryview(aux[j].as_buffer())
                             if aux[j].is_valid else None)
                by_col[ck["col"]] = ck
        arrays = [build(f.name, f.dataType, n_rows) for f in schema.fields]
        yield pa.Table.from_arrays(arrays, schema=out_schema)


def _group_decoder(schema: StructType):
    """The whole-table form of :func:`_walk_groups`: a callable taking a
    pa.Table of CHUNK_SCHEMA rows (and optional pruning predicates) and
    returning every surviving page group decoded as one pa.Table, empty
    with the output schema when none survives."""

    def decode(table: pa.Table, pushed: Iterable[_Pushed] = ()) -> pa.Table:
        pieces = list(_walk_groups(schema, table, pushed))
        return (pa.concat_tables(pieces) if pieces
                else _arrow_schema(schema).empty_table())

    return decode


def arrow_safe_schema(
    schema: StructType,
) -> tuple[StructType, dict[str, object]]:
    """INTERVAL columns can't cross the Arrow boundary between the JVM
    and Python (``applyInArrow`` and the Python data source both refuse
    them, see encode_table): substitute each with its exact physical int
    (int64 micros for day-time, int32 months for year-month). Returns
    the substituted schema and ``{name: interval type}`` for
    :func:`restore_intervals`, which casts them back Spark-side."""
    restore: dict[str, object] = {}
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, DayTimeIntervalType):
            fields.append(StructField(f.name, LongType(), f.nullable))
            restore[f.name] = f.dataType
        elif isinstance(f.dataType, YearMonthIntervalType):
            fields.append(StructField(f.name, IntegerType(), f.nullable))
            restore[f.name] = f.dataType
        else:
            fields.append(f)
    return (StructType(fields) if restore else schema), restore


def restore_intervals(df: DataFrame, restore: dict[str, object]) -> DataFrame:
    """Inverse of :func:`arrow_safe_schema`'s substitution: exact casts
    back to the interval types (timestamp difference for day-time micros,
    ``make_ym_interval`` for year-month months)."""
    for name, dt in restore.items():
        if isinstance(dt, DayTimeIntervalType):
            iv = F.timestamp_micros(F.col(name)) - F.timestamp_micros(F.lit(0))
        else:
            iv = F.make_ym_interval(F.lit(0), F.col(name))
        df = df.withColumn(name, iv.cast(dt))
    return df


def decode_table(
    chunks_df: DataFrame,
    schema: StructType | None = None,
    *,
    pages_per_group: int = 64,
    part_col: str | None = None,
) -> DataFrame:
    """Inverse of :func:`encode_table`: chunk rows -> original rows.
    Nested columns reassemble recursively from their subtree chunks
    (lengths re-inflate to offsets level by level, validity bitvectors
    scatter values back under their slots — the inverse Dremel walk of
    datastore/column.go:127-177, without materializing level streams).

    Column projection pushes down through the encoded representation:
    pass a schema containing only the columns you need and the chunk scan
    is filtered to exactly those chunks (plus their validity/length side
    chunks) *before* the group shuffle — on a parquet-backed chunk table
    the filter reaches the scan as a pushed predicate, the Spark-side
    analogue of the reference's SetSelectedColumns + SkipChunk
    (schema/schema.go:212-232, layout/chunk.go:28-51).

    The chunk rows shuffle once, grouped by (``part_id``, page group //
    ``pages_per_group``), so every ``applyInArrow`` call holds whole page
    groups and runs the same page-group walk as the file-local reader
    (:func:`_walk_groups`).

    ``pages_per_group`` batches that many consecutive chunk groups (pages)
    of a partition into ONE ``applyInArrow`` call: page granularity keeps
    its encode-side selector benefits while the decode amortizes the
    per-call Python/Arrow overhead over ~256k rows instead of 4096.
    Executor memory stays bounded by ``pages_per_group × page size``.
    Sweep at sf0.1 (isolated, best-of-2): lineitem (wide, 11 cols)
    32→0.87s 64→0.75s 128→0.70s; documents (fat text) 32→0.74s
    64→0.58s 128→0.71s. 64 takes most of the win on both shapes while
    keeping the worst-case per-task footprint (4096-row pages of ~2 KB
    rows) near 512 MB; go higher only with bytes-targeted pages.

    ``part_col``: also emit each row's chunk-group partition id (the
    combined ``run_id * 2^32 + part_id`` of a lineage-committed store)
    as a LongType column of that name — row provenance for readers that
    need the writing run, e.g. equality-delete sequencing
    (:func:`pysparkenc.lineage.apply_deletes`). Costs nothing: the id is a
    grouping key the decode shuffle already carries.
    """
    return _decode_chunks(chunks_df, schema, [], pages_per_group, part_col)


def _decode_chunks(
    chunks_df: DataFrame,
    schema: StructType | None,
    pushed: list[_Pushed],
    pages_per_group: int = 64,
    part_col: str | None = None,
) -> DataFrame:
    """:func:`decode_table`, dropping the page groups ``pushed`` proves
    empty inside the walk (:func:`scan_table`)."""
    if schema is None:
        schema = output_schema_of_chunks(chunks_df)
    schema, iv_restore = arrow_safe_schema(schema)
    requested = F.col("col").isin(_requested_chunks(schema))
    # any chunk row carries its page group's n_rows, so a group written
    # before EVERY requested column existed (an appended store whose
    # later runs added the column) still decodes, as all-null rows: keep
    # each column's primary chunk (no '#' in its path; every group holds
    # one). The walk never reads the payloads of the other columns:
    # nulling them here only cuts the bytes the shuffle moves
    chunks_df = chunks_df.where(
        requested | ~F.col("col").contains("#")).withColumns({
            c: F.when(requested, F.col(c)) for c in ("data", "aux", "bloom")})
    decode_pages = _group_decoder(schema)
    out_schema = schema
    if part_col is not None:
        if part_col in {f.name for f in schema.fields}:
            raise ValueError(f"part_col {part_col!r} collides with a column")
        out_schema = StructType(
            schema.fields + [StructField(part_col, LongType(), False)]
        )

    def decode(t: pa.Table) -> pa.Table:
        res = decode_pages(t, pushed)
        if part_col is None:
            return res
        pid = t.column("part_id")[0].as_py()
        return res.append_column(
            part_col, pa.array([pid] * res.num_rows, pa.int64())
        )

    out = chunks_df.withColumn(
        "__pg",
        F.floor(F.col("chunk_id") / F.lit(pages_per_group)).cast("long"),
    ).groupBy("part_id", "__pg").applyInArrow(decode, out_schema)
    return restore_intervals(out, iv_restore)


def aggregate_chunks(chunks_df: DataFrame, cols: list[str]) -> DataFrame:
    """Metadata-only aggregate pushdown: COUNT / SUM / MIN / MAX of the
    named scalar columns answered from footer stats alone — payload
    bytes are never decoded (the plan has no Arrow/Python stage), so a
    100 TB store answers in one tiny metadata scan.

    Semantics match SQL aggregates over the decoded table: ``n_values``
    of a value chunk counts only present (non-null) values, ``num_min``/
    ``num_max`` are NaN-safe chunk stats, and ``sum_val`` folds the
    exact per-chunk integer sums the encoder records (int columns only —
    float sums are order-dependent; ``sum_val`` is null when any chunk
    lacks one). The reference's stats layer has min/max/null-count but
    no sums (``datastore/column.go``), so this pushdown has no analogue
    there.

    Precision note: ``min_val``/``max_val`` come from the float64 stat
    columns, exact for every int up to 2^53. Per-chunk sums are recorded
    as arbitrary-precision ints and folded in decimal(38,0), so sums
    beyond int64 still aggregate exactly; ``sum_val`` is null — never a
    wrapped value — when the total falls outside int64 (or past 38
    digits, where Spark's non-ANSI decimal sum yields null and the range
    check fails with it).
    """
    s_raw = F.get_json_object("extra", "$.sum")
    # parse straight into decimal(38,0): a per-chunk sum past int64 (the
    # recorded JSON text is arbitrary-precision) still aggregates
    # exactly instead of casting to null and silently nullifying SUM
    s = s_raw.cast("decimal(38,0)")
    meta = chunks_df.where(F.col("col").isin(list(cols))).select(
        "col", "n_values", "num_min", "num_max",
        s.alias("__s"),
        # a non-empty chunk without a parseable recorded sum (absent, or
        # past 38 digits) poisons SUM — null, never a wrapped value
        F.when((F.col("n_values") > 0) & s.isNull(), F.lit(1))
        .otherwise(F.lit(0)).alias("__nosum"),
    )
    total = F.sum("__s")  # decimal(38,0): raises on overflow, never wraps
    return meta.groupBy("col").agg(
        F.sum("n_values").cast("long").alias("n_values"),
        F.when(
            (F.sum("__nosum") == 0)
            & (total >= F.lit(-(2 ** 63)).cast("decimal(38,0)"))
            & (total <= F.lit(2 ** 63 - 1).cast("decimal(38,0)")),
            total,
        )
        .cast("long").alias("sum_val"),
        F.min("num_min").alias("min_val"),
        F.max("num_max").alias("max_val"),
    )


def footer(chunks_df: DataFrame) -> DataFrame:
    """Footer-style metadata view: every chunk's stats, no payload bytes
    (the queryable analogue of the reference's thrift FileMetaData,
    file-reader.go:193-253)."""
    return chunks_df.drop("data", "aux")


def _bloom_probe_hashes(svals, nvals):
    """Precomputed uint64 probe hashes for bloom consults: ``hbytes``
    over the encoded byte probes, ``hints`` over integer probes (only
    when the probe array is exactly integer-typed — a float probe like
    5.0 must not alias the int key space)."""
    from .kernels.bloom import hash_bytes, hash_numeric

    hbytes = hints = None
    if svals:
        vals = sorted(svals)
        off = np.zeros(len(vals) + 1, dtype=np.int64)
        np.cumsum([len(v) for v in vals], out=off[1:])
        hbytes = hash_bytes(off, b"".join(vals))
    if nvals is not None and np.asarray(nvals).dtype.kind in "iu":
        hints = hash_numeric(np.asarray(nvals, dtype=np.int64), "int64")
    return hbytes, hints


def _dict_page_values(aux, extra: dict, dtype: str, n_unique: int):
    """Open one dict page: raw ``aux`` -> optional block decompression
    (``extra['comp']``) -> decode. Returns a numpy array for numeric
    dtypes, ``(offsets, data)`` for byte dtypes. THE single aux-opening
    protocol — shared by the isin probe and :func:`distinct_values` so
    a future framing change cannot diverge between them."""
    from . import compress as blockcomp
    from .kernels.dictenc import (
        dict_page_decode_bytes,
        dict_page_decode_numeric,
    )

    aux = bytes(aux) if aux is not None else b""
    if comp := extra.get("comp"):
        aux = blockcomp.decompress(comp, aux)
    if dtype in ("int32", "int64", "float32", "float64"):
        return dict_page_decode_numeric(aux, dtype, n_unique)
    return dict_page_decode_bytes(aux, n_unique)


def _chunk_passes_isin(
    codec: str,
    dtype: str,
    n_unique,
    num_min,
    num_max,
    extra: dict,
    aux,
    *,
    svals: set,
    strs: list,
    fvals,
    nvals=None,
    logical=None,
    bloom=None,
    hbytes=None,
    hints=None,
) -> bool:
    """Single-chunk IN-list probe of :func:`_group_passes` (probe sets
    from :func:`_isin_probe`). ``fvals`` is a sorted float64 array
    for numeric probes or None for string/bytes probes (``svals`` =
    encoded byte set, ``strs`` = sorted decoded strings); ``nvals``
    keeps the probe values in their exact dtype for the dict-page
    membership test (int64 beyond 2^53 must not round). Missing stats
    keep the chunk — pruning must never drop rows it can't bound.

    ``bloom`` (+ precomputed probe hashes ``hbytes``/``hints`` and the
    chunk's ``logical`` type) consults the chunk's split-block bloom
    filter first: a bloom miss is DEFINITIVE absence regardless of what
    stats say; a bloom hit (possible false positive) falls through to
    the dict/stat tests which can still prune. The bloom is only
    trusted when the probe domain provably matches the hashed domain —
    byte probes against string/binary chunks, integer probes against
    int chunks; anything else (floats, decimals, cross-typed probes)
    ignores it rather than risk a false prune."""
    if bloom is not None and len(bloom):
        from .kernels.bloom import bloom_check

        probe_h = None
        if fvals is None and logical in ("string", "binary"):
            probe_h = hbytes
        elif fvals is not None and logical in ("int32", "int64"):
            probe_h = hints
        if probe_h is not None and not bool(
            bloom_check(bytes(bloom), probe_h).any()
        ):
            return False

    if codec == "dict_rle":
        nu = int(n_unique)
        if dtype in ("int32", "int64", "float32", "float64"):
            if fvals is None:
                return False  # string probe against a numeric dict chunk
            uniques = _dict_page_values(aux, extra, dtype, nu)
            probe_vals = nvals if nvals is not None else fvals
            return bool(np.isin(probe_vals, uniques).any())
        if fvals is not None:
            # numeric probe against a byte dict (a wide DECIMAL's 16-byte
            # fixed values): the domains can't be compared — keep
            return True
        d_off, d_data = _dict_page_values(aux, extra, dtype, nu)
        raw = bytes(d_data)
        return any(
            raw[d_off[j]: d_off[j + 1]] in svals for j in range(nu)
        )
    if fvals is None:
        smin, smax = extra.get("smin"), extra.get("smax")
        return any(
            (smin is None or smin <= v) and (smax is None or smax >= v)
            for v in strs
        )
    mn, mx = num_min, num_max
    if mn is not None and np.isnan(mn):
        mn = None
    if mx is not None and np.isnan(mx):
        mx = None
    return bool(
        np.any(
            ((fvals >= mn) if mn is not None else True)
            & ((fvals <= mx) if mx is not None else True)
        )
    )


def _chunk_passes_range(num_min, num_max, extra: dict, lo, hi) -> bool:
    """Single-chunk range-overlap test of :func:`_group_passes`,
    NaN/missing-stat-safe.
    String bounds consult the truncation-safe smin/smax in ``extra``."""
    if isinstance(lo, str) or isinstance(hi, str):
        smin, smax = extra.get("smin"), extra.get("smax")
        if lo is not None and smax is not None and smax < str(lo):
            return False
        if hi is not None and smin is not None and smin > str(hi):
            return False
        return True
    if lo is not None:
        mx = num_max
        if mx is not None and not np.isnan(mx) and mx < float(lo):
            return False
    if hi is not None:
        mn = num_min
        if mn is not None and np.isnan(mn):
            # all-NaN chunk: NaN sorts greatest, can never satisfy <= hi
            return False
        if mn is not None and mn > float(hi):
            return False
    return True


# ---------------------------------------------------------------------------
# page-group pruning: the one evaluator behind scan_table, read_store and
# the pysparkenc data source (the reference's SkipRowGroup,
# file-reader.go:110-112, extended with dict-page and bloom probes)
# ---------------------------------------------------------------------------

def _isin_probe(values: tuple) -> dict:
    """The probe sets :func:`_chunk_passes_isin` takes for an IN list:
    the encoded byte set, the sorted decoded strings, the sorted
    float64 and exact-dtype numerics (None for a string probe) and the
    bloom probe hashes."""
    is_bytes = isinstance(values[0], (str, bytes))
    svals = {v if isinstance(v, bytes) else str(v).encode() for v in values}
    nvals = None if is_bytes else np.asarray(sorted(values))
    hbytes, hints = _bloom_probe_hashes(svals if is_bytes else None, nvals)
    return dict(
        svals=svals,
        strs=sorted(s.decode(errors="replace") for s in svals),
        fvals=None if is_bytes else np.array(sorted(values), np.float64),
        nvals=nvals, hbytes=hbytes, hints=hints,
    )


@dataclasses.dataclass
class _Pushed:
    """One picklable page-group pruning predicate, values in the
    column's physical domain. ``kind`` is ``"isin"`` (``values``),
    ``"range"`` (``lo``/``hi``, None unbounded), ``"notnull"``,
    ``"isnull"``, ``"prefix"`` (``values[0]``) or ``"or"`` (``values``
    holds the branch predicates, ``col`` is None). An IN list's probe
    sets are built once here, not once per page group."""

    col: str | None
    kind: str
    values: tuple = ()
    lo: object = None
    hi: object = None
    probe: dict | None = dataclasses.field(
        default=None, init=False, repr=False, compare=False
    )

    def __post_init__(self):
        if self.kind == "isin":
            self.probe = _isin_probe(self.values)

    def cols(self) -> set[str]:
        if self.kind == "or":
            return set().union(*(b.cols() for b in self.values))
        return {self.col}


def _term_pushed(col: str, op: str, v) -> _Pushed | None:
    """The pruning predicate of one simple ``where`` term, or None for
    ``!=`` / ``not in`` (an inequality never proves a group empty)."""
    if op in ("==", "="):
        return _Pushed(col, "isin", (v,))
    if op == "in":
        return _Pushed(col, "isin", tuple(v))
    if op in _RANGE_OPS:
        lo, hi = _range_bounds(op, v)
        return _Pushed(col, "range", lo=lo, hi=hi)
    return None


def where_pushed(where: list[tuple]) -> list[_Pushed]:
    """Page-group pruning predicates for an AND of :func:`scan_table`
    ``where`` entries (validated by :func:`plan_scan`): ``==`` / ``in``
    prune by dict pages, blooms and stats, range ops by stats (strict
    bounds with the inclusive superset). An ``("or", …)`` entry prunes
    when every branch can — a group is kept if any branch keeps it —
    and prunes nothing if a branch is ``!=`` / ``not in``. The caller
    still filters the rows: pruning only drops page groups that
    provably hold no match."""
    out = []
    for w in where:
        branches = [_term_pushed(*t) for t in _or_terms(w)]
        if any(b is None for b in branches):
            continue
        out.append(branches[0] if len(branches) == 1
                   else _Pushed(None, "or", tuple(branches)))
    return out


def _group_passes(meta: dict[str, dict], p: _Pushed) -> bool:
    """THE page-group skip decision: can the group whose chunk footer
    rows are ``meta`` (chunk name -> row) hold a row satisfying ``p``?
    False only when the footer proves it cannot; missing stats keep
    the group. A group with no chunk for ``p.col`` was written before
    the column existed and decodes as all-null rows, so only IS NULL
    can match it."""
    if p.kind == "or":
        return any(_group_passes(meta, b) for b in p.values)
    d = meta.get(p.col)
    if d is None:
        return p.kind == "isnull"
    if p.kind == "notnull":
        nr, nc = d["n_rows"], d["null_count"]
        return not (nr is not None and nc is not None and nc >= nr)
    if p.kind == "isnull":
        # IS NULL can only match a group that recorded some nulls
        nc = d["null_count"]
        return nc is None or nc > 0
    extra = _extra_of(d)
    if p.kind == "prefix":
        pref = str(p.values[0])
        smin, smax = extra.get("smin"), extra.get("smax")
        if smax is not None and smax < pref:
            return False
        if smin is not None and smin > pref and not smin.startswith(pref):
            return False
        return True
    if p.kind == "isin":
        return _chunk_passes_isin(
            d["codec"], d["dtype"], d["n_unique"], d["num_min"], d["num_max"],
            extra, d["aux"], logical=d["logical"], bloom=d["bloom"],
            **p.probe,
        )
    return _chunk_passes_range(d["num_min"], d["num_max"], extra, p.lo, p.hi)


_META_COLS = ("part_id", "chunk_id", "col", "codec", "dtype", "logical",
              "n_rows", "null_count", "n_unique", "num_min", "num_max",
              "extra", "aux", "bloom")


def _page_groups(
    table: pa.Table, pushed: list[_Pushed]
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Chunk rows sorted by (part_id, chunk_id), and the [start, end)
    row span of every page group that passes every predicate in
    ``pushed`` (:func:`_group_passes` over the group's predicate-column
    footer rows)."""
    import pyarrow.compute as pc

    pid = table.column("part_id").to_numpy()
    cid = table.column("chunk_id").to_numpy()
    order = np.lexsort((cid, pid))
    table = table.take(pa.array(order))
    pid, cid = pid[order], cid[order]
    keys = pid * (int(cid.max()) + 1 if cid.size else 1) + cid
    cuts = np.concatenate(
        [[0], np.flatnonzero(np.diff(keys)) + 1, [keys.size]]
    )
    spans = [(int(s), int(e)) for s, e in zip(cuts[:-1], cuts[1:])]
    if not pushed:
        return table, spans
    pcols = pa.array(sorted(set().union(*(p.cols() for p in pushed))),
                     pa.string())
    rows = np.flatnonzero(
        pc.is_in(table.column("col"), value_set=pcols)
        .to_numpy(zero_copy_only=False)
    )
    meta = table.take(pa.array(rows, pa.int64()))
    have = set(meta.schema.names)
    vals = {c: (meta.column(c).to_pylist() if c in have
                else [None] * len(rows))  # pre-bloom stores
            for c in _META_COLS}
    at = np.searchsorted(rows, cuts)
    kept = []
    for i, span in enumerate(spans):
        group = {vals["col"][j]: {c: vals[c][j] for c in _META_COLS}
                 for j in range(at[i], at[i + 1])}
        if all(_group_passes(group, p) for p in pushed):
            kept.append(span)
    return table, kept


def count_rows(chunks_df: DataFrame) -> int:
    """Metadata-only ``COUNT(*)``: every column of a chunk group spans
    the same rows, so the table's row count is the sum over groups of
    the group's row count (max ``n_rows`` across its chunk rows — value
    chunks of nullable columns record the full slot count). One tiny
    footer aggregation; no payload is decoded. PHYSICAL-store semantics
    (pre-delete), like :func:`aggregate_chunks`."""
    r = (
        chunks_df.groupBy("part_id", "chunk_id")
        .agg(F.max("n_rows").alias("g"))
        .agg(F.sum("g"))
        .collect()[0][0]
    )
    return int(r or 0)


def require_flat_scalar(schema: StructType, col: str):
    """Return ``schema[col]`` (KeyError if absent), rejecting nested and
    interval columns with TypeError — the validation contract shared by
    :func:`distinct_values` and the CLI's ``--distinct`` modes."""
    field = schema[col]  # KeyError on unknown column
    if isinstance(
        field.dataType,
        (ArrayType, MapType, StructType, DayTimeIntervalType,
         YearMonthIntervalType),
    ):
        raise TypeError(
            f"distinct over flat scalar columns only; {col} is "
            f"{field.dataType}"
        )
    return field


_DISTINCT_FAST_LOGICALS = (
    "int32", "int64", "float32", "float64", "string", "binary",
    "date_day", "timestamp_us", "timestamp_ntz_us",
)


def distinct_values(
    chunks_df: DataFrame,
    col: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Exact ``SELECT DISTINCT col`` over an encoded store, answered
    from DICTIONARY PAGES wherever chunks dict-encoded: each dict page
    already IS its chunk's distinct set, so the fast path reads only
    footer metadata + the (tiny) ``aux`` dict payloads — the code
    stream ``data`` is never touched. Chunks under any other codec fall
    back to a one-column projected decode of just their chunk groups,
    and the two sides union-distinct. On a clustered store (the layout
    ``encode_table(partition_by=...)`` produces) low-cardinality
    columns dict-encode everywhere and the whole answer is
    metadata-scale — the operator a vocabulary/enum audit over 100 TB
    wants. The reference keeps dict pages decode-internal
    (``layout/page-dict.go``); surfacing them as a query structure has
    no analogue there.

    NULL is a distinct value (SQL semantics): the fallback decode
    carries nulls natively, and the fast path re-adds NULL when any
    dict chunk records a positive ``null_count`` (dict pages hold only
    present values). Flat scalar columns only — nested and interval
    columns raise.

    PHYSICAL-store semantics (same contract as ``aggregate_chunks`` and
    the stats report): values retracted by committed-but-unmaterialized
    equality deletes still appear — metadata cannot know which rows an
    anti-join would drop. For delete-aware DISTINCT use
    ``read_store(...).select(col).distinct()``; compaction re-aligns
    the physical store with the visible table."""
    if schema is None:
        schema = output_schema_of_chunks(chunks_df)
    field = require_flat_scalar(schema, col)
    logical = _logical_of(field)
    out_schema = StructType([StructField(col, field.dataType, True)])
    meta = chunks_df.where(F.col("col") == col)
    fast_ok = (
        logical in _DISTINCT_FAST_LOGICALS
        or (logical.startswith("decimal(")
            and _decimal_params(logical)[0] <= 18)
    )

    if fast_ok:
        is_dict = F.col("codec") == "dict_rle"

        def dict_uniques(
            batches: Iterable[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            for b in batches:
                cols = {
                    n: b.column(i) for i, n in enumerate(b.schema.names)
                }
                arrs: list[pa.Array] = []
                for i in range(b.num_rows):
                    extra = json.loads(cols["extra"][i].as_py() or "{}")
                    nu = int(cols["n_unique"][i].as_py())
                    dtype = cols["dtype"][i].as_py()
                    got = _dict_page_values(
                        cols["aux"][i].as_py(), extra, dtype, nu
                    )
                    if dtype in ("int32", "int64", "float32", "float64"):
                        if logical.startswith("decimal("):
                            arr = _int64_to_decimal(
                                got.astype(np.int64), logical, None
                            )
                        else:
                            arr = pa.array(got).cast(_arrow_type_of(logical))
                    else:
                        d_off, d_data = got
                        lb = pa.LargeBinaryArray.from_buffers(
                            pa.large_binary(), nu,
                            [None,
                             pa.py_buffer(
                                 np.ascontiguousarray(d_off, np.int64)),
                             pa.py_buffer(d_data)],
                        )
                        arr = lb.cast(_arrow_type_of(logical))
                    arrs.append(arr)
                if arrs:
                    yield pa.RecordBatch.from_arrays(
                        [pa.concat_arrays(arrs)], names=[col]
                    )

        dict_vals = meta.where(is_dict).select(
            "dtype", "n_unique", "null_count", "extra", "aux"
        ).mapInArrow(dict_uniques, out_schema)
        # dict pages hold present values only — NULL re-enters from the
        # null_count footer stat (SQL DISTINCT includes NULL)
        null_row = (
            meta.where(is_dict & (F.col("null_count") > 0))
            .limit(1)
            .select(F.lit(None).cast(field.dataType).alias(col))
        )
        # schema evolution: chunk groups written BEFORE the column
        # existed decode as all-null rows — they have no chunk for `col`
        # at all, so they contribute NULL here exactly as a full decode
        # would
        evolved_null = (
            chunks_df.select("part_id", "chunk_id")
            .join(
                meta.select("part_id", "chunk_id").distinct(),
                ["part_id", "chunk_id"],
                "left_anti",
            )
            .limit(1)
            .select(F.lit(None).cast(field.dataType).alias(col))
        )
        rest_groups = (
            meta.where(~is_dict).select("part_id", "chunk_id").distinct()
        )
        rest_chunks = chunks_df.join(
            rest_groups, ["part_id", "chunk_id"], "left_semi"
        )
        rest_vals = decode_table(rest_chunks, StructType([field]))
        return (
            dict_vals.unionByName(rest_vals)
            .unionByName(null_row)
            .unionByName(evolved_null)
            .distinct()
        )
    # unsupported fast-path logical (wide decimal FLBA dicts, bool):
    # plain projected decode — still column-pruned to one column
    return decode_table(chunks_df, StructType([field])).distinct()


def _isin_physical(field, values: list):
    """Flat IN-list residual with every probe converted from the
    physical domain (:func:`_physical_bound`); Column args keep the
    expression one ``In`` node deep — an OR-chain would grow the tree
    linearly with takedown-scale lists."""
    if _has_converted_domain(field):
        return F.col(field.name).isin(
            *[_physical_bound(field, v) for v in values]
        )
    return F.col(field.name).isin(values)


def _has_converted_domain(field) -> bool:
    """True when the column's footer stats (and therefore every
    ``where`` value) live in a *physical* domain distinct from the Spark
    type — see :func:`_physical_bound`."""
    logical = _logical_of(field)
    return (
        logical == "date_day"
        or logical.startswith("timestamp")
        or logical.startswith("interval_")
        or logical.startswith("decimal(")
    )


def _physical_bound(field, v):
    """Turn a bound given in a column's *physical* numeric domain (the
    domain footer stats live in: epoch-days for DATE, micros for
    timestamps and day-time intervals, months for year-month intervals,
    unscaled int for DECIMAL) into a literal of the column's type."""
    logical = _logical_of(field)
    if logical == "date_day":
        return F.date_add(F.lit("1970-01-01").cast("date"), int(v))
    if logical.startswith("timestamp_ntz"):
        # tz-free construction: NTZ wall-clock micros are the physical
        # value, but timestamp_micros builds an LTZ instant and a cast
        # to NTZ would shift it by the session timezone — add the micros
        # to the NTZ epoch as a day-time interval instead
        return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz") + (
            F.timestamp_micros(F.lit(int(v))) - F.timestamp_micros(F.lit(0))
        )
    if logical.startswith("timestamp"):
        return F.timestamp_micros(F.lit(int(v)))
    if logical.startswith("interval_dt_us"):
        return (
            F.timestamp_micros(F.lit(int(v))) - F.timestamp_micros(F.lit(0))
        ).cast(field.dataType)
    if logical.startswith("interval_ym_mo"):
        return F.make_ym_interval(F.lit(0), F.lit(int(v))).cast(field.dataType)
    if logical.startswith("decimal("):
        _, s = _decimal_params(logical)
        return (F.lit(int(v)).cast("decimal(20,0)")
                / F.lit(10 ** s)).cast(field.dataType)
    return F.lit(v)


_RANGE_OPS = (">=", "<=", ">", "<", "between")


def _or_terms(w: tuple) -> list[tuple]:
    """The simple predicates of one ``where`` entry: the disjuncts of an
    ``("or", [...])`` entry, else the entry itself."""
    if len(w) == 2 and w[0] == "or":
        ts = [tuple(t) for t in w[1]]
        if not ts:
            raise ValueError("empty OR disjunction")
        return ts
    return [w]


def _range_bounds(op: str, v) -> tuple:
    """(lo, hi) of a range predicate; None is unbounded."""
    if op == "between":
        return v[0], v[1]
    return (v, None) if op in (">=", ">") else (None, v)


def plan_scan(
    schema: StructType, columns: list[str] | None, where: Iterable[tuple]
) -> tuple[list[tuple], StructType]:
    """Validate a scan's ``columns`` and ``where`` (see
    :func:`scan_table`) against ``schema``. Returns the predicates as
    tuples and the decode schema: the requested columns plus every
    predicate column, in ``schema`` order. Unknown columns raise
    ``KeyError``, malformed predicates ``ValueError``, an IN list mixing
    strings with numbers ``TypeError``."""
    where = [tuple(w) for w in where]
    names = {f.name for f in schema.fields}
    for w in where:
        for t in _or_terms(w):
            if len(t) != 3:
                raise ValueError(f"predicate must be (col, op, value): {t!r}")
            if t[0] not in names:
                raise KeyError(f"unknown predicate column {t[0]!r}")
            if t[1] == "in":
                kinds = {isinstance(v, (str, bytes)) for v in t[2]}
                if not kinds:
                    raise ValueError(f"empty IN list: {t!r}")
                if len(kinds) > 1:
                    raise TypeError("probe values must be all string/bytes "
                                    "or all numeric")
    if columns is None:
        return where, schema
    pred_cols = [t[0] for w in where for t in _or_terms(w)]
    need = list(dict.fromkeys(list(columns) + pred_cols))
    missing = [c for c in need if c not in names]
    if missing:
        raise KeyError(f"unknown columns {missing}")
    return where, StructType([f for f in schema.fields if f.name in need])


def _residual(field, op: str, v):
    """Exact row-level filter for one simple predicate, in the same
    physical domain the prune (and the caller) used — a raw literal
    would compare a decimal column to its unscaled int, or a timestamp
    to bare micros."""
    col = field.name
    if op in ("==", "="):
        return F.col(col) == _physical_bound(field, v)
    if op == "in":
        return _isin_physical(field, list(v))
    if op in ("!=", "<>"):
        return ~(F.col(col) == _physical_bound(field, v))
    if op == "not in":
        return ~_isin_physical(field, list(v))
    if op in _RANGE_OPS:
        lo, hi = _range_bounds(op, v)
        cond = F.lit(True)
        if lo is not None:
            b = _physical_bound(field, lo)
            cond = cond & (F.col(col) > b if op == ">" else F.col(col) >= b)
        if hi is not None:
            b = _physical_bound(field, hi)
            cond = cond & (F.col(col) < b if op == "<" else F.col(col) <= b)
        return cond
    raise ValueError(f"unsupported predicate op {op!r}")


def row_filters(schema: StructType, where: list[tuple]) -> list:
    """One exact row condition per ``where`` entry (an OR entry becomes
    the disjunction of its terms), built against ``schema``'s field
    types. Under an :func:`arrow_safe_schema` substitution an INTERVAL
    column is its physical int, so its condition compares the raw
    physical value and stays pushable into a file scan."""
    conds = []
    for w in where:
        cond = None
        for col, op, v in _or_terms(w):
            r = _residual(schema[col], op, v)
            cond = r if cond is None else (cond | r)
        conds.append(cond)
    return conds


def scan_table(
    chunks_df: DataFrame,
    schema: StructType | None = None,
    *,
    columns: list[str] | None = None,
    where: Iterable[tuple] = (),
    part_col: str | None = None,
) -> DataFrame:
    """One-call scan: projection + every pruning kind the store supports,
    composed — the query surface a user actually wants over an encoded
    store (the reference's SetSelectedColumns + SkipRowGroup loop,
    file-reader.go:54,110-112, with the pruning the reference's stats
    can't do).

    ``where`` is an AND of predicates. The decode's page-group walk
    (:func:`_walk_groups`, which :func:`pysparkenc.lineage.read_store`
    and the ``pysparkenc`` data source run too) drops every page group
    no row can match before decoding it (:func:`_group_passes`), each
    predicate through its strongest test:

    - ``(col, "==", v)``     -> dict-page probe + bloom + stats
    - ``(col, "in", [v..])`` -> dict-page probe + bloom + stats
    - ``(col, "!=", v)`` / ``(col, "not in", [v..])`` -> residual-only
      (an inequality can never prove a whole chunk empty)
    - ``(col, ">=", v)`` / ``(col, "<=", v)`` / ``(col, ">", v)`` /
      ``(col, "<", v)`` / ``(col, "between", (lo, hi))`` -> min/max
      stat range skip (strict ops prune with the inclusive superset)
    - ``("or", [p1, p2, ...])`` -> DISJUNCTION of simple predicates
      (each ``pi`` any of the forms above, any columns). A group is
      dropped only when EVERY branch proves it empty; a branch that
      cannot prune (``!=`` / ``not in``) makes the disjunction
      residual-only.

    Values for EVERY op are given in the column's *physical* numeric
    domain for converted types (epoch-days for DATE, micros for
    timestamps/day-time intervals, months for year-month intervals,
    unscaled int for DECIMAL — see :func:`_physical_bound`); the
    residual row filters convert them back, so prune and filter always
    agree.

    The surviving chunk groups decode ONLY the requested ``columns``
    plus the predicate columns (column projection pushes into the chunk
    scan), the exact row predicates re-apply on the decoded rows
    (pruning is an optimization, never a correctness dependency), and
    predicate-only columns are dropped from the result.

    Pruning runs after the decode shuffle, inside each grouped-map call,
    so over an in-memory chunk DataFrame the payloads of pruned groups
    still cross the shuffle. :func:`pysparkenc.lineage.read_store`
    prunes a persisted store's page groups in the file-local reader,
    with no shuffle at all.

    ``part_col``: forwarded to :func:`decode_table` — keep each row's
    chunk-group partition id as an extra LongType column (survives the
    ``columns`` projection).
    """
    if schema is None:
        schema = output_schema_of_chunks(chunks_df)
    where, sub = plan_scan(schema, columns, where)

    out = _decode_chunks(chunks_df, sub, where_pushed(where),
                         part_col=part_col)
    for c in row_filters(sub, where):
        out = out.where(c)
    if columns is not None:
        out = out.select(*columns, *([part_col] if part_col else []))
    return out


# ---------------------------------------------------------------------------
# store integrity audit (fsck)
# ---------------------------------------------------------------------------

AUDIT_SCHEMA = (
    "part_id long, chunk_id long, col string, codec string, "
    "n_values long, status string, error string"
)


def _audit_one(ck: dict) -> str | None:
    """Validate one chunk row; None = intact, else the defect found.

    The kernel decode inside runs the CRC32 check (``_open_payload``) and
    every structural rejection the decoders already enforce (truncation,
    count mismatches, invalid codes); on top of that the decoded values
    are checked against the chunk's own recorded footer stats — both
    sides compute stats the same way, so agreement is exact."""
    try:
        n = int(ck["n_values"])
        nr, nc = ck.get("n_rows"), ck.get("null_count")
        if nr is not None and nc is not None and not 0 <= nc <= nr:
            return f"null_count {nc} outside [0, {nr}]"
        bloom = ck.get("bloom") or b""
        if len(bloom) % 32:
            return f"bloom length {len(bloom)} not a multiple of 32 bytes"
        dtype = ck["dtype"]
        if dtype in ("int32", "int64", "float32", "float64"):
            vals = chunklib.decode_numeric(ck)
            if vals.size != n:
                return f"decoded {vals.size} values, footer says {n}"
            if n and ck.get("num_min") is not None:
                vmin, vmax = chunklib._stats_numeric(vals)
                for name, got, want in (("num_min", vmin, ck["num_min"]),
                                        ("num_max", vmax, ck["num_max"])):
                    if want is None or got is None:
                        continue
                    if not np.isclose(got, want, rtol=0.0, atol=0.0,
                                      equal_nan=True):
                        return f"{name}: footer {want}, decoded {got}"
            extra_n = json.loads(ck["extra"]) if ck.get("extra") else {}
            want_sum = extra_n.get("sum")
            if want_sum is not None:
                got_sum = int(vals.astype(object).sum()) if n else 0
                if got_sum != int(want_sum):
                    return f"sum: footer {want_sum}, decoded {got_sum}"
        elif dtype == "bool":
            vals = chunklib.decode_bool(ck)
            if vals.size != n:
                return f"decoded {vals.size} values, footer says {n}"
        else:
            offsets, data = chunklib.decode_bytes(ck)
            if offsets.size != n + 1:
                return f"decoded {offsets.size - 1} values, footer says {n}"
            if n and (np.diff(offsets) < 0).any():
                return "non-monotone offsets"
            if int(offsets[-1]) != len(data):
                return f"offsets end {int(offsets[-1])} != data {len(data)}"
            extra = json.loads(ck["extra"]) if ck.get("extra") else {}
            smin, smax = extra.get("smin"), extra.get("smax")
            if n and (smin is not None or smax is not None):
                import pyarrow.compute as pc

                arr = pa.LargeBinaryArray.from_buffers(
                    pa.large_binary(), n,
                    [None, pa.py_buffer(offsets), pa.py_buffer(data)],
                )
                mm = pc.min_max(arr)
                # smin may be a truncated prefix (still <= every value);
                # smax is recorded only when exact
                if smin is not None and mm["min"].as_py() < smin.encode():
                    return f"value below footer smin {smin!r}"
                if smax is not None and mm["max"].as_py() > smax.encode():
                    return f"value above footer smax {smax!r}"
    except Exception as ex:  # decoder rejections = the defect report
        return f"{type(ex).__name__}: {ex}"
    return None


def audit_chunks(chunks_df: DataFrame) -> DataFrame:
    """Distributed integrity audit (fsck) of a chunk table.

    One output row per chunk with ``status`` ``ok``/``corrupt``. Every
    chunk validates independently inside ``mapInArrow`` — CRC32 over the
    stored payload, a full kernel decode, count/offset agreement, footer
    stat containment, bloom block structure — so the audit is a pure
    scan: no shuffle, no reassembly, and a single flipped byte anywhere
    flags exactly that chunk. The reference's thrift models a page CRC
    (parquet/parquet.go:5767-5799) but its reader never computes it;
    here verification is a first-class distributed operation.
    """
    wanted = ["part_id", "chunk_id", "col", "codec", "dtype", "logical",
              "n_rows", "n_values", "null_count", "n_unique", "bit_width",
              "num_min", "num_max", "crc32", "extra", "data", "aux",
              "bloom"]
    meta = chunks_df.select(
        *[c for c in wanted if c in chunks_df.columns]
    )
    out_schema = pa.schema([
        ("part_id", pa.int64()), ("chunk_id", pa.int64()),
        ("col", pa.string()), ("codec", pa.string()),
        ("n_values", pa.int64()), ("status", pa.string()),
        ("error", pa.string()),
    ])

    def run(batches):
        for batch in batches:
            # slice before to_pylist: payload copies stay bounded at a
            # few hundred chunks regardless of the Arrow batch size
            for s in range(0, batch.num_rows, 256):
                rows = batch.slice(s, 256).to_pylist()
                cols: dict[str, list] = {f.name: [] for f in out_schema}
                for ck in rows:
                    err = _audit_one(ck)
                    cols["part_id"].append(ck["part_id"])
                    cols["chunk_id"].append(ck["chunk_id"])
                    cols["col"].append(ck["col"])
                    cols["codec"].append(ck["codec"])
                    cols["n_values"].append(ck["n_values"])
                    cols["status"].append("ok" if err is None else "corrupt")
                    cols["error"].append(err)
                yield pa.RecordBatch.from_pydict(cols, schema=out_schema)

    return meta.mapInArrow(run, AUDIT_SCHEMA)
