"""Similarity search over an embedding column (``array<float>``).

Two tiers, per the training-pipeline brief:

- :func:`cosine_topk` — exact brute-force top-k. The query set is
  broadcast (it is small by construction); the corpus streams through a
  single narrow stage — no shuffle of the corpus ever. Ranking is
  **window-free at scale**: each task keeps only its local top-k per
  query (:func:`_local_topk`), so the only wide stage sees
  ``O(partitions × queries × k)`` rows instead of
  ``O(|corpus| × |queries|)`` — the difference between a runnable job
  and a single hot reducer at a 100 TB corpus.
- :func:`ann_lsh_topk` — random-hyperplane LSH bucketing: corpus and
  queries keyed by sign-pattern, candidates only within matching buckets.
  Turns the full scan into a bucket-local search — the 100 TB scale path
  when queries are many. Hyperplanes are deterministic literals
  (md5-seeded), so results are reproducible across runs/cluster sizes.
- :func:`embedding_near_dup_pairs` — near-duplicate detection: the
  default mode buckets through the same one-matmul-per-batch LSH
  (multi-table union for recall) and caps degenerate buckets
  (``max_bucket``), so the self-join is bucket-local and can never go
  O(n²) on a pathological key — the same guard rail as
  ``dedup.minhash_lsh_pairs``.

Scores are reported as ``cos_e6 = floor(1e6 * cosine)`` after an
identical left-to-right IEEE-double fold in both engines, so the DuckDB
oracle compares exactly.

Note on ``persist``: bucketed intermediates referenced by both the
bucket-size guard and the self-join are persisted MEMORY_AND_DISK so the
fingerprint pipeline runs once; blocks are released by Spark's context
cleaner when the returned DataFrame goes out of scope, or explicitly via
``spark.catalog.clearCache()`` in long-lived sessions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator

from pyspark.sql import Column, DataFrame, Window, functions as F

from .caching import tether


def _dot(a: Column, b: Column) -> Column:
    # left-to-right fold in double precision — the oracle mirrors this
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _local_topk(scored: DataFrame, k: int) -> DataFrame:
    """Partition-local top-k: reduce ``(query_id, neighbor_id, cos_e6)``
    rows to at most k per (task, query) BEFORE any shuffle.

    Every globally top-k pair is also top-k within its own partition
    under the same (cos desc, neighbor asc) order, so this is lossless;
    duplicate (query, neighbor) rows (multi-table LSH candidates carry
    identical scores) are deduplicated so they cannot crowd out distinct
    neighbors. The merge stage downstream then ranks
    ``O(partitions × queries × k)`` rows — constant per (partition,
    query) — instead of shuffling every scored pair to one reducer per
    query (the r2 scale-killer this replaces).
    """
    import numpy as np
    import pyarrow as pa

    out_schema = "query_id long, neighbor_id long, cos_e6 long"
    pa_schema = pa.schema(
        [("query_id", pa.int64()), ("neighbor_id", pa.int64()),
         ("cos_e6", pa.int64())]
    )

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        best: dict[int, tuple] = {}  # qid -> (cos desc-sorted, nid)
        for b in batches:
            if b.num_rows == 0:
                continue
            q = b.column(0).to_numpy(zero_copy_only=False)
            n = b.column(1).to_numpy(zero_copy_only=False)
            c = b.column(2).to_numpy(zero_copy_only=False)
            order = np.lexsort((n, -c, q))
            qs, starts = np.unique(q[order], return_index=True)
            ends = np.append(starts[1:], q.size)
            for qi, s, e in zip(qs.tolist(), starts, ends):
                idx = order[s:e]
                nc, nn = c[idx], n[idx]
                prev = best.get(qi)
                if prev is not None:
                    nc = np.concatenate([prev[0], nc])
                    nn = np.concatenate([prev[1], nn])
                # dedup by neighbor (dups carry identical scores), then
                # keep the k best under (cos desc, neighbor asc)
                un, ui = np.unique(nn, return_index=True)
                uc = nc[ui]
                o = np.lexsort((un, -uc))[:k]
                best[qi] = (uc[o], un[o])
        if best:
            qids = np.concatenate(
                [np.full(v[0].size, qi, dtype=np.int64) for qi, v in best.items()]
            )
            cos = np.concatenate([v[0] for v in best.values()])
            nid = np.concatenate([v[1] for v in best.values()])
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids), pa.array(nid.astype(np.int64)),
                 pa.array(cos.astype(np.int64))],
                schema=pa_schema,
            )

    return scored.mapInArrow(fn, out_schema)


def _rank_merge(local: DataFrame, k: int) -> DataFrame:
    """Final rank over the partition-local survivors — a window over the
    already-reduced O(partitions × queries × k) set, not the raw scores."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cos_e6")
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = max|v| / 127``,
    ``q_i = floor(v_i / scale + 0.5)`` clamped to [-127, 127] — the
    standard memory-reduction step before large-scale ANN (4x smaller
    vectors, dot products stay proportional within each vector).

    Deterministic and engine-portable: the rounding rule is an explicit
    ``floor(x + 0.5)`` (half toward +inf) evaluated in float64 on both
    Spark and the SQL oracle — ``round()`` half-even/half-away
    differences between engines can never leak in. Pure codegen
    (transform/aggregate over the array) — a narrow map stage, no
    shuffle, no Python.
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(
        amax == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127.0),
                F.least(
                    F.lit(127.0),
                    F.floor(x.cast("double") / (amax / F.lit(127.0)) + 0.5)
                    .cast("double"),
                ),
            ).cast("tinyint"),
        )
    )
    return df.select(
        F.col(id_col),
        scale,
        q.alias("qvec"),
        F.size(v).cast("long").alias("dim"),
    )


def dequantize(qvec: Column, scale: Column) -> Column:
    """Inverse map back to float32 vectors (lossy by design)."""
    return F.transform(
        qvec, lambda q: (q.cast("double") * scale).cast("float")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, cos_e6); self-matches excluded.
    ``queries`` is broadcast; the corpus-side plan is scan → score →
    partition-local top-k (mapInArrow) → merge-rank over the reduced set.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.lit(1_000_000) * cosine(F.col("q_vec"), F.col("c_vec")))
            .cast("long")
            .alias("cos_e6"),
        )
    )
    return _rank_merge(_local_topk(scored, k), k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    dim: int = 64,
    tables: int = 8,
    exact: bool = False,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Pairs of near-identical embeddings (cosine >= threshold).

    ``exact=True`` does the full self-join (oracle mode, small inputs).
    The default prefilters through multi-table hyperplane-LSH buckets
    computed by one BLAS matmul per Arrow batch (:func:`_bucketize`):
    a pair is a candidate if it collides in ANY table (recall grows with
    ``tables``: at threshold 0.95 the 12-plane/8-table default catches
    ~93% per collision model, ~100% for true near-dups), buckets larger
    than ``max_bucket`` are dropped entirely (degenerate-key guard: a
    million-vector bucket means a pathological plane set, not a million
    real duplicates), and the self-join is bucket-local — the O(n²)
    never materializes at scale.
    """
    from pyspark import StorageLevel

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    keyed = None
    if exact:
        l, r = base.alias("l"), base.alias("r")
        cand = l.join(r, F.col("l.id") < F.col("r.id")).select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
        )
    else:
        keyed = _bucketize(df, id_col, vec_col, planes, dim, tables, "id", "v")
        # persist: the bucket-size guard and both self-join sides would
        # otherwise each recompute the bucketing pass
        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
        counts = keyed.groupBy("t", "b").agg(
            F.count(F.lit(1)).alias("bucket_n")
        )
        pruned = keyed.join(
            counts.where(F.col("bucket_n") <= max_bucket), ["t", "b"]
        ).select("id", "v", "t", "b")
        l, r = pruned.alias("l"), pruned.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.t") == F.col("r.t"))
                & (F.col("l.b") == F.col("r.b"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.col("l.v").alias("va"),
                F.col("r.v").alias("vb"),
            )
            # the same pair collides in several tables; score each once
            .distinct()
        )
    cos_e6 = F.floor(F.lit(1_000_000) * cosine(F.col("va"), F.col("vb"))).cast("long")
    pairs = (
        cand.select("id_a", "id_b", cos_e6.alias("cos_e6"))
        .where(F.col("cos_e6") >= int(threshold * 1_000_000))
    )
    return pairs if keyed is None else tether(pairs, keyed)


def _hyperplanes(planes: int, dim: int, table: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5(plane,dim) — literals, no RNG.
    ``table`` seeds an independent plane set per LSH table (table 0 keeps
    the original seeding for reproducibility of existing buckets)."""
    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            tag = f"plane:{p}:{d}" if table == 0 else f"plane:t{table}:{p}:{d}"
            h = hashlib.md5(tag.encode()).digest()[0]
            row.append(1 if h & 1 else -1)
        out.append(row)
    return out


def _planes_matrix(planes: int, dim: int, tables: int):
    """(tables*planes, dim) ±1 matrix: the md5-seeded hyperplanes of
    :func:`_hyperplanes`, one ``planes``-row block per LSH table."""
    import numpy as np

    rows = []
    for t in range(tables):
        rows.extend(_hyperplanes(planes, dim, t))
    return np.asarray(rows, dtype=np.float64)


def _bucketize(
    df: DataFrame, id_col: str, vec_col: str,
    planes: int, dim: int, tables: int,
    out_id: str, out_vec: str,
) -> DataFrame:
    """(id, vec) -> tables rows of (id, vec, t, b) via one numpy matmul
    per Arrow batch: the per-row Catalyst fold evaluated tables*planes
    interpreted dot products per vector (~15s for 500 vectors); a
    (n, dim) @ (dim, tables*planes) BLAS product is the physical shape
    that survives 10^9 vectors."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    mat = _planes_matrix(planes, dim, tables).T  # (dim, tables*planes)
    weights = (1 << np.arange(planes, dtype=np.int64))
    schema = StructType(
        [
            StructField(out_id, LongType(), False),
            StructField(out_vec, ArrayType(FloatType()), False),
            StructField("t", IntegerType(), False),
            StructField("b", LongType(), False),
        ]
    )

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            if isinstance(vecs, pa.ChunkedArray):
                vecs = vecs.combine_chunks()
            offs = vecs.offsets.to_numpy(zero_copy_only=False)
            flat = vecs.values.to_numpy(zero_copy_only=False)
            arr = flat[offs[0] : offs[-1]].reshape(n, dim).astype(np.float64)
            bits = (arr @ mat) > 0  # (n, tables*planes)
            buckets = (
                bits.reshape(n, tables, planes) * weights
            ).sum(axis=2)  # (n, tables)
            take = np.repeat(np.arange(n, dtype=np.int64), tables)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(take)),
                    vecs.take(pa.array(take)),
                    pa.array(np.tile(np.arange(tables, dtype=np.int32), n)),
                    pa.array(buckets.reshape(-1).astype(np.int64)),
                ],
                schema=pa.schema(
                    [
                        (out_id, pa.int64()),
                        (out_vec, pa.list_(pa.float32())),
                        ("t", pa.int32()),
                        ("b", pa.int64()),
                    ]
                ),
            )

    return df.select(
        F.col(id_col).cast("long").alias(out_id),
        F.col(vec_col).alias(out_vec),
    ).mapInArrow(fn, schema)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH buckets.

    Standard multi-table LSH: ``tables`` independent hyperplane sets;
    a corpus vector is a candidate if it shares a bucket with the query
    in ANY table — recall grows with ``tables`` (candidate-set union),
    precision/latency with ``planes`` (buckets per table = 2^planes).
    Bucket ids come from one numpy matmul per Arrow batch (BLAS, not
    per-row Catalyst folds); the corpus is keyed once per table (tables×
    narrow duplication, no O(n²) anywhere); each (table, bucket) cell
    joins bucket-locally against the broadcast queries. Cross-table
    duplicate candidates carry identical scores and collapse inside
    :func:`_local_topk` (task-local) plus one distinct over the reduced
    O(partitions × queries × k) set — never a shuffle of all scored rows.
    """
    c = _bucketize(corpus, id_col, vec_col, planes, dim, tables,
                   "neighbor_id", "c_vec")
    q = _bucketize(queries, id_col, vec_col, planes, dim, tables,
                   "query_id", "q_vec")
    scored = (
        c.join(F.broadcast(q), ["t", "b"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.lit(1_000_000) * cosine(F.col("q_vec"), F.col("c_vec")))
            .cast("long")
            .alias("cos_e6"),
        )
    )
    # cross-partition duplicates (same pair from different tables landing
    # in different tasks) collapse here — the set is already tiny
    local = _local_topk(scored, k).distinct()
    return _rank_merge(local, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def _ivf_centroids(
    df: DataFrame, id_col: str, vec_col: str,
    n_centroids: int, dim: int, sample_n: int = 4096, iters: int = 5,
):
    """Deterministic spherical-k-means coarse quantizer.

    Training runs on a BOUNDED sample (the ``sample_n`` vectors with the
    smallest ``xxhash64(id)`` — deterministic and order-independent, a
    TakeOrdered scan, never a full collect), so driver work is capped at
    ``sample_n × dim`` floats regardless of corpus size — training a
    coarse quantizer on a bounded sample is the standard IVF recipe.
    Init is deterministic maximin (farthest-point) from the min-hash
    vector; Lloyd updates re-normalize centroids (spherical k-means =
    the cosine-metric variant). Returns an L2-normalized
    ``(n_centroids, dim)`` float64 matrix.
    """
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("i")))
        .limit(sample_n)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n = x.shape[0]
    k = min(n_centroids, n)

    # maximin init: start at the hash-min vector, repeatedly take the
    # sample point farthest (in cosine) from its nearest chosen centroid
    chosen = [0]
    d = 1.0 - x @ x[0]
    for _ in range(1, k):
        nxt = int(np.argmax(d))
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - x @ x[nxt])
    c = x[chosen].copy()

    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                c[j] = x[m].mean(axis=0)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def _assign_cells(
    df: DataFrame, id_col: str, vec_col: str,
    cents, dim: int, n_probe: int,
    out_id: str, out_vec: str,
) -> DataFrame:
    """(id, vec) -> ``n_probe`` rows (id, vec, cell): the ids of the
    ``n_probe`` nearest centroids, via one ``(n, dim) @ (dim, k)`` BLAS
    matmul per Arrow batch — same physical shape as :func:`_bucketize`,
    survives 10^9 vectors."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    mat = cents.T  # (dim, k)
    k_cells = cents.shape[0]
    probe = min(n_probe, k_cells)
    schema = StructType(
        [
            StructField(out_id, LongType(), False),
            StructField(out_vec, ArrayType(FloatType()), False),
            StructField("cell", IntegerType(), False),
        ]
    )

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            if isinstance(vecs, pa.ChunkedArray):
                vecs = vecs.combine_chunks()
            offs = vecs.offsets.to_numpy(zero_copy_only=False)
            flat = vecs.values.to_numpy(zero_copy_only=False)
            arr = flat[offs[0] : offs[-1]].reshape(n, dim).astype(np.float64)
            # norms cancel inside one vector's argmax — no normalize needed
            sims = arr @ mat  # (n, k_cells)
            if probe == 1:
                cells = np.argmax(sims, axis=1).reshape(-1, 1)
            else:
                part = np.argpartition(-sims, probe - 1, axis=1)[:, :probe]
                cells = part
            take = np.repeat(np.arange(n, dtype=np.int64), probe)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(take)),
                    vecs.take(pa.array(take)),
                    pa.array(cells.reshape(-1).astype(np.int32)),
                ],
                schema=pa.schema(
                    [
                        (out_id, pa.int64()),
                        (out_vec, pa.list_(pa.float32())),
                        ("cell", pa.int32()),
                    ]
                ),
            )

    return df.select(
        F.col(id_col).cast("long").alias(out_id),
        F.col(vec_col).alias(out_vec),
    ).mapInArrow(fn, schema)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 4096,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the
    centroid-bucketed sibling of :func:`ann_lsh_topk`.

    A spherical-k-means coarse quantizer (:func:`_ivf_centroids`,
    trained on a bounded deterministic sample) partitions the corpus
    into ``n_centroids`` cells; each corpus vector lands in its ONE
    nearest cell (the inverted file), each query probes its ``n_probe``
    nearest cells, and scoring is a cell-local equi-join against the
    broadcast probe list — candidate volume is ~``n_probe/n_centroids``
    of the corpus per query, tunable recall/latency like any IVF index.
    The reduced set then flows through the same partition-local top-k +
    merge rank as every other top-k here (never a global shuffle of all
    scored pairs).
    """
    cents = _ivf_centroids(corpus, id_col, vec_col, n_centroids, dim,
                           sample_n=sample_n)
    c = _assign_cells(corpus, id_col, vec_col, cents, dim, 1,
                      "neighbor_id", "c_vec")
    q = _assign_cells(queries, id_col, vec_col, cents, dim, n_probe,
                      "query_id", "q_vec")
    scored = (
        c.join(F.broadcast(q), ["cell"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.lit(1_000_000) * cosine(F.col("q_vec"), F.col("c_vec")))
            .cast("long")
            .alias("cos_e6"),
        )
    )
    return _rank_merge(_local_topk(scored, k), k)
