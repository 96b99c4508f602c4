"""Lifecycle management for persisted intermediates.

Several operators persist an intermediate DataFrame (LSH band tables,
bucketized signatures) because two or more downstream consumers — a
degenerate-bucket guard aggregate plus both sides of a self-join —
would otherwise each recompute the full upstream pipeline. The
intermediate must stay cached until the *returned* DataFrame has been
materialized, which only the caller controls, so the functions
themselves cannot unpersist eagerly.

``tether(result, *cached)`` ties the cached intermediates' lifetime to
the result object: they are unpersisted automatically when the result
DataFrame is garbage-collected, or deterministically via
``release(result)``. Unpersisting is always correctness-safe in Spark —
a plan that references an uncached relation simply recomputes it — so a
release that fires "too early" (e.g. the caller kept a derived plan but
dropped the result object) degrades performance only, never results.

In a long-lived session (a streaming job calling ``minhash_lsh_pairs``
per micro-batch, a notebook looping over tables) this bounds cache
growth: each call's MEMORY_AND_DISK blocks are freed as soon as its
result goes out of scope, instead of accumulating until eviction
pressure. At 100 TB the intermediates are small relative to the data
(doc_id + band keys; per-key counts) but a thousand retained copies of
"small" is still a leak.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

_FINALIZER_ATTR = "_pysparkenc_cache_finalizer"


def _unpersist_all(cached: list[DataFrame]) -> None:
    for df in cached:
        try:
            df.unpersist()
        except Exception:
            # session already stopped / JVM gone — nothing left to free
            pass


def tether(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Unpersist ``cached`` when ``result`` is garbage-collected.

    Returns ``result`` (for fluent use). An explicit, deterministic
    release is available via :func:`release`. The finalizer holds the
    only extra reference to the cached frames, so nothing here extends
    the result's own lifetime — but it DOES keep each ``cached`` frame
    alive until the result dies, which is exactly the window the cache
    is useful for.
    """
    fin = weakref.finalize(result, _unpersist_all, list(cached))
    fin.atexit = False  # don't churn py4j during interpreter shutdown
    # keep a handle for explicit release(); the finalize registry owns
    # the callback either way, this attribute is just the lookup key
    setattr(result, _FINALIZER_ATTR, fin)
    return result


def release(result: DataFrame) -> bool:
    """Unpersist the intermediates tethered to ``result`` now.

    Idempotent; returns True if this call performed the release, False
    if there was nothing tethered or it already ran (including via GC).
    """
    fin = getattr(result, _FINALIZER_ATTR, None)
    if fin is None or not fin.alive:
        return False
    fin()
    return True
