"""pysparkenc — a PySpark-native per-column lightweight-compression engine.

A from-scratch re-expression of the encoding capabilities of
hexbee-net/parquet-go (reference at /root/reference, read-only) as
vectorized numpy kernels driven through Arrow-batched pandas UDFs:
PLAIN, RLE/bit-packed hybrid, DELTA_BINARY_PACKED (frame-of-reference),
dictionary, DELTA_(LENGTH_)BYTE_ARRAY, boolean codecs, plus FSST, with a
per-chunk codec auto-selector, footer-style chunk metadata, per-partition
lineage with checkpoint resume, and salted/range skew-aware partitioning.
"""

__version__ = "0.1.0"

from . import zipcache  # noqa: E402,F401  (see its docstring)
from .caching import release  # noqa: E402  (public cache-release hook)

__all__ = ["release"]
