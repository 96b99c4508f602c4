"""In-process measurement of the codec layers: ``kernels``, ``selector``
and ``chunk``, with no Spark.

The pass reads the store's chunk rows with pyarrow and walks its pages
in (part_id, chunk_id) order. Each page is decoded by the engine's own
group decoder (``engine._group_decoder``) and the decoded rows are
encoded again by the engine's own page encoder
(``engine._encode_arrow_batch``), with one kernel cache per partition as
an encode task keeps it. So both directions run the program's code on
the store's real pages, and the re-encoded chunks must equal the store's
byte for byte. A :class:`~helpers.Tracer` wraps the public functions of
the three layers for the duration of the pass, so every call leaves a
span.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from helpers import Tracer

_INT = 4  # plain bytes per int32 value


def _width(args, kwargs) -> int:
    return int(kwargs.get("width", args[1] if len(args) > 1 else 32)) // 8


# span name -> [(module, function, plain bytes of one call from (args,
# kwargs, result))]; MB/s counts plain, decoded bytes
KERNELS = {
    "hybrid_decode": [("rle", "hybrid_decode", lambda a, k, out: _INT * int(a[2]))],
    "delta_bp_decode": [("delta", "delta_bp_decode",
                         lambda a, k, out: out[0].size * _width(a, k))],
    "delta_ba_decode": [("bytearray", "delta_ba_decode",
                         lambda a, k, out: len(out[1]) + _INT * int(a[1]))],
    "dict_decode_codes": [("dictenc", "dict_decode_codes",
                           lambda a, k, out: _INT * int(a[1]))],
    "plain_decode": [
        ("plain", "plain_decode_numeric", lambda a, k, out: out.nbytes),
        ("plain", "plain_decode_bytes",
         lambda a, k, out: len(out[1]) + _INT * int(a[1])),
    ],
    "hybrid_encode": [("rle", "hybrid_encode",
                       lambda a, k, out: _INT * np.asarray(a[0]).size)],
    "delta_bp_encode": [("delta", "delta_bp_encode",
                         lambda a, k, out: np.asarray(a[0]).size * _width(a, k))],
    "delta_ba_encode": [("bytearray", "delta_ba_encode",
                         lambda a, k, out: len(a[1]) + _INT * (len(a[0]) - 1))],
    "dict_encode_codes": [("dictenc", "dict_encode_codes",
                           lambda a, k, out: _INT * np.asarray(a[0]).size)],
}

SELECTOR_PICKS = ("plain", "delta_bp", "dict_rle", "for_rle",
                  "ba_plain", "ba_delta_len", "ba_delta", "fsst")


def _note_bytes(fn):
    def on_return(sp, args, kwargs, out):
        sp.attrs["bytes"] = fn(args, kwargs, out)
    return on_return


def _note_choice(sp, args, kwargs, out):
    sp.attrs["pick"] = out.codec
    sp.attrs["predicted"] = int(out.predicted)


def _note_chunk(sp, args, kwargs, out):
    sp.attrs["enc_bytes"] = int(out.enc_bytes)


def patch_codec_layers(tracer: Tracer) -> None:
    import importlib

    from pysparkenc import chunk, selector

    for name, targets in KERNELS.items():
        for mod, fn, nbytes in targets:
            module = importlib.import_module(f"pysparkenc.kernels.{mod}")
            tracer.patch(module, fn, f"kernels.{name}", _note_bytes(nbytes))
    for fn in ("select_numeric", "select_bytes", "select_bool"):
        tracer.patch(selector, fn, "selector.select", _note_choice)
    for fn in ("encode_numeric", "encode_bytes", "encode_bool"):
        tracer.patch(chunk, fn, "chunk.encode", _note_chunk)
    for fn in ("decode_numeric", "decode_bytes", "decode_bool"):
        tracer.patch(chunk, fn, "chunk.decode")


def store_pages(store_dir: str) -> Iterator[pa.Table]:
    """The store's chunk rows, one table per page, in (part_id, chunk_id)
    order: the order in which the encode task of each partition wrote
    them."""
    table = pq.read_table(f"{store_dir}/chunks").sort_by(
        [("part_id", "ascending"), ("chunk_id", "ascending")])
    part = table.column("part_id").to_numpy()
    cid = table.column("chunk_id").to_numpy()
    cuts = np.flatnonzero((np.diff(part) != 0) | (np.diff(cid) != 0)) + 1
    bounds = np.concatenate([[0], cuts, [table.num_rows]])
    for s, e in zip(bounds[:-1], bounds[1:]):
        yield table.slice(int(s), int(e - s))


def _payloads(rows) -> dict[str, tuple]:
    return {r["col"]: (r["codec"], r["data"], r["aux"])
            for r in rows.select(["col", "codec", "data", "aux"]).to_pylist()}


def codec_pass(schema, store_dir: str) -> tuple[int, int]:
    """Decode every page of the store and encode it again; returns the
    page count and the number of pages whose re-encoded chunks differ
    from the store's."""
    from pysparkenc import engine

    decode = engine._group_decoder(schema)
    pages = differ = 0
    part, kcache = None, {}
    for page in store_pages(store_dir):
        pid = page.column("part_id")[0].as_py()
        if pid != part:
            part, kcache = pid, {}  # a new encode task
        decoded = decode(page).combine_chunks().to_batches()[0]
        out = engine._encode_arrow_batch(
            decoded, schema.fields, pid, page.column("chunk_id")[0].as_py(),
            None, {}, kcache=kcache)
        pages += 1
        differ += _payloads(pa.Table.from_batches([out])) != _payloads(page)
    return pages, differ


def codec_layer_metrics(schema, store_dir: str) -> tuple[dict[str, float], bool]:
    """Run the pass under a fresh tracer. Returns the ``kernels.*``,
    ``selector.*`` and ``chunk.*`` metrics plus the three layers' self
    times, and whether every page re-encoded to the store's bytes."""
    tracer = Tracer()
    patch_codec_layers(tracer)
    try:
        with tracer.operation():
            pages, differ = codec_pass(schema, store_dir)
    finally:
        tracer.restore()

    out: dict[str, float] = {}
    kernel_encode_s = 0.0
    for name in KERNELS:
        s, calls = tracer.total(f"kernels.{name}")
        nbytes = sum(sp.attrs.get("bytes", 0) for sp in tracer.spans
                     if sp.name == f"kernels.{name}")
        out[f"kernels.{name}.s"] = s
        out[f"kernels.{name}.calls"] = calls
        out[f"kernels.{name}.mb_per_s"] = nbytes / 1e6 / s if s else 0.0

    # kernel encode time spent directly under a chunk.encode span (nested
    # kernels such as dict_encode_codes -> hybrid_encode count once)
    for sp in tracer.spans:
        if sp.layer == "kernels" and sp.parent is not None:
            if tracer.spans[sp.parent].name == "chunk.encode":
                kernel_encode_s += sp.end - sp.start

    sel = [sp for sp in tracer.spans if sp.name == "selector.select"]
    out["selector.s"] = sum(sp.end - sp.start for sp in sel)
    out["selector.calls"] = len(sel)
    for codec in SELECTOR_PICKS:
        out[f"selector.picks.{codec}"] = sum(sp.attrs["pick"] == codec for sp in sel)
    errs = []
    for sp in sel:
        actual = tracer.spans[sp.parent].attrs.get("enc_bytes")
        if actual:
            errs.append(abs(sp.attrs["predicted"] - actual) / actual)
    out["selector.pred_err"] = float(np.mean(errs)) if errs else 0.0

    encode_s, _ = tracer.total("chunk.encode")
    decode_s, _ = tracer.total("chunk.decode")
    out["chunk.encode_s"] = encode_s
    out["chunk.frame_s"] = encode_s - out["selector.s"] - kernel_encode_s
    out["chunk.decode_s"] = decode_s
    out["chunk.pages"] = pages
    for layer, s in tracer.self_times().items():
        out[f"{layer}.self_s"] = s
    return out, differ == 0
