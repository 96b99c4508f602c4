"""Pure numpy codec kernels (no Spark imports — unit-testable alone).

Operator map (SURVEY.md §2.1):
  E1  rle.hybrid_encode/hybrid_decode       RLE / bit-packed hybrid
  E2  delta.delta_bp_encode (width=32)      DELTA_BINARY_PACKED int32
  E3  delta.delta_bp_encode (width=64)      DELTA_BINARY_PACKED int64
  E5  _bits.pack_*/unpack_const_width       bit-pack kernels, widths 0..64
  E7  dictenc.*                             dictionary pages + RLE codes
  E9  plain.plain_encode_bool + rle         boolean PLAIN / RLE
  E10/E11 plain.plain_encode_numeric        INT32/64, FLOAT/DOUBLE PLAIN
  E13 plain.plain_encode_bytes              BYTE_ARRAY PLAIN
  E14 bytearray.delta_length_*              DELTA_LENGTH_BYTE_ARRAY
  E15 bytearray.delta_ba_*                  DELTA_BYTE_ARRAY (front coding)
  --  fsst.*                                FSST (paper-based, not in ref)
"""
