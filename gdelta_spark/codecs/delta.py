"""Token-level wrapper registering the gdelta byte-delta codec as a block
codec: tokens -> little-endian int32 bytes -> delta vs the partition base
chunk (itself a serialized token buffer)."""

from __future__ import annotations

import numpy as np

from gdelta_spark.codecs import core
from gdelta_spark.codecs.gdelta_codec import gdelta_decode, gdelta_decode_batch
from gdelta_spark.codecs.gdelta_group import gdelta_encode_group


def tokens_to_bytes(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<i4").tobytes()


def bytes_to_tokens(buf: bytes) -> np.ndarray:
    if len(buf) % 4:
        raise core.CorruptBlockError("gdelta row is not a whole number of int32 tokens")
    return np.frombuffer(buf, dtype="<i4").copy()


def gdelta_block_encode(values: np.ndarray, base: bytes) -> bytes:
    if base is None:
        raise ValueError("gdelta block codec requires a base chunk")
    return gdelta_encode_group([tokens_to_bytes(values)], base)[0]


def gdelta_block_decode(payload: bytes, base: bytes) -> np.ndarray:
    if base is None:
        raise ValueError("gdelta block codec requires a base chunk")
    return bytes_to_tokens(gdelta_decode(payload, base))


core.register(core.GDELTA, gdelta_block_encode, gdelta_block_decode)


def gdelta_rows_payload(
    arrays: list[np.ndarray], base: bytes, rows_bytes: list[bytes] | None = None
) -> bytes:
    """Row-wise delta payload: each row is delta-encoded against the base
    chunk separately. Concatenating rows first would defeat the reference's
    prefix/suffix elision (gdelta.cpp:234-272): elided base regions are
    excluded from the hash table (gdelta.cpp:335-336), so rows after the
    first could never copy from them. Per-row deltas also make every row's
    compressed size directly comparable to the C++ reference on the same
    (base, row) pair.

    Layout: [n_rows:u32][FOR-packed delta lens][concat delta blobs]."""
    import struct

    from gdelta_spark.codecs.light import _pack_for

    if base is None:
        raise ValueError("gdelta block codec requires a base chunk")
    if rows_bytes is None:
        rows_bytes = [tokens_to_bytes(a) for a in arrays]
    blobs = gdelta_encode_group(rows_bytes, base)
    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    return struct.pack("<I", len(blobs)) + _pack_for(lens) + b"".join(blobs)


def gdelta_rows_decode(payload: bytes, base: bytes) -> list[np.ndarray]:
    from gdelta_spark.codecs.light import _unpack_for

    if base is None:
        raise ValueError("gdelta block codec requires a base chunk")
    lens, pos = _unpack_for(payload, 4)
    spans = []
    for ln in lens.tolist():
        spans.append((pos, ln))
        pos += ln
    return [bytes_to_tokens(b) for b in gdelta_decode_batch(payload, spans, base)]
