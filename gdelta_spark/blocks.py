"""Block layer: groups of rows -> one encoded blob (parquet-page-like).

A block is the encode/decode unit: row token arrays are concatenated into one
column vector, the per-row lengths are FOR-packed, and the vector is encoded
with the chosen codec (or gdelta vs the partition base chunk). Blob layout:

    v1: [0x42][1][n_rows:u32][lens sub-block (FOR)][codec block blob]
    v2: [0x42][2][zlib(v1 body from byte 2 on)]

v2 is the entropy backstop (round 3): the structured encodings above leave
residual byte-level redundancy in exactly one family — delta instruction
streams + literals (gdelta blobs shrink a further ~2-2.8x under DEFLATE;
dict/FOR/RLE/raw payloads are already at their entropy and gain ~1.00x) —
so after encoding, the blob is zlib'd and the smaller form wins. This is
the same layering as Parquet's page compression over its encodings. The
attempt is skipped for RAW-coded blocks (raw means every structured codec
already lost — the bytes are incompressibility-proven, and the skip keeps
the hot path off the 55% of bench bytes that are random).

Block-level (not row-level) encoding is what lets every codec kernel run
vectorized over ~10^5 tokens per call instead of ~10^3 — the per-call numpy
overhead amortizes and the delta codec sees long base matches.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from gdelta_spark import chooser
from gdelta_spark.codecs import core
from gdelta_spark.codecs.light import _pack_for, _unpack_for

BLOCK_MAGIC = 0x42
BLOCK_VERSION = 1
BLOCK_VERSION_Z = 2  # zlib-wrapped v1 body
_Z_LEVEL = 6
_Z_MIN_SAVING = 0.97  # wrap only if >= 3% smaller (avoid flip-flop blobs)


def encode_block_rows(
    token_arrays: list[np.ndarray],
    codec_id: int | None = None,
    base: bytes | None = None,
    rows_bytes: list[bytes] | None = None,
) -> tuple[bytes, int]:
    """Encode rows as one block; returns (blob, codec_id). ``codec_id`` None
    means auto-choose. Applies the raw-fallback guard: if the chosen codec
    expands beyond raw, re-encode raw (the reference lacks this guard and can
    emit delta > input, /root/reference/gdelta.cpp:216-531 — see SURVEY §2.1)."""
    arrays = [np.ascontiguousarray(a, dtype=np.int32) for a in token_arrays]
    lens = np.array([a.size for a in arrays], dtype=np.int64)
    n_bytes = int(lens.sum()) * 4
    # the concatenated vector is only needed by non-delta codec kernels and
    # the (rare) raw fallback; gdelta blocks encode row-wise, so skipping the
    # concat here removes a full memcpy of every delta-regime byte
    values: np.ndarray | None = None

    def _values() -> np.ndarray:
        nonlocal values
        if values is None:
            values = np.concatenate(arrays) if arrays else np.empty(0, dtype=np.int32)
        return values

    if codec_id is None:
        # the similarity probe must not include the base row itself: a
        # self-delta of ~0 bytes would wildly overestimate gdelta's win
        # (mirrors encode.py's group-level chooser)
        if (
            base is not None
            and len(arrays) > 1
            and arrays[0].size * 4 == len(base)
            and arrays[0].tobytes() == base
        ):
            probe = arrays[1:4]
        else:
            probe = arrays[:3]
        codec_id, _ = chooser.choose_codec(_values(), probe, base)

    if codec_id == core.GDELTA:
        from gdelta_spark.codecs import delta

        payload = bytes([core.MAGIC, core.VERSION, core.GDELTA])
        payload += delta.gdelta_rows_payload(arrays, base, rows_bytes=rows_bytes)
    else:
        payload = core.encode_block(_values(), codec_id)
    if codec_id != core.RAW and len(payload) >= n_bytes + 8:
        raw_payload = core.encode_block(_values(), core.RAW)
        if len(raw_payload) < len(payload):
            payload, codec_id = raw_payload, core.RAW

    head = struct.pack("<BBI", BLOCK_MAGIC, BLOCK_VERSION, len(arrays))
    blob = head + _pack_for(lens) + payload
    if codec_id != core.RAW and len(blob) > 64:
        z = zlib.compress(blob[2:], _Z_LEVEL)
        if len(z) + 2 < len(blob) * _Z_MIN_SAVING:
            blob = struct.pack("<BB", BLOCK_MAGIC, BLOCK_VERSION_Z) + z
    return blob, codec_id


def _unwrap(blob: bytes) -> bytes:
    """v2 -> equivalent v1 blob; v1 passes through."""
    if len(blob) >= 2 and blob[0] == BLOCK_MAGIC and blob[1] == BLOCK_VERSION_Z:
        return bytes([BLOCK_MAGIC, BLOCK_VERSION]) + zlib.decompress(blob[2:])
    return blob


def decode_block_rows(blob: bytes, base: bytes | None = None) -> list[np.ndarray]:
    blob = _unwrap(blob)
    magic, version, n_rows = struct.unpack_from("<BBI", blob, 0)
    if magic != BLOCK_MAGIC or version != BLOCK_VERSION:
        raise core.CorruptBlockError("not a gdelta_spark row block")
    lens, pos = _unpack_for(blob, 6)
    payload = blob[pos:]
    if len(payload) >= 3 and payload[2] == core.GDELTA:
        from gdelta_spark.codecs import delta

        return delta.gdelta_rows_decode(payload[3:], base)
    values = core.decode_block(payload)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    return [values[offsets[i] : offsets[i + 1]] for i in range(n_rows)]


def block_codec_name(blob: bytes) -> str:
    blob = _unwrap(blob)
    lens, pos = _unpack_for(blob, 6)
    return core.blob_codec(blob[pos:])
