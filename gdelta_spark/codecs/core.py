"""Codec protocol + self-describing block format.

Every codec maps an int32 token vector -> bytes and back. A block blob is:

    byte 0: magic 0x47 ('G')
    byte 1: format version (1)
    byte 2: codec id
    byte 3+: codec-specific payload

``decode_block`` needs no external metadata except the partition base chunk
for the delta codec (passed separately, mirroring how the reference's
``gdecode`` takes the base buffer as an argument,
/root/reference/gdelta.cpp:533-534).
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = 0x47
VERSION = 1

RAW = 0
DICT = 1
RLE = 2
FOR = 3
FSST = 4
GDELTA = 5
DBP = 6

CODEC_NAMES = {
    RAW: "raw",
    DICT: "dict",
    RLE: "rle",
    FOR: "for",
    FSST: "fsst",
    GDELTA: "gdelta",
    DBP: "dbp",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}


class CorruptBlockError(ValueError):
    """A block payload is malformed: decoding it would read outside its base
    or its own bytes, so it cannot yield the rows that were written."""


def read_header(fmt: str, buf: bytes, pos: int = 0) -> tuple:
    """``struct.unpack_from`` of a payload header; a body too short to hold
    the header is a ``CorruptBlockError``."""
    if len(buf) < pos + struct.calcsize(fmt):
        raise CorruptBlockError(f"{len(buf)} bytes: header {fmt!r} at {pos} runs past the body")
    return struct.unpack_from(fmt, buf, pos)


_ENCODERS = {}
_DECODERS = {}


def register(codec_id: int, encoder, decoder) -> None:
    _ENCODERS[codec_id] = encoder
    _DECODERS[codec_id] = decoder


def encode_block(values: np.ndarray, codec_id: int, base: bytes | None = None) -> bytes:
    """Encode an int32 vector as a self-describing blob under ``codec_id``."""
    values = np.ascontiguousarray(values, dtype=np.int32)
    enc = _ENCODERS[codec_id]
    payload = enc(values, base) if codec_id == GDELTA else enc(values)
    return bytes([MAGIC, VERSION, codec_id]) + payload


def decode_block(blob: bytes, base: bytes | None = None) -> np.ndarray:
    """Decode a blob back into an int32 vector."""
    if len(blob) < 3 or blob[0] != MAGIC or blob[1] != VERSION:
        raise ValueError("not a gdelta_spark block blob")
    codec_id = blob[2]
    dec = _DECODERS[codec_id]
    payload = blob[3:]
    if codec_id == GDELTA:
        return dec(payload, base)
    return dec(payload)


def blob_codec(blob: bytes) -> str:
    return CODEC_NAMES[blob[2]]
