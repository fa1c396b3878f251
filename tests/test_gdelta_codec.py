"""Oracle-anchored tests for the gdelta delta codec.

Mirrors the reference's own round-trip strategy (/root/reference/test.sh:8-24)
and extends it: cross-decodability in both directions, size <= reference
(the north-rule bar), and byte-exact blob parity on every regime we generate.
"""

from __future__ import annotations

import numpy as np
import pytest
from conftest import REF_SRC, REPO
from gdelta_oracle import gdelta_encode as oracle_encode

from gdelta_spark.codecs.gdelta_codec import (
    _parse_stream,
    gdelta_decode,
    read_varint,
    write_unit,
    write_varint,
)
from gdelta_spark.codecs.gdelta_group import gdelta_encode_group


def gdelta_encode(target: bytes, base: bytes) -> bytes:
    return gdelta_encode_group([target], base)[0]


def parse_units(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, int]:
    """(flags, lengths, offsets, head positions, literal start) of one delta
    blob, parsed by the decoder's own stream parser."""
    il, pos = read_varint(blob, 0)
    flags, lengths, offsets, heads = _parse_stream(np.frombuffer(blob, np.uint8, il, pos))
    return flags, lengths, offsets, heads, pos + il


rng = np.random.default_rng(42)


def _rand_bytes(n: int) -> bytes:
    return bytes(rng.integers(0, 256, n, dtype=np.uint8))


def _mutate(base: bytes, n_edits: int) -> bytes:
    b = bytearray(base)
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(0, max(1, len(b))))
        if op == 0 and b:
            b[pos] = int(rng.integers(0, 256))
        elif op == 1:
            b[pos:pos] = _rand_bytes(int(rng.integers(1, 40)))
        else:
            del b[pos : pos + int(rng.integers(1, 40))]
    return bytes(b)


def _source_pair() -> tuple[bytes, bytes]:
    """Two related real source files: the reference codec's C++ source and
    header when the reference checkout is present, else two in-repo codec
    modules (the self-roundtrip cases need no reference)."""
    if (REF_SRC / "gdelta.cpp").exists():
        return (REF_SRC / "gdelta.cpp").read_bytes(), (REF_SRC / "gdelta.h").read_bytes()
    pkg = REPO / "gdelta_spark"
    return (pkg / "codecs" / "gdelta_codec.py").read_bytes(), (pkg / "gear.py").read_bytes()


def _cases() -> list[tuple[str, bytes, bytes]]:
    src, other = _source_pair()
    blob = _rand_bytes(5000)
    cases = [
        ("ref-pair-fwd", src, other),
        ("ref-pair-rev", other, src),
        ("identical", blob, blob),
        ("empty-target", blob, b""),
        ("empty-base", b"", blob),
        ("both-empty", b"", b""),
        ("target-in-base", blob, blob[100:3000]),
        ("base-in-target", blob[100:3000], blob),
        ("tiny", b"abcd", b"abxd"),
        ("below-strlook", bytes(range(15)), bytes(range(14))),
        ("prefix-17", blob[:17] + b"X" * 100, blob[:17] + b"Y" * 100),
        ("prefix-16", blob[:16] + b"X" * 100, blob[:16] + b"Y" * 100),
        ("suffix-17", b"X" * 100 + blob[:17], b"Y" * 100 + blob[:17]),
        ("suffix-16", b"X" * 100 + blob[:16], b"Y" * 100 + blob[:16]),
        (
            "texty",
            b"the quick brown fox " * 500,
            b"the quick brown fox " * 300 + b"jumped " + b"the quick brown fox " * 200,
        ),
        ("runs", b"\x00" * 4000 + b"\x01" * 4000, b"\x00" * 3500 + b"\x01" * 4500),
        ("random-vs-random", _rand_bytes(20000), _rand_bytes(20000)),
    ]
    for i in range(10):
        base = _rand_bytes(int(rng.integers(100, 150000)))
        cases.append((f"near-dup-{i}", base, _mutate(base, int(rng.integers(1, 30)))))
    return cases


CASES = _cases()


@pytest.mark.parametrize("name,base,target", CASES, ids=[c[0] for c in CASES])
def test_self_roundtrip(name, base, target):
    delta = gdelta_encode(target, base)
    assert gdelta_decode(delta, base) == target


@pytest.mark.parametrize("name,base,target", CASES, ids=[c[0] for c in CASES])
def test_oracle_parity(name, base, target, ref_gdelta):
    ref_encode, ref_decode = ref_gdelta
    ours = gdelta_encode(target, base)
    refd = ref_encode(target, base)
    # we decode reference blobs bit-identically
    assert gdelta_decode(refd, base) == target
    # reference decodes our blobs bit-identically (CLI can't write 0 bytes)
    if target:
        assert ref_decode(ours, base) == target
    # north-rule bar: compressed size <= reference; we currently hit exact parity
    assert len(ours) <= len(refd), f"{name}: ours {len(ours)} > ref {len(refd)}"
    assert ours == refd, f"{name}: blob mismatch (size ours={len(ours)} ref={len(refd)})"


def test_varint_roundtrip():
    for val in [0, 1, 63, 64, 127, 128, 255, 1 << 20, (1 << 35) + 12345]:
        buf = bytearray()
        write_varint(buf, val)
        got, pos = read_varint(bytes(buf), 0)
        assert got == val and pos == len(buf)


def test_parse_units_phantoms():
    # short-length units carry an always-written 0x00 varint that re-parses
    # as a zero-length INSERT phantom; decode must treat it as a no-op.
    base = b"A" * 100
    target = b"A" * 100 + b"B"
    delta = gdelta_encode(target, base)
    flags, lengths, offsets, _, _ = parse_units(delta)
    # COPY 100 @0, then the 1-byte literal whose stray 0x00 is the phantom
    assert flags.tolist() == [1, 0, 0]
    assert lengths.tolist() == [100, 1, 0]
    assert offsets.tolist() == [0, 0, 0]
    assert gdelta_decode(delta, base) == target


def test_int32_token_buffers():
    # the engine's actual payload: little-endian int32 token buffers
    base_tokens = rng.integers(0, 50000, 8000, dtype=np.int32)
    new_tokens = base_tokens.copy()
    new_tokens[1234:1240] = 7
    base = base_tokens.tobytes()
    target = new_tokens.tobytes()
    delta = gdelta_encode(target, base)
    assert gdelta_decode(delta, base) == target
    assert len(delta) < len(target) // 50  # near-dup must compress hard


def test_batch_decode_equals_per_row():
    """gdelta_decode_batch over contiguous deltas == per-row gdelta_decode,
    across regimes (dense/sparse streams, phantom units, irregular rows)."""
    from gdelta_spark.codecs.gdelta_codec import gdelta_decode_batch

    for base_kind in ("texty", "near-dup", "random"):
        if base_kind == "texty":
            base = b"the quick brown fox " * 800
            rows = [
                _mutate(b"the quick brown fox " * int(rng.integers(400, 900)), 5)
                for _ in range(40)
            ]
        elif base_kind == "near-dup":
            base = _rand_bytes(30000)
            rows = [_mutate(base, int(rng.integers(1, 12))) for _ in range(40)]
        else:
            base = _rand_bytes(5000)
            rows = [_rand_bytes(int(rng.integers(0, 9000))) for _ in range(40)]
        deltas = [gdelta_encode(r, base) for r in rows]
        payload = b"".join(deltas)
        spans = []
        pos = 0
        for d in deltas:
            spans.append((pos, len(d)))
            pos += len(d)
        got = gdelta_decode_batch(payload, spans, base)
        assert len(got) == len(rows)
        for g, r, d in zip(got, rows, deltas):
            assert g == gdelta_decode(d, base) == r, base_kind


def test_batch_decode_empty_and_single():
    from gdelta_spark.codecs.gdelta_codec import gdelta_decode_batch

    assert gdelta_decode_batch(b"", [], b"abc") == []
    base = _rand_bytes(2000)
    tgt = _mutate(base, 3)
    d = gdelta_encode(tgt, base)
    assert gdelta_decode_batch(d, [(0, len(d))], base) == [tgt]


def test_base_index_encode_identical():
    """Rows that share a base index's cached tables and winner structures
    within one group emit the same bytes as the single-row oracle."""
    for name, base, target in CASES:
        want = oracle_encode(target, base)
        assert gdelta_encode_group([target] * 3, base) == [want] * 3, name


def test_base_index_table_matches_plain_build():
    """The strided-view fancy-assign scatter must reproduce the reference's
    last-writer-wins table exactly (C-order fancy assignment == overwrite)."""
    from gdelta_oracle import build_hash_table

    from gdelta_spark.codecs.gdelta_codec import BaseIndex

    base = _rand_bytes(5000)
    base8 = np.frombuffer(base, np.uint8)
    bi = BaseIndex(base)
    for beg, end in [(0, 0), (0, 100), (17, 0), (17, 33), (1, 1), (101, 202), (0, 4990)]:
        bit = ((len(base) - beg - end) + 10).bit_length()
        assert np.array_equal(build_hash_table(base8, beg, end, bit), bi.table(beg, end, bit)), (beg, end)


def _split_payload(payload: bytes) -> list[bytes]:
    import struct

    from gdelta_spark.codecs.light import _unpack_for

    (n,) = struct.unpack_from("<I", payload, 0)
    lens, pos = _unpack_for(payload, 4)
    blobs = []
    for ln in lens.tolist():
        blobs.append(payload[pos : pos + ln])
        pos += ln
    assert len(blobs) == n
    return blobs


def _join_payload(blobs: list[bytes]) -> bytes:
    import struct

    from gdelta_spark.codecs.light import _pack_for

    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    return struct.pack("<I", len(blobs)) + _pack_for(lens) + b"".join(blobs)


def _rewrite_first_copy(blob: bytes, offset: int | None = None, length: int | None = None) -> bytes:
    """``blob`` with its first COPY unit's base offset and/or length replaced."""
    flags, lengths, offsets, _, inst_end = parse_units(blob)
    inst = bytearray()
    done = False
    for f, ln, off in zip(flags.tolist(), lengths.tolist(), offsets.tolist()):
        if ln == 0:
            continue  # write_unit re-emits the phantoms itself
        if f and not done:
            off = off if offset is None else offset
            ln = ln if length is None else length
            done = True
        write_unit(inst, f, ln, off)
    assert done
    head = bytearray()
    write_varint(head, len(inst))
    return bytes(head) + bytes(inst) + blob[inst_end:]


def _shrink_inst_len(blob: bytes) -> bytes:
    """``blob`` with its instruction length shrunk so the stream ends right
    after its first COPY unit's head byte, inside that unit's length varint
    (the bytes after it become literal data)."""
    flags, _, _, heads, _ = parse_units(blob)
    _, pos = read_varint(blob, 0)
    head = bytearray()
    write_varint(head, int(heads[np.flatnonzero(flags == 1)[0]]) + 1)
    return bytes(head) + blob[pos:]


@pytest.mark.parametrize("regime", ["near-dup", "texty"])
@pytest.mark.parametrize("n_rows", [1, 12])
@pytest.mark.parametrize(
    "fault",
    ["copy-past-base", "copy-offset-wraps", "literal-truncated", "inst-len-shrunk", "row-not-int32"],
)
def test_corrupt_payload_raises(regime, n_rows, fault):
    """A row payload with one copy offset past the base (or so far past it
    that it wraps an int64), one row's literal region cut short, one row's
    instruction stream ending inside a unit, or one row decoding to a byte
    count that is not a whole number of int32 tokens raises
    CorruptBlockError for a one-row and a twelve-row block and never
    returns rows."""
    from gdelta_spark.codecs import delta
    from gdelta_spark.codecs.core import CorruptBlockError
    from gdelta_spark.fixtures import make_tokens

    arrays = [make_tokens(7, regime, i) for i in range(n_rows + 1)]
    base = arrays[0].astype("<i4").tobytes()
    payload = delta.gdelta_rows_payload(arrays[1:], base)
    blobs = _split_payload(payload)
    k = n_rows // 2  # a middle row: its overrun would read the next row
    if fault == "copy-past-base":
        blobs[k] = _rewrite_first_copy(blobs[k], offset=len(base) - 8)
    elif fault == "copy-offset-wraps":
        blobs[k] = _rewrite_first_copy(blobs[k], offset=2**64 - 8)
    elif fault == "literal-truncated":
        *_, inst_end = parse_units(blobs[k])
        assert len(blobs[k]) > inst_end  # the row has literal bytes to cut
        blobs[k] = blobs[k][:-1]
    elif fault == "inst-len-shrunk":
        blobs[k] = _shrink_inst_len(blobs[k])
    else:
        flags, lengths, _, _, _ = parse_units(blobs[k])
        blobs[k] = _rewrite_first_copy(blobs[k], length=int(lengths[flags == 1][0]) - 1)
    with pytest.raises(CorruptBlockError):
        delta.gdelta_rows_decode(_join_payload(blobs), base)


@pytest.mark.parametrize("regime", ["near-dup", "texty", "mixed-dup"])
@pytest.mark.parametrize("n_rows", [1, 12])
def test_stream_fuzz_decodes_or_raises(regime, n_rows):
    """Fixed-seed single-bit flips and truncations inside the row delta
    streams (never the block header or the FOR-packed lens): every input
    decodes or raises CorruptBlockError, and nothing else escapes."""
    from gdelta_spark.codecs import delta
    from gdelta_spark.codecs.core import CorruptBlockError
    from gdelta_spark.fixtures import make_tokens

    arrays = [make_tokens(3, regime, i) for i in range(n_rows + 1)]
    base = arrays[0].astype("<i4").tobytes()
    payload = delta.gdelta_rows_payload(arrays[1:], base)
    blobs = _split_payload(payload)
    streams_at = len(payload) - sum(map(len, blobs))
    fuzz = np.random.default_rng(3)
    cases = []
    for p in fuzz.integers(streams_at, len(payload), 60).tolist():
        for bit in range(8):
            flipped = bytearray(payload)
            flipped[p] ^= 1 << bit
            cases.append(bytes(flipped))
    for k in {0, n_rows // 2, n_rows - 1}:
        for cut in fuzz.integers(1, len(blobs[k]) + 1, 10).tolist():
            cut_blobs = list(blobs)
            cut_blobs[k] = blobs[k][:-cut]
            cases.append(_join_payload(cut_blobs))
    rejected = 0
    for case in cases:
        try:
            delta.gdelta_rows_decode(case, base)
        except CorruptBlockError:
            rejected += 1
    assert rejected > 0


def test_rewritten_payload_still_decodes():
    """The corruption helpers change only what they target: a rewrite that
    keeps every copy offset, and an untouched split/join, decode intact."""
    from gdelta_spark.codecs import delta
    from gdelta_spark.fixtures import make_tokens

    for regime in ("near-dup", "texty"):
        arrays = [make_tokens(7, regime, i) for i in range(13)]
        base = arrays[0].astype("<i4").tobytes()
        blobs = _split_payload(delta.gdelta_rows_payload(arrays[1:], base))
        flags, _, offsets, _, _ = parse_units(blobs[6])
        first = int(offsets[np.flatnonzero(flags == 1)[0]])
        blobs[6] = _rewrite_first_copy(blobs[6], offset=first)
        out = delta.gdelta_rows_decode(_join_payload(blobs), base)
        assert all(np.array_equal(a, b) for a, b in zip(out, arrays[1:]))


def test_truncated_payload_raises():
    """A payload cut short inside its last row is corrupt, not a short row."""
    from gdelta_spark.codecs import delta
    from gdelta_spark.codecs.core import CorruptBlockError
    from gdelta_spark.fixtures import make_tokens

    arrays = [make_tokens(7, "near-dup", i) for i in range(4)]
    base = arrays[0].astype("<i4").tobytes()
    payload = delta.gdelta_rows_payload(arrays[1:], base)
    with pytest.raises(CorruptBlockError):
        delta.gdelta_rows_decode(payload[:-1], base)
