"""Differential tests for the group encoder: its blobs must be byte-identical
to the single-row oracle's (tests/gdelta_oracle.py, a plain transcription of
the C++ reference encoder), whatever the group's size and make-up."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gdelta_oracle import gdelta_encode

from gdelta_spark.codecs.gdelta_codec import BaseIndex, gdelta_decode
from gdelta_spark.codecs.gdelta_group import gdelta_encode_group
from gdelta_spark.fixtures import REGIMES, base_sequence, make_tokens


@pytest.mark.parametrize("regime", REGIMES)
def test_group_matches_single_per_regime(regime):
    base = np.asarray(base_sequence(7, regime), np.int32).tobytes()
    rows = [
        np.asarray(make_tokens(7, regime, i), np.int32).tobytes()
        for i in range(40)
    ]
    grp = gdelta_encode_group(rows, base)
    for i, (g, r) in enumerate(zip(grp, rows)):
        assert g == gdelta_encode(r, base), f"{regime} row {i}"
        assert gdelta_decode(g, base) == r


def test_group_edge_rows():
    base = bytes(np.random.default_rng(0).integers(0, 256, 4000, dtype=np.uint8))
    rows = [
        b"",  # empty target
        base,  # identical to base (pure fast path)
        base[:100],  # prefix only
        base[-100:],  # suffix only
        b"\x00" * 3,  # shorter than a window
        b"\x00" * 4000,  # no match anywhere
        base[200:300] + b"XYZ" + base[300:1200],
    ]
    grp = gdelta_encode_group(rows, base)
    for i, (g, r) in enumerate(zip(grp, rows)):
        assert g == gdelta_encode(r, base), i
        assert gdelta_decode(g, base) == r


def test_group_tiny_and_empty_base():
    for base in (b"", b"ab", b"x" * 40):
        rows = [b"", b"hello world hello world!", base * 3]
        grp = gdelta_encode_group(rows, base)
        for i, (g, r) in enumerate(zip(grp, rows)):
            assert g == gdelta_encode(r, base), (len(base), i)
            assert gdelta_decode(g, base) == r


@st.composite
def group_case(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    base = bytes(rng.integers(0, 256, draw(st.integers(0, 3000)), dtype=np.uint8))
    rows = []
    for _ in range(draw(st.integers(1, 8))):
        kind = draw(st.integers(0, 2))
        if kind == 0 or not base:
            rows.append(bytes(rng.integers(0, 256, int(rng.integers(0, 2000)), dtype=np.uint8)))
        elif kind == 1:
            b = bytearray(base)
            for _ in range(int(rng.integers(0, 8))):
                pos = int(rng.integers(0, max(1, len(b))))
                op = int(rng.integers(0, 3))
                if op == 0 and b:
                    b[pos] = int(rng.integers(0, 256))
                elif op == 1:
                    b[pos:pos] = bytes(rng.integers(0, 256, int(rng.integers(1, 50)), dtype=np.uint8))
                else:
                    del b[pos : pos + int(rng.integers(1, 50))]
            rows.append(bytes(b))
        else:
            lo = int(rng.integers(0, len(base)))
            rows.append(base[lo : lo + int(rng.integers(0, len(base)))])
    return base, rows


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(case=group_case())
def test_group_matches_single_fuzz(case):
    base, rows = case
    grp = gdelta_encode_group(rows, base)
    for g, r in zip(grp, rows):
        assert g == gdelta_encode(r, base)
        assert gdelta_decode(g, base) == r


def test_rows_payload_uses_group_encoder_and_matches_single():
    """The pipeline payload builder's per-row blobs are the oracle's, for a
    group and for a single row."""
    import struct

    import numpy as np

    from gdelta_spark.codecs import delta
    from gdelta_spark.codecs.light import _pack_for
    from gdelta_spark.fixtures import base_sequence, make_tokens

    base = np.asarray(base_sequence(3, "near-dup"), np.int32).tobytes()
    arrays = [np.asarray(make_tokens(3, "near-dup", i), np.int32) for i in range(12)]
    rows = [a.astype("<i4").tobytes() for a in arrays]
    for n in (12, 1):
        payload = delta.gdelta_rows_payload(arrays[:n], base, rows_bytes=rows[:n])
        blobs = [gdelta_encode(r, base) for r in rows[:n]]
        lens = np.array([len(b) for b in blobs], dtype=np.int64)
        want = struct.pack("<I", len(blobs)) + _pack_for(lens) + b"".join(blobs)
        assert payload == want


def test_dense_global_winner_equals_searchsorted(monkeypatch):
    """The dense-global winner table (one gather per probe, searchsorted
    fallback only past the window cap) must produce the same blobs as the
    pure sorted-key searchsorted query it replaced, on every regime —
    including rows with suffix elision, where the global slot max can sit
    inside the elided tail and the fallback path must fire."""
    for regime in REGIMES:
        rows = [
            make_tokens(7, regime, i).astype("<i4").tobytes() for i in range(12)
        ]
        base = rows[0]
        dense = gdelta_encode_group(rows, base)
        monkeypatch.setattr(BaseIndex, "_DENSE_MAX_BIT", -1)
        plain = gdelta_encode_group(rows, base)
        monkeypatch.undo()
        assert dense == plain, regime
