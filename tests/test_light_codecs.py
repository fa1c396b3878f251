"""Property tests for the lightweight codecs + block format, across the
FIXTURES.md regimes and adversarial cases."""

from __future__ import annotations

import numpy as np
import pytest

from gdelta_spark import codecs
from gdelta_spark.codecs import core
from gdelta_spark.codecs.delta import tokens_to_bytes
from gdelta_spark.codecs.light import bitpack, bitunpack
from gdelta_spark import fixtures

rng = np.random.default_rng(7)

ARRAYS = {
    "empty": np.empty(0, dtype=np.int32),
    "single": np.array([42], dtype=np.int32),
    "constant": np.full(5000, 123456, dtype=np.int32),
    "int32-extremes": np.array([-(1 << 31), (1 << 31) - 1, 0, -1, 1], dtype=np.int32),
    "negative-runs": np.repeat(np.array([-5, -5, 7, -(1 << 30)], dtype=np.int32), 100),
    "random-full": rng.integers(-(1 << 31), (1 << 31) - 1, 10000, dtype=np.int64).astype(np.int32),
    **{
        f"regime-{r}": fixtures.make_tokens(42, r, 3)
        for r in fixtures.REGIMES
    },
}

NON_DELTA = [core.RAW, core.DICT, core.RLE, core.FOR, core.FSST, core.DBP]


@pytest.mark.parametrize("cid", NON_DELTA, ids=[core.CODEC_NAMES[c] for c in NON_DELTA])
@pytest.mark.parametrize("name", list(ARRAYS), ids=list(ARRAYS))
def test_roundtrip(cid, name):
    arr = ARRAYS[name]
    blob = codecs.encode_block(arr, cid)
    out = codecs.decode_block(blob)
    assert out.dtype == np.int32
    assert np.array_equal(out, arr), f"{core.CODEC_NAMES[cid]} failed on {name}"


@pytest.mark.parametrize("name", list(ARRAYS), ids=list(ARRAYS))
def test_gdelta_block_roundtrip(name):
    arr = ARRAYS[name]
    base = tokens_to_bytes(fixtures.base_sequence(42, "near-dup"))
    blob = codecs.encode_block(arr, core.GDELTA, base=base)
    out = codecs.decode_block(blob, base=base)
    assert np.array_equal(out, arr)


def test_bitpack_widths():
    for width in range(0, 65):
        n = 257
        if width == 0:
            vals = np.zeros(n, dtype=np.uint64)
        else:
            vals = rng.integers(0, 1 << min(width, 63), n, dtype=np.uint64)
            if width == 64:
                vals = vals | (np.uint64(1) << np.uint64(63))
        packed = bitpack(vals, width)
        assert len(packed) == (n * width + 7) // 8
        assert np.array_equal(bitunpack(packed, n, width), vals)


def test_codec_wins_match_regimes():
    """Each regime must be won (or tied) by its designed codec among the
    light codecs — the premise of the cost-based chooser."""
    base = tokens_to_bytes(fixtures.base_sequence(42, "near-dup"))
    for regime in fixtures.REGIMES:
        if regime == "mixed-dup":
            # designed to defeat a single foreign base: gdelta must win only
            # against a same-template base (cluster-elected, encode.py)
            cluster = [fixtures.make_tokens(42, regime, i) for i in (0, 8, 16, 24)]
            tbase = tokens_to_bytes(cluster[0])
            arr = np.concatenate(cluster[1:])
            with_base = len(codecs.encode_block(arr, core.GDELTA, base=tbase))
            best_light = min(
                len(codecs.encode_block(arr, cid)) for cid in NON_DELTA
            )
            assert with_base * 3 < best_light, (with_base, best_light)
            continue
        arr = np.concatenate([fixtures.make_tokens(42, regime, i) for i in range(8)])
        sizes = {}
        for cid in NON_DELTA:
            sizes[core.CODEC_NAMES[cid]] = len(codecs.encode_block(arr, cid))
        sizes["gdelta"] = len(codecs.encode_block(arr, core.GDELTA, base=base))
        winner = fixtures.expected_winner(regime)
        best = min(sizes, key=sizes.get)
        if regime == "texty":
            # Domain finding: on int32 token streams a per-token dictionary
            # bounds entropy at log2(cardinality) bits and dominates FSST,
            # whose 255-symbol table shines on raw string bytes instead. The
            # chooser picks by measured size, so we assert FSST is effective
            # (beats raw/rle/for and is within 1.5x of the overall best).
            assert sizes["fsst"] < min(sizes["raw"], sizes["rle"], sizes["for"])
            assert sizes["fsst"] <= sizes[best] * 1.5, f"sizes={sizes}"
            continue
        # the expected winner must be within 10% of the best (ties allowed)
        assert sizes[winner] <= sizes[best] * 1.10, (
            f"{regime}: expected {winner} to win, sizes={sizes}"
        )


def test_fsst_escape_adversarial():
    """Token bytes full of 0xFF (the escape code) must round-trip."""
    arr = np.full(4096, -1, dtype=np.int32)  # bytes are all 0xFF
    blob = codecs.encode_block(arr, core.FSST)
    assert np.array_equal(codecs.decode_block(blob), arr)
    mixed = np.array([-1, 255, -256, 0x7FFFFFFF, -1, -1] * 500, dtype=np.int32)
    blob = codecs.encode_block(mixed, core.FSST)
    assert np.array_equal(codecs.decode_block(blob), mixed)


def test_compression_effective():
    """Sanity: designed codec actually compresses its regime well."""
    checks = {
        "runs": (core.RLE, 0.05),
        "lowcard": (core.DICT, 0.3),
        "narrow": (core.FOR, 0.3),
        # short rows: each concat boundary + per-row spike widens one whole
        # 128-value miniblock, so small blocks sit ~0.4; long runs go lower
        "monotonic": (core.DBP, 0.45),
    }
    for regime, (cid, ratio) in checks.items():
        arr = np.concatenate([fixtures.make_tokens(42, regime, i) for i in range(4)])
        blob = codecs.encode_block(arr, cid)
        assert len(blob) < arr.nbytes * ratio, (
            f"{regime}: {len(blob)} vs raw {arr.nbytes}"
        )


_TRUNCATED = (core.FOR, core.DICT, core.DBP, core.RAW, core.RLE, core.FSST)


@pytest.mark.parametrize("cid", _TRUNCATED, ids=[core.CODEC_NAMES[c] for c in _TRUNCATED])
@pytest.mark.parametrize("cut", [1, 5, 20])
def test_truncated_bitpacked_body_raises(cid, cut):
    """A body cut short raises CorruptBlockError instead of decoding the
    missing bits as zeros or failing with an unnamed error. The RLE input is
    one run, so its cuts land in the FOR headers."""
    r = np.random.default_rng(cid * 100 + cut)
    vals = {
        core.FOR: r.integers(1000, 1256, 500),
        core.DICT: r.choice(r.integers(0, 50000, 20), 500),
        core.DBP: np.cumsum(r.integers(0, 40, 500)),
        core.RAW: r.integers(-(2**31), 2**31 - 1, 500),
        core.RLE: np.full(500, 7),
        core.FSST: r.choice(r.integers(0, 300, 12), 500),
    }[cid].astype(np.int32)
    blob = codecs.encode_block(vals, cid)
    assert np.array_equal(codecs.decode_block(blob), vals)
    with pytest.raises(core.CorruptBlockError):
        codecs.decode_block(blob[:-cut])


def test_foreign_row_block_raises_corrupt_block():
    from gdelta_spark import blocks

    with pytest.raises(core.CorruptBlockError):
        blocks.decode_block_rows(b"\x00\x01" + bytes(20))
