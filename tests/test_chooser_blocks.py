"""Chooser + block layer tests: the chooser must route every regime to a
codec whose measured size is within 10% of the best, and blocks must
round-trip row-exactly."""

from __future__ import annotations

import numpy as np
import pytest

from gdelta_spark import blocks, chooser, fixtures
from gdelta_spark.codecs import core
from gdelta_spark.codecs.delta import tokens_to_bytes


def _regime_rows(regime: str, n: int = 12) -> list[np.ndarray]:
    return [fixtures.make_tokens(42, regime, i) for i in range(n)]


@pytest.mark.parametrize("regime", fixtures.REGIMES)
def test_block_roundtrip_auto(regime):
    rows = _regime_rows(regime)
    base = tokens_to_bytes(fixtures.base_sequence(42, regime))
    blob, cid = blocks.encode_block_rows(rows, base=base)
    out = blocks.decode_block_rows(blob, base=base)
    assert len(out) == len(rows)
    for a, b in zip(rows, out):
        assert np.array_equal(a, b)


@pytest.mark.parametrize("regime", fixtures.REGIMES)
def test_chooser_is_near_optimal(regime):
    rows = _regime_rows(regime)
    base = tokens_to_bytes(fixtures.base_sequence(42, regime))
    values = np.concatenate(rows)
    chosen, est = chooser.choose_codec(values, rows[:3], base)
    sizes = {}
    for cid in [core.RAW, core.DICT, core.RLE, core.FOR, core.FSST, core.DBP, core.GDELTA]:
        sizes[cid] = len(core.encode_block(values, cid, base=base))
    best = min(sizes.values())
    assert sizes[chosen] <= best * 1.10, (
        f"{regime}: chose {core.CODEC_NAMES[chosen]} ({sizes[chosen]}B) "
        f"vs best {best}B; est={est}"
    )


def test_raw_fallback_guard():
    """Incompressible data must never expand past raw + header."""
    rng = np.random.default_rng(3)
    rows = [rng.integers(-(1 << 31), (1 << 31) - 1, 4096, dtype=np.int64).astype(np.int32)]
    blob, cid = blocks.encode_block_rows(rows, codec_id=core.FSST)
    assert cid == core.RAW
    assert len(blob) <= rows[0].nbytes + 64


def test_empty_and_single():
    for rows in ([], [np.empty(0, dtype=np.int32)], [np.array([7], dtype=np.int32)]):
        blob, cid = blocks.encode_block_rows(rows)
        out = blocks.decode_block_rows(blob)
        assert len(out) == len(rows)
        for a, b in zip(rows, out):
            assert np.array_equal(a, b)


def test_chained_base_bootstrap_roundtrip():
    """A later gdelta cluster's base stores as a delta against an earlier
    base when smaller (near-dup groups split by the signature grid chain at
    ~90x); decode replays bases in emission order and must reproduce every
    row bit-identically."""
    import pyarrow as pa

    from gdelta_spark import fixtures
    from gdelta_spark.pipeline.decode import _decode_group
    from gdelta_spark.pipeline.encode import _encode_group

    rows = list(fixtures.rows(1, "near-dup", 400))
    table = pa.table(
        {
            "part_id": ["p"] * len(rows),
            "doc_id": [r[0] for r in rows],
            "tok_bytes": pa.array([r[1].astype("<i4").tobytes() for r in rows], pa.binary()),
        }
    )
    out_table = _encode_group(table)
    out = out_table.to_pandas()
    base_rows = out[out["block_id"] < 0]
    chained = [
        (bd, list(ids)[0])
        for bd, ids in zip(base_rows["base_doc_id"], base_rows["doc_ids"])
        if bd != list(ids)[0]
    ]
    assert chained, "expected at least one chained base in the near-dup group"
    dec = _decode_group(out_table).to_pandas()
    got = dict(zip(dec["doc_id"], (bytes(b) for b in dec["tok_bytes"])))
    for r in rows:
        assert got[r[0]] == r[1].astype("<i4").tobytes()


def test_bootstrap_blocks_pick_best_light_codec():
    """Bootstrap (base) blocks measure the light codecs on their one row
    instead of inheriting the group-level choice: a dict table amortized
    over the group sample dominates a lone base row, so the group winner
    can be ~1.7x larger there (round-5 regression caught in A/B). The
    emitted base blob must be no larger than ANY single light-codec
    encoding of the same row."""
    import pyarrow as pa

    from gdelta_spark import fixtures
    from gdelta_spark.pipeline.encode import _encode_group

    rows = list(fixtures.rows(42, "near-dup", 64))
    table = pa.table(
        {
            "part_id": ["p"] * len(rows),
            "doc_id": [r[0] for r in rows],
            "tok_bytes": pa.array([r[1].astype("<i4").tobytes() for r in rows], pa.binary()),
        }
    )
    by_id = {r[0]: r[1] for r in rows}
    out = _encode_group(table).to_pandas()
    base_rows = out[out["block_id"] < 0]
    assert len(base_rows)
    for _, row in base_rows.iterrows():
        if row["base_doc_id"] != row["doc_ids"][0]:
            continue  # chained base: stored as a delta, different economics
        arr = by_id[row["doc_ids"][0]]
        for cid in [core.RAW, core.DICT, core.RLE, core.FOR, core.DBP, core.FSST]:
            alt, _ = blocks.encode_block_rows([arr], codec_id=cid)
            assert row["enc_bytes"] <= len(alt), (
                f"base blob {row['enc_bytes']}B beaten by "
                f"{core.CODEC_NAMES[cid]} at {len(alt)}B"
            )
