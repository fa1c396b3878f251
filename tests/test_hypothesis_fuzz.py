"""Property-based differential fuzzing.

1. gdelta vs the C++ oracle: random (base, target) byte pairs, including
   structured mutations — blob must be byte-identical and cross-decodable.
2. every block codec round-trips arbitrary int32 arrays.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gdelta_spark import codecs
from gdelta_spark.codecs import core
from gdelta_spark.codecs.gdelta_codec import gdelta_decode
from gdelta_spark.codecs.gdelta_group import gdelta_encode_group


def gdelta_encode(target: bytes, base: bytes) -> bytes:
    return gdelta_encode_group([target], base)[0]

byte_blobs = st.binary(min_size=0, max_size=3000)


@st.composite
def near_dup_pair(draw):
    base = bytearray(draw(st.binary(min_size=50, max_size=4000)))
    target = bytearray(base)
    for _ in range(draw(st.integers(0, 6))):
        op = draw(st.integers(0, 2))
        pos = draw(st.integers(0, max(0, len(target) - 1)))
        if op == 0 and target:
            target[pos] = draw(st.integers(0, 255))
        elif op == 1:
            target[pos:pos] = draw(st.binary(min_size=1, max_size=30))
        else:
            del target[pos : pos + draw(st.integers(1, 30))]
    return bytes(base), bytes(target)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pair=st.one_of(near_dup_pair(), st.tuples(byte_blobs, byte_blobs)))
def test_gdelta_selfconsistent(pair):
    base, target = pair
    delta = gdelta_encode(target, base)
    assert gdelta_decode(delta, base) == target


@pytest.mark.parametrize("cid", [core.RAW, core.DICT, core.RLE, core.FOR, core.FSST, core.DBP])
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=st.lists(st.integers(-(2**31), 2**31 - 1), min_size=0, max_size=2000))
def test_codec_roundtrip_any_int32(cid, data):
    arr = np.array(data, dtype=np.int64).astype(np.int32)
    blob = codecs.encode_block(arr, cid)
    assert np.array_equal(codecs.decode_block(blob), arr)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pair=near_dup_pair())
def test_gdelta_oracle_differential(pair, ref_gdelta):
    ref_encode, ref_decode = ref_gdelta
    base, target = pair
    ours = gdelta_encode(target, base)
    refd = ref_encode(target, base)
    assert ours == refd, (len(ours), len(refd))
    if target:
        assert ref_decode(ours, base) == target


@st.composite
def row_block(draw):
    """Random multi-row token block: mixed lengths incl. empty rows, values
    across the int32 range, with an optional near-dup tail so the gdelta +
    chained-base paths are exercised."""
    n = draw(st.integers(1, 8))
    rows = [
        np.array(
            draw(
                st.lists(
                    st.integers(-(2**31), 2**31 - 1), min_size=0, max_size=400
                )
            ),
            dtype=np.int32,
        )
        for _ in range(n)
    ]
    if draw(st.booleans()) and rows[0].size:
        dup = rows[0].copy()
        if dup.size > 2:
            dup[draw(st.integers(0, dup.size - 1))] = draw(
                st.integers(-(2**31), 2**31 - 1)
            )
        rows.append(dup)
    return rows


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=row_block(), cid=st.sampled_from([None, core.RAW, core.DICT, core.RLE, core.FOR, core.FSST, core.GDELTA]))
def test_block_layer_roundtrip_any_rows(rows, cid):
    """Block layer (v2 entropy backstop included) round-trips arbitrary row
    sets under every codec forcing, bit-exactly."""
    from gdelta_spark import blocks

    rb = [r.tobytes() for r in rows]
    blob, picked = blocks.encode_block_rows(rows, codec_id=cid, base=rb[0], rows_bytes=rb)
    out = blocks.decode_block_rows(blob, base=rb[0])
    assert len(out) == len(rows)
    for a, r in zip(out, rows):
        assert np.asarray(a, dtype=np.int32).tobytes() == r.tobytes()
