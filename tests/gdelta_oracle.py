"""Single-row gdelta encoder: the differential reference for the group encoder.

A straight transcription of the reference's greedy loop (gdelta.cpp:216-531)
for one (target, base) pair, with the base's single-slot hash table built in
full up front (last-writer-wins via ``np.maximum.at``). It shares only the
blob writer and the Gear fingerprint kernel with the production encoder
(``gdelta_spark.codecs.gdelta_group.gdelta_encode_group``), none of its
batching, winner queries or caches, so the two agree only if the production
encoder's optimisations leave every emitted byte unchanged.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np

from gdelta_spark.codecs.gdelta_codec import (
    STRLOOK,
    STRLSTEP,
    _first_mismatch,
    _gear_fingerprints,
    _last_mismatch_run,
    write_unit,
    write_varint,
)

_LOW32 = np.uint64(0xFFFFFFFF)
_SEG = 1 << 12  # target positions fingerprinted per probe segment


def _common_prefix_len(a: np.ndarray, b: np.ndarray) -> int:
    n = min(a.size, b.size)
    if n == 0:
        return 0
    neq = a[:n] != b[:n]
    i = int(np.argmax(neq))
    return n if not neq[i] else i


def _common_suffix_len(a: np.ndarray, b: np.ndarray) -> int:
    n = min(a.size, b.size)
    if n == 0:
        return 0
    neq = a[a.size - n :] != b[b.size - n :]
    rev = neq[::-1]
    i = int(np.argmax(rev))
    return n if not rev[i] else i


def build_hash_table(base8: np.ndarray, beg_size: int, end_size: int, bit: int) -> np.ndarray:
    """Single-slot hash table over the base interior: fingerprint top ``bit``
    bits -> packed u64 entry ``(abs_pos << 32) | (fp & 0xFFFFFFFF)``, 0 =
    empty. Every 2nd window from interior offset 2 is inserted in increasing
    position order, last writer wins (gdelta.cpp:176-214); positions occupy
    the high half, so ``maximum.at`` is that overwrite."""
    table = np.zeros(1 << bit, dtype=np.uint64)
    interior_len = base8.size - end_size - beg_size
    if interior_len < STRLOOK:
        return table
    n_fps = interior_len - STRLOOK + 1
    if n_fps <= 2:
        return table
    fps = _gear_fingerprints(base8[beg_size : base8.size - end_size])
    sampled = fps[2:n_fps:STRLSTEP]
    abs_start = beg_size + 2
    idx = (sampled >> np.uint64(64 - bit)).view(np.int64)
    packed = np.arange(
        abs_start, abs_start + sampled.size * STRLSTEP, STRLSTEP, dtype=np.uint64
    )
    packed <<= np.uint64(32)
    packed |= sampled & _LOW32
    np.maximum.at(table, idx, packed)
    return table


def gdelta_encode(new: bytes, base: bytes) -> bytes:
    """Delta blob of ``new`` against ``base``, byte-identical to the C++
    reference encoder's."""
    new8 = np.frombuffer(new, dtype=np.uint8)
    base8 = np.frombuffer(base, dtype=np.uint8)
    new_size = new8.size
    base_size = base8.size

    # prefix/suffix elision with >16B thresholds (gdelta.cpp:234-272)
    beg_size = _common_prefix_len(base8, new8)
    beg = beg_size > 16
    if not beg:
        beg_size = 0
    end_size = _common_suffix_len(base8, new8)
    if beg_size + end_size > new_size:
        end_size = new_size - beg_size
    end = end_size > 16
    if not end:
        end_size = 0

    inst = bytearray()
    data = bytearray()

    def assemble() -> bytes:
        out = bytearray()
        write_varint(out, len(inst))
        out += inst
        out += data
        return bytes(out)

    # fast path: base fully covered by prefix+suffix (gdelta.cpp:280-318)
    if beg_size + end_size >= base_size:
        if beg:
            write_unit(inst, 1, beg_size, 0)
        litlen = new_size - beg_size - end_size
        if litlen > 0:
            write_unit(inst, 0, litlen, 0)
            data += new[beg_size : new_size - end_size]
        if end:
            write_unit(inst, 1, end_size, base_size - end_size)
        return assemble()

    # hash table sizing: bit_length(interior + 10) (gdelta.cpp:321-328)
    bit = (base_size - beg_size - end_size + 10).bit_length()
    table = build_hash_table(base8, beg_size, end_size, bit)
    shift = np.uint64(64 - bit)

    tgt = new8[beg_size : new_size - end_size]
    m = tgt.size
    last_pos = m - STRLOOK  # last probe-able position
    base_lim = base_size - end_size  # match extension bound (gdelta.cpp:400-408)
    tb = tgt.tobytes()
    bb = bytes(base)

    if beg:
        write_unit(inst, 1, beg_size, 0)

    seg_start = seg_end = 0  # probed positions [seg_start, seg_end)
    seg_q: list[int] = []  # prefilter-passing positions in the segment
    seg_c: list[int] = []  # their candidate base offsets

    def next_match(p: int) -> tuple[int, int]:
        """First position q >= p whose table candidate's 16-byte window
        equals the target's (the reference's memcmp accept); (-1, 0) if none.
        Equal bytes give equal fingerprints, so the low-32 prefilter never
        rejects a window the reference would accept."""
        nonlocal seg_start, seg_end, seg_q, seg_c
        while p <= last_pos:
            if not seg_start <= p < seg_end:
                seg_start, seg_end = p, min(p + _SEG, last_pos + 1)
                fps = _gear_fingerprints(tgt[seg_start : seg_end + STRLOOK - 1])
                entry = table[(fps >> shift).view(np.int64)]
                hit = np.flatnonzero((entry != 0) & ((entry & _LOW32) == (fps & _LOW32)))
                seg_q = (hit + seg_start).tolist()
                seg_c = (entry[hit] >> np.uint64(32)).astype(np.int64).tolist()
            for i in range(bisect_left(seg_q, p), len(seg_q)):
                q, c = seg_q[i], seg_c[i]
                if tb[q : q + STRLOOK] == bb[c : c + STRLOOK]:
                    return q, c
            p = seg_end
        return -1, 0

    p = 0  # cursor, relative to tgt
    lit_from = 0  # start of pending literal, relative to tgt
    stale_cand = -1  # candidate under the stale fingerprint, if in that state

    while p + STRLOOK <= m:
        if stale_cand >= 0:
            # reference quirk: fp not refreshed when the previous match ended
            # exactly 16 bytes before the suffix (gdelta.cpp:452 loop guard),
            # so the final probe reuses the previous window's candidate.
            q, offset = p, stale_cand
            if tb[p : p + STRLOOK] != bb[offset : offset + STRLOOK]:
                break
        else:
            q, offset = next_match(p)
            if q < 0:
                break  # everything from lit_from on is literal

        # forward extension (gdelta.cpp:398-411)
        cursor = q + STRLOOK
        max_j = min(base_lim - (offset + STRLOOK), m - cursor)
        j = 0
        if max_j > 0:
            j = _first_mismatch(
                base8[offset + STRLOOK : offset + STRLOOK + max_j],
                tgt[cursor : cursor + max_j],
                max_j,
            )
        matchlen = STRLOOK + j
        copy_off = offset
        litlen = q - lit_from
        if litlen > 0:
            # backward literal->copy conversion (gdelta.cpp:420-442)
            kmax = min(offset, litlen)
            k = _last_mismatch_run(base8[:offset], tgt[:q], kmax) if kmax > 0 else 0
            litlen -= k
            matchlen += k
            copy_off -= k
            # the reference writes the (possibly zero-length) literal unit
            write_unit(inst, 0, litlen, 0)
            data += tb[lit_from : q - k]
        write_unit(inst, 1, matchlen, copy_off)
        p = cursor + j
        lit_from = p
        # stale-fp edge: the rehash is skipped iff the cursor lands exactly
        # one window before the scan end
        stale_cand = offset if p + STRLOOK == m else -1

    # tail flush (gdelta.cpp:486-514)
    if m > lit_from:
        write_unit(inst, 0, m - lit_from, 0)
        data += tb[lit_from:m]
    if end:
        write_unit(inst, 1, end_size, base_size - end_size)
    return assemble()
