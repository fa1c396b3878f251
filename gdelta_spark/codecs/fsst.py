"""FSST-style static-symbol-table codec over the serialized token byte stream.

Model follows the public FSST design (Boncz, Neumann, Freitag, "FSST: Fast
Random Access String Compression", VLDB 2020): a per-block static table of at
most 255 symbols, each 1-8 bytes, plus escape code 255 for bytes outside the
table. Training and encoding here are re-architected for numpy: instead of
FSST's sequential longest-match loop we run 3 vectorized merge rounds
(pair-frequency counting + exact greedy left-to-right non-overlapping
replacement via run-parity), growing symbols up to 8 bytes. Any valid parse
decodes identically, so the parse strategy affects only compression ratio.

Payload layout (little-endian):
    [n_bytes:u32]      decoded byte-stream length
    [n_sym:u8]         number of table symbols (<= 255)
    n_sym * [len:u8]   symbol lengths (1..8)
    concat(symbol bytes)
    [stream...]        code bytes; 255 = escape, next byte is a literal
"""

from __future__ import annotations

import struct

import numpy as np

from gdelta_spark.codecs import core

ESC = 255
MAX_SYM = 255  # codes 0..254; 255 reserved for escape
MAX_LEN = 8
ROUNDS = 6
MERGES_PER_ROUND = (96, 64, 40, 24, 16, 14)
MIN_COUNT = 4
TRAIN_PAIRS = 1 << 18  # pair-counting sample per round


def _greedy_nonoverlap(match: np.ndarray) -> np.ndarray:
    """Exact greedy left-to-right selection of non-overlapping width-2 matches:
    within each run of consecutive matching positions take every 2nd.
    All index machinery runs in int32 (streams are < 2^31 bytes by the
    block-size contract) — early rounds on texty data match 30-50% of
    positions, so halving index width halves this step's memory traffic."""
    if match.all():
        # one run covering everything (common in round 1 on low-entropy
        # streams): greedy takes exactly the even positions
        return np.arange(0, match.size, 2, dtype=np.int32)
    idx = np.flatnonzero(match).astype(np.int32)
    if idx.size == 0:
        return idx
    brk = np.flatnonzero(np.diff(idx) > 1).astype(np.int32) + 1
    run_id = np.zeros(idx.size, dtype=np.int32)
    run_id[brk] = 1
    run_id = np.cumsum(run_id, dtype=np.int32)
    run_first = idx[np.concatenate(([0], brk))][run_id]
    return idx[((idx - run_first) & 1) == 0]


def _expand(expansions: list[bytes], v: int) -> bytes:
    return bytes([v]) if v < 256 else expansions[v - 256]


def _train_and_parse(data: np.ndarray) -> tuple[list[bytes], np.ndarray]:
    """Run merge rounds; return (symbol expansions for merged codes in code
    order, final work stream of values in [0,256+n_merged)).

    Codes stay < 256 + 254 < 512, so a pair packs into 18 bits
    (``a << 9 | b``). Per round the full-stream work is: the pair keys, one
    bincount over a bounded sample (no sort), one BOOL-LUT gather for the
    match mask, the greedy non-overlap select, and one in-place scatter +
    boolean compress — new codes for the (small) taken set come from the
    rank of their pair in the sorted selection, byte-identical to a dense
    int-LUT gather at a quarter of the memory traffic."""
    # int16 work stream: codes stay < 510, and halving element width halves
    # the memory traffic of every full-stream pass (gather/compress/scatter)
    work = data.astype(np.int16)
    expansions: list[bytes] = []  # merged code i -> byte string
    exp_len = np.ones(256, dtype=np.int64)  # value -> expansion length
    next_code = 256
    lutb = np.zeros(1 << 18, dtype=bool)  # pair key -> selected this round
    # pair key -> new code for this round's selection (int16, 512 KiB:
    # L2-resident, so the per-taken gather costs ~3ns vs searchsorted's
    # ~60ns/element — round 1 on texty data takes 30-50% of all positions)
    lutc = np.zeros(1 << 18, dtype=np.int16)

    for budget in MERGES_PER_ROUND[:ROUNDS]:
        if work.size < 2:
            break
        # key = a*512 + b == (a << 9) | b for b < 512; multiply-with-dtype
        # + in-place add skips one full-width temp
        pairs = np.multiply(work[:-1], 512, dtype=np.int32)
        pairs += work[1:]
        # train on a bounded sample (pair counting is the expensive step);
        # merges still apply to the full stream. Pair keys are < 2^18, so
        # counting is ONE bincount pass instead of np.unique's sort (the
        # sort was ~half of every round's training cost)
        cnt = np.bincount(pairs[:TRAIN_PAIRS], minlength=1 << 18)
        uniq = np.flatnonzero(cnt >= MIN_COUNT).astype(np.int32)
        counts = cnt[uniq]
        lens = exp_len[uniq >> 9] + exp_len[uniq & 511]
        ok = lens <= MAX_LEN  # count floor already applied by the bincount
        uniq, counts, lens = uniq[ok], counts[ok], lens[ok]
        if uniq.size == 0:
            break
        gain = counts * (lens - 1)
        top = np.argsort(gain)[::-1][:budget]
        sel = np.sort(uniq[top])
        n_new = sel.size
        if next_code - 256 + n_new > MAX_SYM - 1:
            n_new = MAX_SYM - 1 - (next_code - 256)
            if n_new <= 0:
                break
            sel = sel[:n_new]
        # full-stream work is ONE bool gather (match) + the greedy select;
        # new codes for the (much smaller) taken set come from the rank of
        # their pair in the sorted sel — identical codes to the old
        # full-width LUT gather, ~4x less memory traffic
        lutb[sel] = True
        match = lutb[pairs]
        lutb[sel] = False  # cheap reset: only touched slots
        # same codes as next_code + rank-in-sorted-sel, via the dense LUT
        lutc[sel] = np.arange(next_code, next_code + sel.size, dtype=np.int16)
        if match.all():
            # every position matches (rounds 1-2 on low-entropy streams):
            # greedy takes exactly the even positions and consumes their
            # partners, so the whole taken/scatter/compress apply collapses
            # to ONE strided gather (+ the odd trailing element, if any)
            n = work.size
            new_work = lutc[pairs[0 : n - 1 : 2]]
            if n & 1:
                new_work = np.concatenate((new_work, work[-1:]))
            lutc[sel] = 0
            for pv in sel.tolist():
                expansions.append(_expand(expansions, pv >> 9) + _expand(expansions, pv & 511))
            exp_len = np.concatenate(
                (exp_len, exp_len[sel >> 9] + exp_len[sel & 511])
            )
            work = new_work
            next_code += sel.size
            continue
        taken = _greedy_nonoverlap(match)
        if taken.size == 0:
            lutc[sel] = 0
            break
        new_codes = lutc[pairs[taken]]
        lutc[sel] = 0  # cheap reset: only touched slots
        # record expansions
        for pv in sel.tolist():
            expansions.append(_expand(expansions, pv >> 9) + _expand(expansions, pv & 511))
        exp_len = np.concatenate(
            (exp_len, exp_len[sel >> 9] + exp_len[sel & 511])
        )
        keep = np.ones(work.size, dtype=bool)
        keep[taken + 1] = False
        work[taken] = new_codes  # in place: work is owned (astype/compress)
        work = work[keep]
        next_code += sel.size

    return expansions, work


def fsst_encode(values: np.ndarray) -> bytes:
    data = np.frombuffer(values.astype("<i4", copy=False).tobytes(), dtype=np.uint8)
    n_bytes = data.size
    if n_bytes == 0:
        return struct.pack("<IB", 0, 0)
    expansions, work = _train_and_parse(data)
    n_merged = len(expansions)

    # symbol table: all merged codes first, then most-frequent literals fill
    # the remaining code space; uncoded literals use the escape. Values are
    # < 256 + 254, so counting is one bincount pass (no sort).
    cnt = np.bincount(work, minlength=256)
    lit_vals = np.flatnonzero(cnt[:256])
    lit_counts = cnt[lit_vals]
    room = MAX_SYM - 1 - n_merged
    top_lits = lit_vals[np.argsort(lit_counts)[::-1][:room]]

    # code assignment: merged code i -> i; literal top_lits[j] -> n_merged+j
    code_of = np.full(256 + n_merged, -1, dtype=np.int64)
    code_of[256:] = np.arange(n_merged)
    code_of[top_lits] = n_merged + np.arange(top_lits.size)
    symbols = expansions + [bytes([int(v)]) for v in top_lits]

    codes = code_of[work]
    coded = codes >= 0
    widths = np.where(coded, 1, 2)
    out = np.empty(int(widths.sum()), dtype=np.uint8)
    starts = np.zeros(work.size, dtype=np.int64)
    starts[1:] = np.cumsum(widths)[:-1]
    out[starts[coded]] = codes[coded]
    esc_at = starts[~coded]
    out[esc_at] = ESC
    out[esc_at + 1] = work[~coded]  # uncoded values are always literals < 256

    head = struct.pack("<IB", n_bytes, len(symbols))
    lens = bytes(len(s) for s in symbols)
    return head + lens + b"".join(symbols) + out.tobytes()


def fsst_decode(buf: bytes) -> np.ndarray:
    n_bytes, n_sym = core.read_header("<IB", buf)
    if n_bytes == 0:
        return np.empty(0, dtype=np.int32)
    pos = 5
    if len(buf) < pos + n_sym:
        raise core.CorruptBlockError(f"{len(buf)} bytes for {n_sym} fsst symbol lengths")
    lens = np.frombuffer(buf, dtype=np.uint8, count=n_sym, offset=pos).astype(np.int64)
    pos += n_sym
    if len(buf) < pos + int(lens.sum()):
        raise core.CorruptBlockError(f"{len(buf)} bytes for the fsst symbol table")
    symbols = []
    for ln in lens.tolist():
        symbols.append(buf[pos : pos + ln])
        pos += ln
    stream = np.frombuffer(buf, dtype=np.uint8, offset=pos)

    # escape parsing: within each maximal run of ESC bytes, offsets 0,2,4...
    # are escape starters consuming the following byte as a literal.
    esc_idx = np.flatnonzero(stream == ESC)
    if esc_idx.size:
        brk = np.flatnonzero(np.diff(esc_idx) > 1) + 1
        run_id = np.zeros(esc_idx.size, dtype=np.int64)
        run_id[brk] = 1
        run_id = np.cumsum(run_id)
        run_first = esc_idx[np.concatenate(([0], brk))][run_id]
        starters = esc_idx[((esc_idx - run_first) & 1) == 0]
    else:
        starters = esc_idx
    if starters.size and starters[-1] == stream.size - 1:
        raise core.CorruptBlockError("fsst escape byte ends the stream")

    is_literal = np.zeros(stream.size, dtype=bool)
    is_literal[starters + 1] = True
    is_starter = np.zeros(stream.size, dtype=bool)
    is_starter[starters] = True
    token_pos = np.flatnonzero(~is_literal)  # starters + plain codes

    # expansion matrix: row per token kind; escape tokens expand to 1 literal
    pad = np.zeros((n_sym + 1, MAX_LEN), dtype=np.uint8)
    for i, s in enumerate(symbols):
        pad[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    all_lens = np.concatenate((lens, [1]))

    kinds = np.where(is_starter[token_pos], n_sym, stream[token_pos]).astype(np.int64)
    rows = pad[kinds]
    # escape rows carry their literal byte
    st_mask = kinds == n_sym
    rows[st_mask, 0] = stream[token_pos[st_mask] + 1]
    mask = np.arange(MAX_LEN) < all_lens[kinds][:, None]
    data = rows[mask]
    if data.size != n_bytes:
        raise core.CorruptBlockError(f"fsst decode length mismatch: {data.size} != {n_bytes}")
    return np.frombuffer(data.tobytes(), dtype="<i4").copy()


core.register(core.FSST, fsst_encode, fsst_decode)
