"""Gdelta delta codec — vectorized, byte-exact re-implementation.

Produces/consumes the same blob format as the reference C++ codec
(apple-ouyang/gdelta) so blobs are cross-decodable. This module holds the
blob format, the decoder and the per-base index (``BaseIndex``) the encoder
shares across a group's rows; the encoder itself is
``gdelta_group.gdelta_encode_group``. It is re-architected for numpy
vectorization: Gear fingerprints for *all* positions are computed as one
fixed-weight sliding sum, candidate verification is a bulk 16-byte window
compare, and the greedy resolution loop iterates per *match* (not per byte).
The decoder has one path, ``gdelta_decode_batch``: a block's row streams
are parsed together into (flag, length, offset) arrays with no per-unit
loop, then assembled by gather or memcpy; a single blob is a 1-row batch.

Blob format (reverse-engineered; all citations into /root/reference/):

- varint: little-endian 7-bit groups, each byte = ``more(bit0) | group<<1``
  (gdelta.cpp:43-47, 112-122, 143-157).
- unit head byte: ``flag(bit0) | more(bit1) | (length & 1) << 2``.  Although
  the head struct declares a 6-bit length field, the writer masks the length
  with ``head_varint_mask == (1 << lenbits) - 1`` where ``lenbits == 1``
  (gdelta.cpp:38, 141-142, 165), so only ONE length bit lives in the head and
  ``more`` means ``length > 1``.
- after the head the writer ALWAYS emits ``varint(length >> 1)``
  (gdelta.cpp:168-169) but the reader consumes it only when ``more`` is set
  (gdelta.cpp:130-132); for ``length <= 1`` the stray 0x00 byte re-parses as a
  zero-length INSERT unit — harmless because COPY lengths are always >= 16.
- COPY units (flag=1) append ``varint(offset)`` into the base buffer
  (gdelta.cpp:133-135, 170-172).
- blob: ``varint(len(inst_stream)) ‖ inst_stream ‖ literal_bytes``
  (gdelta.cpp:516-519, parsed at 544-548).

Encoder policy replicated for compressed-size parity (gdelta.cpp:216-531):
common prefix/suffix elision with >16B thresholds, fast path when the base
is fully covered, Gear-fingerprint hash table over every 2nd base position
(single-slot buckets, last-writer-wins), single-probe 16-byte verification,
word-wise forward match extension, backward literal→copy conversion, and the
reference's stale-fingerprint quirk when a match ends exactly 16 bytes
before the suffix region (gdelta.cpp:452 condition).
"""

from __future__ import annotations

import numpy as np

from gdelta_spark.codecs.core import CorruptBlockError
from gdelta_spark.gear import GEAR

STRLOOK = 16  # fingerprint window (gdelta.cpp:17)
STRLSTEP = 2  # base sampling step (gdelta.cpp:18)
_SHIFT = np.uint64(4)  # movebitlength = ceil(64/16) (gdelta.cpp:182-184)

# ---------------------------------------------------------------------------
# varint / unit ABI
# ---------------------------------------------------------------------------


def write_varint(out: bytearray, val: int) -> None:
    """Append the gdelta varint encoding of ``val`` (always >= 1 byte)."""
    while True:
        group = val & 0x7F
        val >>= 7
        if val == 0:
            out.append(group << 1)  # more=0
            return
        out.append((group << 1) | 1)  # more=1


def read_varint(buf, pos: int) -> tuple[int, int]:
    """Read a varint at ``pos``; return (value, next_pos)."""
    val = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b >> 1) << shift
        if not (b & 1):
            return val, pos
        shift += 7


def write_unit(inst: bytearray, flag: int, length: int, offset: int) -> None:
    """Append one COPY/INSERT unit, byte-identical to the reference writer.
    The 1- and 2-byte varint cases (nearly every length, most offsets on
    small bases) are inlined — write_unit+write_varint call overhead was
    ~20% of the group encoder's near-dup wall."""
    more = 1 if length > 1 else 0
    inst.append((flag & 1) | (more << 1) | ((length & 1) << 2))
    v = length >> 1  # written even when more=0 (quirk)
    if v < 128:
        inst.append(v << 1)
    elif v < 16384:
        inst.append(((v & 0x7F) << 1) | 1)
        inst.append((v >> 7) << 1)
    else:
        write_varint(inst, v)
    if flag:
        if offset < 128:
            inst.append(offset << 1)
        elif offset < 16384:
            inst.append(((offset & 0x7F) << 1) | 1)
            inst.append((offset >> 7) << 1)
        else:
            write_varint(inst, offset)


def _varint_values(s64: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Vectorized varint decode for many spans at once: value of the varint
    spanning bytes [starts[i], ends[i]] (inclusive) of ``s64`` for every i.
    One array pass per byte of the longest varint. A varint longer than 8
    bytes (a value of 2**56 or more, which no block can address) is a
    ``CorruptBlockError``: it would overflow the int64 unit arithmetic."""
    vals = np.zeros(starts.size, np.uint64)
    if starts.size == 0:
        return vals
    span = ends - starts
    top = int(span.max())
    if top >= 8:
        raise CorruptBlockError("gdelta varint longer than 8 bytes")
    for k in range(top + 1):
        m = span >= k
        vals[m] |= (s64[starts[m] + k] >> np.uint64(1)) << np.uint64(7 * k)
    return vals


def _parse_stream(
    s: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batch unit parse of a raw instruction stream (SURVEY §2.1 row 2's
    vectorized design): ``s`` -> (flags, lengths, offsets, head positions)
    int64 arrays, one entry per unit. Mirrors the reference *reader*
    (gdelta.cpp:124-139): the length-continuation varint is consumed only
    when ``more`` is set, so the writer's always-emitted stray 0x00
    re-parses as a zero-length phantom unit, exactly as in C++.

    There is NO per-unit Python loop. Cut the stream into segments ending
    at each varint-terminator byte (more-bit 0). A unit is then 1 or 2
    consecutive segments: a head whose ``more`` bit is set is followed by
    exactly one continuation segment (its next varint), so a segment is a
    continuation iff the run of set more-bits at segment starts immediately
    before it has odd length — an accumulate/arange computation. Head
    fields and all varint values are then extracted with masked array ops
    (one pass per varint byte, <= 8).

    The head positions let the batch decoder parse MANY rows' streams
    concatenated into one array: each stream ends at a terminator, and a
    0x00 separator byte between streams re-parses as a zero-length phantom
    unit whose a==0 head also resets the continuation-parity run, so
    per-row streams cannot alias. ``s`` must end at a terminator; a stream
    that ends inside a unit raises ``CorruptBlockError``."""
    term = np.flatnonzero((s & 1) == 0).astype(np.int64)
    n_seg = term.size
    seg_start = np.empty(n_seg, np.int64)
    seg_start[0] = 0
    seg_start[1:] = term[:-1] + 1
    b0 = s[seg_start].astype(np.int64)
    a = (b0 >> 1) & 1  # head more-bit (garbage at continuation segs — see below)
    # cont(i) = a(i-1) & ~cont(i-1): within each maximal run of a==1 the
    # value alternates starting true, so cont(i) == odd(run length of a==1
    # ending at i-1) — computed with a running "last a==0 index"
    idx = np.arange(n_seg, dtype=np.int64)
    last0 = np.maximum.accumulate(np.where(a == 0, idx, -1))
    cont = np.zeros(n_seg, bool)
    cont[1:] = ((idx[:-1] - last0[:-1]) & 1) == 1
    head_seg = np.flatnonzero(~cont)
    # a head with more=1 reads the segment after it: only the last head can
    # lack one, when the stream is cut inside its unit
    if a[head_seg[-1]] and head_seg[-1] == n_seg - 1:
        raise CorruptBlockError("gdelta unit runs past its stream")

    hb = b0[head_seg]
    flags = hb & 1
    more = (hb >> 1) & 1
    lengths = (hb >> 2).astype(np.uint64)  # 6-bit field; writer stores bit0
    s64 = s.astype(np.uint64)

    # INSERT, more=1: head (bit0=0) is its own segment; length varint is the
    # entire next segment
    im = (flags == 0) & (more == 1)
    if im.any():
        hs = head_seg[im]
        hi = _varint_values(s64, seg_start[hs + 1], term[hs + 1])
        lengths[im] |= hi << np.uint64(1)
    # COPY, more=1: head (bit0=1) merges with its length varint into one
    # segment; the offset varint is the next segment
    cm = (flags == 1) & (more == 1)
    offsets = np.zeros(head_seg.size, np.uint64)
    if cm.any():
        hs = head_seg[cm]
        hi = _varint_values(s64, seg_start[hs] + 1, term[hs])
        lengths[cm] |= hi << np.uint64(1)
        offsets[cm] = _varint_values(s64, seg_start[hs + 1], term[hs + 1])
    # COPY, more=0: head merges with the offset varint
    c0 = (flags == 1) & (more == 0)
    if c0.any():
        hs = head_seg[c0]
        offsets[c0] = _varint_values(s64, seg_start[hs] + 1, term[hs])
    return (
        flags.astype(np.int64),
        lengths.astype(np.int64),
        offsets.astype(np.int64),
        seg_start[head_seg],
    )


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _row_header(payload, st: int, ln: int) -> tuple[int, int]:
    """(instruction stream start, stream length) of the row delta stored at
    ``payload[st:st+ln]``. A header or stream that runs past the row's span,
    or a span that runs past the payload, is a ``CorruptBlockError``."""
    if st + ln > len(payload):
        raise CorruptBlockError("gdelta row runs past its payload")
    try:
        il, pos = read_varint(payload, st)
    except IndexError:
        raise CorruptBlockError("gdelta row header runs past its payload") from None
    if pos + il > st + ln:
        raise CorruptBlockError("gdelta instruction stream runs past its row")
    return pos, il


def gdelta_decode(delta: bytes, base: bytes) -> bytes:
    """Interpret one delta blob against ``base``; returns the target bytes."""
    return gdelta_decode_batch(delta, [(0, len(delta))], base)[0]


def gdelta_decode_batch(
    payload: bytes, spans: list[tuple[int, int]], base: bytes
) -> list[bytes]:
    """Decode the row deltas stored at ``payload[st:st+ln]`` for each
    ``(st, ln)`` in ``spans`` against ``base``.

    Every block decodes with one vectorized parse and one assembly pass
    (SURVEY §2.1 row 2): the rows' instruction streams concatenate into one
    array (0x00 separators re-parse as zero-length phantom units whose a==0
    head resets the continuation-parity run — see ``_parse_stream``), so
    the numpy fixed costs are paid once per block, not once per row.
    Assembly is a byte gather over ``base ++ payload`` when units are short
    and slice-level memcpy when they are long. A unit cut short, a varint
    longer than 8 bytes, a copy past ``base`` or a literal past its row
    raises ``CorruptBlockError``."""
    n = len(spans)
    if n == 0:
        return []
    heads = [_row_header(payload, st, ln) for st, ln in spans]
    inst_start = np.array([pos for pos, _ in heads], np.int64)
    inst_lens = np.array([il for _, il in heads], np.int64)
    span_end = np.array([st + ln for st, ln in spans], np.int64)
    p8 = np.frombuffer(payload, np.uint8)
    base8 = np.frombuffer(base, np.uint8)

    sep = np.zeros(1, np.uint8)
    pieces: list[np.ndarray] = []
    for pos, il in heads:
        pieces.append(p8[pos : pos + il])
        pieces.append(sep)
    s_row_start = np.zeros(n, np.int64)
    np.cumsum(inst_lens[:-1] + 1, out=s_row_start[1:])
    flags, lengths, offsets, head_pos = _parse_stream(np.concatenate(pieces))
    # a row's separator parses as its own head unless the row's last unit
    # is cut short and swallowed it as a continuation
    seps = s_row_start + inst_lens
    j = np.searchsorted(head_pos, seps)
    if (j >= head_pos.size).any() or (head_pos[np.minimum(j, head_pos.size - 1)] != seps).any():
        raise CorruptBlockError("gdelta unit runs past its row")
    row_id = np.searchsorted(s_row_start, head_pos, side="right") - 1

    # insert units consume their OWN row's literal data region, which starts
    # at inst_end within that row's span of the parent payload
    data_pos = inst_start + inst_lens
    ins = flags == 0
    ins_len = np.where(ins, lengths, 0)
    p_excl = np.cumsum(ins_len) - ins_len  # exclusive global insert prefix
    # every row owns at least its separator unit (checked above)
    first_unit = np.searchsorted(row_id, np.arange(n), side="left")
    ins_abs = data_pos[row_id] + (p_excl - p_excl[first_unit][row_id])

    keep = lengths > 0  # drops separator phantoms and real phantom units
    fl = flags[keep]
    ln = lengths[keep]
    src = np.where(fl == 1, offsets[keep], base8.size + ins_abs[keep])
    rid = row_id[keep]
    if ((fl == 1) & (src + ln > base8.size)).any():
        raise CorruptBlockError("gdelta copy unit reads past its base")
    if ((fl == 0) & (src - base8.size + ln > span_end[rid])).any():
        raise CorruptBlockError("gdelta literal runs past its row")
    if ln.size == 0:
        return [b""] * n
    n_out = int(ln.sum())
    if n_out < 128 * ln.size:
        # short units: one jump-cumsum gather over (base ++ payload)
        row_out = np.zeros(n, np.int64)
        np.add.at(row_out, rid, ln)
        bounds = np.concatenate(([0], np.cumsum(row_out)))
        combined = np.concatenate((base8, p8))
        out_starts = np.cumsum(ln) - ln
        idx = np.ones(n_out, np.int64)
        idx[0] = src[0]
        if ln.size > 1:
            idx[out_starts[1:]] = src[1:] - (src[:-1] + ln[:-1] - 1)
        np.cumsum(idx, out=idx)
        big = combined[idx]
        return [big[bounds[r] : bounds[r + 1]].tobytes() for r in range(n)]
    # long units: slice-level memcpy beats a byte gather
    parts: list[list[bytes]] = [[] for _ in range(n)]
    bsz = base8.size
    for r, f, l_, s_ in zip(rid.tolist(), fl.tolist(), ln.tolist(), src.tolist()):
        if f:
            parts[r].append(base[s_ : s_ + l_])
        else:
            d = s_ - bsz
            parts[r].append(payload[d : d + l_])
    return [b"".join(p) for p in parts]


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


_GEAR4 = (GEAR << _SHIFT).copy()  # level-0 fusion: GEAR[b] pre-shifted by 4


def _gear_fingerprints(data: np.ndarray) -> np.ndarray:
    """fp[i] = sum_j GEAR[data[i+j]] << 4*(15-j) mod 2^64 for every window
    start i in [0, len-16] — the fixed-weight expansion of the reference's
    rolling recurrence fp = (fp<<4) + GEAR[b] (gdelta.cpp:188-189, 207-208).

    Computed by window doubling (F_2L(i) = F_L(i) << 4L | F_L(i+L)): 4 array
    passes instead of 16, the win that makes the vectorized formulation beat
    the sequential recurrence.
    """
    n = data.size
    m = n - STRLOOK + 1
    if m <= 0:
        return np.empty(0, dtype=np.uint64)
    out = np.empty(m, dtype=np.uint64)
    # chunked so the uint64 intermediates stay cache-resident (the 8x byte->u64
    # widening makes a whole-array pass memory-bound otherwise); 16K elements
    # (~128 KiB of u64 intermediates, L2-resident) measured best across
    # 8K-256K on 1 MiB inputs (93 vs 79 MB/s at the old 256K)
    chunk = 1 << 14
    for lo in range(0, m, chunk):
        hi_end = min(lo + chunk, m) + STRLOOK - 1
        d = data[lo:hi_end]
        f = _GEAR4[d[: d.size - 1]]
        f += GEAR[d[1:]]  # F_2
        for half in (2, 4, 8):
            hi = f[: f.size - half] << np.uint64(4 * half)  # fresh: no aliasing
            hi += f[half:]
            f = hi
        out[lo : lo + f.size] = f
    return out


_LOW32 = np.uint64(0xFFFFFFFF)


class BaseIndex:
    """Per-base precompute shared by every row of a ``gdelta_encode_group``
    call (the pipeline encodes hundreds of rows against one elected base).

    Holds the full-base Gear fingerprints, the pre-packed table entries
    ``(pos << 32) | low32(fp)`` for every window position, per-``bit`` index
    arrays, and a small cache of built hash tables keyed by
    ``(beg_size, end_size, bit)`` — rows that elide no prefix/suffix (the
    common case for rows unrelated to the base) all share one table, which
    turns the dominant per-row cost (a 512 KiB cache-cold scatter) into a
    dict hit. Per-row builds that do miss reduce to two strided views and
    one scatter: no arithmetic is recomputed.
    """

    __slots__ = ("fps", "packed", "_idx", "tables", "_keys", "_dense")

    _MAX_TABLES = 8  # worst case 8 x 512 KiB per group; misses just rebuild
    _DENSE_MAX_BIT = 22  # dense global table cap: 32 MiB; bigger bases keep
    # the pure-searchsorted winner query (probe cost amortizes at that size)

    def __init__(self, base: bytes):
        self.fps = _gear_fingerprints(np.frombuffer(base, dtype=np.uint8))
        packed = np.arange(self.fps.size, dtype=np.uint64)
        packed <<= np.uint64(32)
        packed |= self.fps & _LOW32
        self.packed = packed
        self._idx: dict[int, np.ndarray] = {}
        self.tables: dict[tuple[int, int, int], np.ndarray] = {}
        self._keys: dict[tuple[int, int], np.ndarray] = {}
        self._dense: dict[tuple[int, int], "np.ndarray | None"] = {}

    def idx(self, bit: int) -> np.ndarray:
        a = self._idx.get(bit)
        if a is None:
            a = (self.fps >> np.uint64(64 - bit)).view(np.int64)
            self._idx[bit] = a
        return a

    def sorted_key(self, bit: int, parity: int) -> np.ndarray:
        """Sorted ``(slot << 32) | position`` array over all base window
        positions >= 2 of the given parity — the table-free winner query used
        by the group encoder: the reference's last-writer-wins slot winner for
        a row eliding ``beg``/``end`` is the LARGEST sampled position in
        ``[beg+2, beg+n_fps)`` hashing to the slot (insertions run in
        increasing position order, gdelta.cpp:199-205), i.e. one
        ``searchsorted`` per probe instead of a per-row 512 KiB table build."""
        k = self._keys.get((bit, parity))
        if k is None:
            start = 2 if parity == 0 else 3
            pos = np.arange(start, self.fps.size, STRLSTEP, dtype=np.uint64)
            k = np.sort((self.idx(bit).view(np.uint64)[start::STRLSTEP] << np.uint64(32)) | pos)
            self._keys[(bit, parity)] = k
        return k

    def dense_global(self, bit: int, parity: int) -> "np.ndarray | None":
        """Dense slot -> packed-entry table over ALL base window positions
        >= 2 of the given parity, winner = the GLOBAL largest position per
        slot. Answers the group encoder's per-probe winner query with one
        gather (~3 ns) instead of one searchsorted (~30 ns): when the
        global winner lies inside a row's eligibility window [lo, hi) it
        IS the windowed last-writer-wins winner; when it lies above hi-1
        the caller falls back to ``sorted_key`` searchsorted for that
        probe only (rare — only slots whose max position sits inside the
        row's elided suffix). Built from the already-shared sorted key
        (one boundary scan + one scatter, no ufunc.at), cached per
        (bit, parity). None above ``_DENSE_MAX_BIT``."""
        key_bp = (bit, parity)
        t = self._dense.get(key_bp, False)
        if t is not False:
            return t
        if bit > self._DENSE_MAX_BIT:
            self._dense[key_bp] = None
            return None
        k = self.sorted_key(bit, parity)
        t = np.zeros(1 << bit, dtype=np.uint64)
        if k.size:
            slots = (k >> np.uint64(32)).view(np.int64)
            # sorted ascending by (slot, pos): the last element of each
            # slot run carries that slot's max position
            ends = np.flatnonzero(slots[1:] != slots[:-1])
            idxs = np.concatenate([ends, [slots.size - 1]])
            pos = (k[idxs] & _LOW32).view(np.int64)
            t[slots[idxs]] = self.packed[pos]
        self._dense[key_bp] = t
        return t

    def table(self, beg_size: int, end_size: int, bit: int) -> np.ndarray:
        """Single-slot hash table for a row eliding ``beg_size``/``end_size``
        base bytes: fingerprint top ``bit`` bits -> packed entry, 0 = empty.
        Every 2nd window from interior offset 2 is inserted, last writer wins
        (gdelta.cpp:176-214). Positions strictly increase along the strided
        views, so one C-order fancy assignment is that overwrite."""
        key = (beg_size, end_size, bit)
        t = self.tables.get(key)
        if t is None:
            t = np.zeros(1 << bit, dtype=np.uint64)
            n_fps = self.fps.size - beg_size - end_size  # interior windows
            if n_fps > 2:
                sl = slice(beg_size + 2, beg_size + n_fps, STRLSTEP)
                t[self.idx(bit)[sl]] = self.packed[sl]
            if len(self.tables) >= self._MAX_TABLES:
                self.tables.pop(next(iter(self.tables)))
            self.tables[key] = t
        return t


def _first_mismatch(a: np.ndarray, b: np.ndarray, limit: int) -> int:
    """Count of equal leading bytes of a[:limit] vs b[:limit], scanning in
    blocks so long extensions stop cheaply at the first mismatch."""
    step = 4096
    off = 0
    while off < limit:
        hi = min(off + step, limit)
        neq = a[off:hi] != b[off:hi]
        i = int(np.argmax(neq))
        if neq[i]:
            return off + i
        off = hi
        step *= 4
    return limit


def _last_mismatch_run(a: np.ndarray, b: np.ndarray, limit: int) -> int:
    """Count of equal TRAILING bytes of a[-limit:] vs b[-limit:]."""
    if limit <= 0:
        return 0
    neq = a[a.size - limit :] != b[b.size - limit :]
    rev = neq[::-1]
    i = int(np.argmax(rev))
    return limit if not rev[i] else i
