"""Gdelta delta codec — vectorized, byte-exact re-implementation.

Produces/consumes the same blob format as the reference C++ codec
(apple-ouyang/gdelta) so blobs are cross-decodable, while the encoder is
re-architected for numpy vectorization: Gear fingerprints for *all*
positions are computed as one fixed-weight sliding sum, candidate
verification is a bulk 16-byte window compare, and the greedy resolution
loop iterates per *match* (not per byte).

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


def read_unit(buf, pos: int) -> tuple[int, int, int, int]:
    """Read one unit at ``pos``; return (flag, length, offset, next_pos)."""
    head = buf[pos]
    pos += 1
    flag = head & 1
    more = (head >> 1) & 1
    length = head >> 2  # 6-bit field; writer only ever stores bit0 here
    if more:
        hi, pos = read_varint(buf, pos)
        length |= hi << 1
    offset = 0
    if flag:
        offset, pos = read_varint(buf, pos)
    return flag, length, offset, pos


def _varint_values(s64: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Vectorized varint decode for many spans at once: value of the varint
    spanning bytes [starts[i], ends[i]] (inclusive) of ``s64`` for every i.
    One array pass per byte of the longest varint (<= 10)."""
    vals = np.zeros(starts.size, np.uint64)
    if starts.size == 0:
        return vals
    span = ends - starts
    for k in range(int(span.max()) + 1):
        m = span >= k
        vals[m] |= (s64[starts[m] + k] >> np.uint64(1)) << np.uint64(7 * k)
    return vals


# below ~1 KiB of instruction stream the plain per-unit loop beats numpy's
# fixed per-array-op overhead (measured crossover ~300 units)
_VEC_MIN_INST = 1024


def _parse_units_scalar(
    delta: bytes, pos: int, inst_end: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    flags: list[int] = []
    lengths: list[int] = []
    offsets: list[int] = []
    while pos < inst_end:
        f, ln, off, pos = read_unit(delta, pos)
        flags.append(f)
        lengths.append(ln)
        offsets.append(off)
    return (
        np.asarray(flags, np.int64),
        np.asarray(lengths, np.int64),
        np.asarray(offsets, np.int64),
        inst_end,
    )


def parse_units_arrays(
    delta: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Batch unit parse: delta blob -> (flags, lengths, offsets) numpy arrays
    plus the literal data stream offset (SURVEY §2.1 row 2's vectorized
    design). Mirrors the reference *reader* (gdelta.cpp:124-139): the
    length-continuation varint is consumed only when ``more`` is set, so the
    writer's always-emitted stray 0x00 re-parses as a zero-length phantom
    unit, exactly as in C++.

    The vectorized path has NO per-unit Python loop. Cut the stream into
    segments ending at each varint-terminator byte (more-bit 0). A unit is
    then 1 or 2 consecutive segments: a head whose ``more`` bit is set is
    followed by exactly one continuation segment (its next varint), so a
    segment is a continuation iff the run of set more-bits at segment starts
    immediately before it has odd length — an accumulate/arange computation.
    Head fields and all varint values are then extracted with masked array
    ops (one pass per varint byte, <= 10).
    """
    inst_len, pos = read_varint(delta, 0)
    inst_end = pos + inst_len
    if inst_len == 0:
        e = np.empty(0, np.int64)
        return e, e, e, inst_end
    if inst_len < _VEC_MIN_INST:
        return _parse_units_scalar(delta, pos, inst_end)
    s = np.frombuffer(delta, np.uint8, count=inst_len, offset=pos)
    if s[-1] & 1:  # stream must end at a terminator; fall back if malformed
        return _parse_units_scalar(delta, pos, inst_end)
    flags, lengths, offsets, _ = _parse_stream(s)
    return flags, lengths, offsets, inst_end


def _parse_stream(
    s: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized unit parse of a raw instruction stream (see
    ``parse_units_arrays`` for the algorithm); additionally returns each
    unit's head byte position within ``s`` — the hook that lets the batch
    decoder parse MANY rows' streams concatenated into one array (each
    stream ends at a terminator, and a 0x00 separator byte between streams
    re-parses as a zero-length phantom unit whose a==0 head also resets the
    continuation-parity run, so per-row streams cannot alias)."""
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


def parse_units(delta: bytes) -> tuple[list[tuple[int, int, int]], int]:
    """Parse a delta blob into [(flag, length, offset)...] and the literal
    data stream offset. Zero-length phantom units are kept (they are no-ops).
    """
    flags, lengths, offsets, inst_end = parse_units_arrays(delta)
    return list(zip(flags.tolist(), lengths.tolist(), offsets.tolist())), inst_end


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _gdelta_decode_scalar(delta: bytes, pos: int, inst_end: int, base: bytes) -> bytes:
    parts = []
    data_pos = inst_end
    while pos < inst_end:
        flag, length, offset, pos = read_unit(delta, pos)
        if length == 0:
            continue
        if flag:
            parts.append(base[offset : offset + length])
        else:
            parts.append(delta[data_pos : data_pos + length])
            data_pos += length
    return b"".join(parts)


def gdelta_decode(delta: bytes, base: bytes) -> bytes:
    """Interpret a delta blob against ``base``; returns the reconstructed
    target bytes (mirrors gdelta.cpp:533-567 semantics). Unit parsing is
    batched to numpy above the scalar/vector crossover; assembly is
    slice-level memcpy (never per byte)."""
    inst_len, pos = read_varint(delta, 0)
    if inst_len < _VEC_MIN_INST:
        return _gdelta_decode_scalar(delta, pos, pos + inst_len, base)
    flags, lengths, offsets, data_pos = parse_units_arrays(delta)
    keep = lengths > 0
    if not keep.all():
        flags, lengths, offsets = flags[keep], lengths[keep], offsets[keep]
    # literal units consume the data stream in order: prefix-sum their spans
    ins = flags == 0
    ins_start = np.full(lengths.size, 0, np.int64)
    if ins.any():
        ins_lens = lengths[ins]
        starts = np.empty(ins_lens.size, np.int64)
        starts[0] = data_pos
        np.cumsum(ins_lens[:-1], out=starts[1:])
        starts[1:] += data_pos
        ins_start[ins] = starts
    n_out = int(lengths.sum())
    if lengths.size >= 64 and n_out < 128 * lengths.size:
        # short-unit streams (literal-heavy deltas): per-unit Python slicing
        # costs ~80ns/unit while units average <128 B — assemble instead via
        # one gather over a combined (base ++ delta) address space, with the
        # per-position source index built by the jump-cumsum trick (all O(N)
        # array passes, no per-unit loop). Long units stay on the slice path
        # below, where memcpy beats a byte gather.
        base8 = np.frombuffer(base, np.uint8)
        combined = np.concatenate((base8, np.frombuffer(delta, np.uint8)))
        src = np.where(flags == 1, offsets, ins_start + base8.size)
        out_starts = np.cumsum(lengths) - lengths
        idx = np.ones(n_out, np.int64)
        idx[0] = src[0]
        if lengths.size > 1:
            idx[out_starts[1:]] = src[1:] - (src[:-1] + lengths[:-1] - 1)
        np.cumsum(idx, out=idx)
        return combined[idx].tobytes()
    parts = []
    for flag, length, offset, ds in zip(
        flags.tolist(), lengths.tolist(), offsets.tolist(), ins_start.tolist()
    ):
        if flag:
            parts.append(base[offset : offset + length])
        else:
            parts.append(delta[ds : ds + length])
    return b"".join(parts)


def gdelta_decode_batch(
    payload: bytes, spans: list[tuple[int, int]], base: bytes
) -> list[bytes]:
    """Decode MANY row deltas stored contiguously in ``payload`` with one
    vectorized parse and one assembly pass — the block-level form of
    ``gdelta_decode`` (SURVEY §2.1 row 2). Per-row decode pays a fixed
    ~80us of numpy dispatch per row; a texty block of 500 small deltas pays
    it 500 times. Here all rows' instruction streams concatenate into one
    array (0x00 separators re-parse as zero-length phantom units whose
    a==0 head resets the continuation-parity run — see ``_parse_stream``),
    so the classification/varint passes amortize across the block.

    Falls back to per-row ``gdelta_decode`` on any irregular row (empty or
    unterminated stream) — identical output either way, enforced by the
    equality tests."""
    n = len(spans)
    if n == 0:
        return []
    # dispatch on a header SAMPLE: sparse streams (few long units per row —
    # near-dup/raw-ish rows) decode memcpy-bound in the scalar per-row loop
    # and would only pay the batch machinery's fixed numpy costs; blocks are
    # cluster-homogeneous, so 16 headers predict the rest
    probe = 0
    for st, _ in spans[:16]:
        probe += read_varint(payload, st)[0]
    if probe < 64 * min(n, 16):
        return [gdelta_decode(payload[st : st + ln], base) for st, ln in spans]
    inst_start = np.empty(n, np.int64)
    inst_lens = np.empty(n, np.int64)
    for r, (st, ln) in enumerate(spans):
        il, pos = read_varint(payload, st)
        # (pos - st) accounts for the varint header already consumed: a row
        # whose header + instruction stream exceeds its span would otherwise
        # read its final byte from the NEXT row (ADVICE r2 — il == ln edge)
        if il == 0 or (pos - st) + il > ln or payload[pos + il - 1] & 1:
            return [gdelta_decode(payload[st : st + ln], base) for st, ln in spans]
        inst_start[r] = pos
        inst_lens[r] = il
    p8 = np.frombuffer(payload, np.uint8)
    base8 = np.frombuffer(base, np.uint8)

    sep = np.zeros(1, np.uint8)
    pieces: list[np.ndarray] = []
    s_row_start = np.empty(n, np.int64)
    off = 0
    for r in range(n):
        s_row_start[r] = off
        pieces.append(p8[inst_start[r] : inst_start[r] + inst_lens[r]])
        pieces.append(sep)
        off += inst_lens[r] + 1
    flags, lengths, offsets, head_pos = _parse_stream(np.concatenate(pieces))
    row_id = np.searchsorted(s_row_start, head_pos, side="right") - 1

    # insert units consume their OWN row's literal data region, which starts
    # at inst_end within that row's span of the parent payload
    data_pos = inst_start + inst_lens
    ins = flags == 0
    ins_len = np.where(ins, lengths, 0)
    p_excl = np.cumsum(ins_len) - ins_len  # exclusive global insert prefix
    first_unit = np.searchsorted(row_id, np.arange(n), side="left")
    first_unit = np.minimum(first_unit, max(row_id.size - 1, 0))
    ins_abs = data_pos[row_id] + (p_excl - p_excl[first_unit][row_id])

    keep = lengths > 0  # drops separator phantoms and real phantom units
    fl = flags[keep]
    ln = lengths[keep]
    src = np.where(fl == 1, offsets[keep], base8.size + ins_abs[keep])
    rid = row_id[keep]
    row_out = np.zeros(n, np.int64)
    np.add.at(row_out, rid, ln)

    n_out = int(ln.sum())
    bounds = np.concatenate(([0], np.cumsum(row_out)))
    if ln.size == 0:
        return [b""] * n
    if n_out < 128 * ln.size:
        # short units: one jump-cumsum gather over (base ++ payload)
        combined = np.concatenate((base8, p8))
        out_starts = np.cumsum(ln) - ln
        idx = np.ones(n_out, np.int64)
        idx[0] = src[0]
        if ln.size > 1:
            idx[out_starts[1:]] = src[1:] - (src[:-1] + ln[:-1] - 1)
        np.cumsum(idx, out=idx)
        big = combined[idx]
        return [big[bounds[r] : bounds[r + 1]].tobytes() for r in range(n)]
    # long units: slice-level memcpy beats a byte gather; the batched parse
    # is still amortized
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
    """Per-base precompute shared across many ``gdelta_encode`` calls of a
    group (the pipeline encodes hundreds of rows against one elected base).

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

    def table(self, base8: np.ndarray, beg_size: int, end_size: int, bit: int) -> np.ndarray:
        key = (beg_size, end_size, bit)
        t = self.tables.get(key)
        if t is None:
            t = _build_hash_table(base8, beg_size, end_size, bit, self)
            if len(self.tables) >= self._MAX_TABLES:
                self.tables.pop(next(iter(self.tables)))
            self.tables[key] = t
        return t


def _build_hash_table(
    base8: np.ndarray,
    beg_size: int,
    end_size: int,
    bit: int,
    base_fps: BaseIndex | None = None,
) -> np.ndarray:
    """Single-slot hash table over the base interior: fingerprint top ``bit``
    bits -> packed u64 entry ``(abs_pos << 32) | (fp & 0xFFFFFFFF)``, 0 =
    empty. Sampling every 2nd window starting at interior offset 2,
    last-writer-wins (gdelta.cpp:176-214); positions are strictly
    increasing and occupy the HIGH half, so one ``maximum.at`` is the
    whole insert — no winner re-derivation, no second scatter, and the
    table is rebuilt per (base, target) pair, which made that scatter the
    single hottest line of the encoder.

    The low fp bits are the candidate prefilter (together with the slot's
    implicit top bits: ~47 effective bits). It is a *prefilter* only — the
    exact 16-byte compare decides acceptance exactly as the reference's
    memcmp does, so weakening it from the previous full-64-bit parallel
    table cannot change emitted bytes, only add vanishingly rare extra
    compares.
    """
    table = np.zeros(1 << bit, dtype=np.uint64)
    interior_len = base8.size - end_size - beg_size
    if interior_len < STRLOOK:
        return table
    n_fps = interior_len - STRLOOK + 1
    if n_fps <= 2:
        return table
    if base_fps is not None:
        # zero-compute build: strided views of the per-base precomputed index
        # and packed-entry arrays, one fancy-index scatter. Positions strictly
        # increase along the views, so C-order fancy assignment == the
        # reference's last-writer-wins overwrite (differential-tested against
        # maximum.at in test_gdelta_codec).
        idxv = base_fps.idx(bit)[beg_size + 2 : beg_size + n_fps : STRLSTEP]
        if idxv.size == 0:
            return table
        table[idxv] = base_fps.packed[beg_size + 2 : beg_size + n_fps : STRLSTEP]
        return table
    fps = _gear_fingerprints(base8[beg_size : base8.size - end_size])
    sampled = fps[2:n_fps:STRLSTEP]
    abs_start = beg_size + 2
    if sampled.size == 0:
        return table
    # .view(int64) = zero-copy reinterpret; top-bits shift keeps values < 2^63
    idx = (sampled >> np.uint64(64 - bit)).view(np.int64)
    packed = np.arange(
        abs_start, abs_start + sampled.size * STRLSTEP, STRLSTEP, dtype=np.uint64
    )
    packed <<= np.uint64(32)
    packed |= sampled & _LOW32
    np.maximum.at(table, idx, packed)
    return table


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


def gdelta_encode(
    new: bytes, base: bytes, base_fps: BaseIndex | None = None
) -> bytes:
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
    interior = base_size - beg_size - end_size
    bit = (interior + 10).bit_length()
    table = None
    if base_fps is not None:
        # lazy: small probe segments use the sorted-key winner query instead
        # of a table; the table is built (and cached) only if a big segment
        # ever loads. A cached table is used immediately when present.
        bi = base_fps
        table = bi.tables.get((beg_size, end_size, bit))
        n_fps_b = interior - STRLOOK + 1
        key_lo = beg_size + 2
        key_hi = beg_size + n_fps_b if n_fps_b > 2 else key_lo
        skey = bi.sorted_key(bit, key_lo & 1)
        fps_full = bi.fps
    else:
        bi = None
        table = _build_hash_table(base8, beg_size, end_size, bit)

    n2 = new_size - end_size  # exclusive end of the scan region
    tgt = new8[beg_size:n2]
    m = tgt.size
    last_pos = m - STRLOOK  # last probe-able position

    if beg:
        write_unit(inst, 1, beg_size, 0)

    base_lim = base_size - end_size  # match extension bound (gdelta.cpp:400-408)
    shift = np.uint64(64 - bit)
    tb = tgt.tobytes()  # for cheap 16-byte exact verifies
    bb_mem = base8.tobytes() if not isinstance(base, (bytes, bytearray)) else base

    # Lazy per-segment probing: fingerprints/candidates are computed only for
    # the segments the cursor actually visits. Segments are sized adaptively:
    # the first load after a match is tiny (on near-duplicate data the gap to
    # the next match is a few dozen bytes — computing a 256 KiB segment of
    # fingerprints to cross it was the round-3 encoder's dominant cost), and
    # each further load in the same gap grows 8x so genuinely literal regions
    # (mixed-dup rows that never match) converge to the big-segment path
    # within three loads.
    SEG = 1 << 18
    SEG0 = 1 << 8
    seg_start = seg_end = 0
    seg_pos = np.empty(0, dtype=np.int64)  # prefilter-passing positions
    seg_cand = np.empty(0, dtype=np.int64)  # their candidate base offsets

    def load_segment(s: int, size: int) -> None:
        nonlocal seg_start, seg_end, seg_pos, seg_cand, table
        seg_start = s
        seg_end = min(s + size, last_pos + 1)
        fps = _gear_fingerprints(tgt[s : seg_end + STRLOOK - 1])
        if table is None and fps.size >= 2048:
            table = bi.table(base8, beg_size, end_size, bit)
        if table is None:
            # table-free winner query: the last-writer-wins slot winner is
            # the largest eligible sampled base position hashing to the slot
            # (see BaseIndex.sorted_key); the full-64-bit fingerprint equality
            # is a conservative prefilter exactly like the low32 one
            if skey.size == 0:  # base too small to index (< one window)
                seg_pos = np.empty(0, dtype=np.int64)
                seg_cand = np.empty(0, dtype=np.int64)
                return
            slot = fps >> shift
            j = np.searchsorted(skey, (slot << np.uint64(32)) | np.uint64(key_hi - 1), side="right") - 1
            kj = skey[np.maximum(j, 0)]
            pos = (kj & _LOW32).astype(np.int64)
            ok = j >= 0
            ok &= (kj >> np.uint64(32)) == slot
            ok &= pos >= key_lo
            ok &= fps_full[pos] == fps
            rel = np.flatnonzero(ok)
            seg_pos = rel + s
            seg_cand = pos[rel]
            return
        idx = (fps >> shift).view(np.int64)
        entry = table[idx]
        ok = entry != 0
        ok &= (entry & _LOW32) == (fps & _LOW32)
        rel = np.flatnonzero(ok)
        seg_pos = rel + s
        seg_cand = (entry[rel] >> np.uint64(32)).astype(np.int64)

    def next_match(p: int) -> tuple[int, int]:
        """First position q >= p whose candidate 16-byte window verifies
        exactly; returns (q, offset) or (-1, 0). Identical accept set to the
        reference's per-position probe: equal bytes => equal fingerprint =>
        passes the prefilter; the exact compare then mirrors the memcmp."""
        size = SEG0
        while True:
            if p > last_pos:
                return -1, 0
            if not (seg_start <= p < seg_end) or seg_end == seg_start:
                load_segment(p, size)
                size = min(size * 8, SEG)
            i = int(np.searchsorted(seg_pos, p))
            while i < seg_pos.size:
                q = int(seg_pos[i])
                c = int(seg_cand[i])
                if tb[q : q + STRLOOK] == bb_mem[c : c + STRLOOK]:
                    return q, c
                i += 1
            p = seg_end
            if p > last_pos:
                return -1, 0

    p = 0  # cursor, relative to tgt
    lit_from = 0  # start of pending literal, relative to tgt
    stale_cand = -1  # candidate under the stale fingerprint, if in that state

    while p + STRLOOK <= m:
        if stale_cand >= 0:
            # reference quirk: fp not refreshed when the previous match ended
            # exactly 16 bytes before n2 (gdelta.cpp:452 loop guard), so the
            # final probe reuses the previous window's fingerprint/slot.
            offset = stale_cand
            matched = tb[p : p + STRLOOK] == bb_mem[offset : offset + STRLOOK]
            q = p if matched else -1
        else:
            q, offset = next_match(p)
            matched = q >= 0
            if matched:
                # literal run tgt[lit_from:q] becomes pending before the match
                p = q

        if not matched:
            break  # everything from lit_from on is literal; tail flush below

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
            k = 0
            if kmax > 0:
                k = _last_mismatch_run(base8[:offset], tgt[:q], kmax)
            litlen -= k
            matchlen += k
            copy_off -= k
            # reference writes the (possibly zero-length) literal unit
            write_unit(inst, 0, litlen, 0)
            data += tgt[lit_from : q - k].tobytes()
        write_unit(inst, 1, matchlen, copy_off)
        p = cursor + j
        lit_from = p
        # stale-fp edge: rebuild skipped iff cursor+16 == n2 in absolute terms
        stale_cand = offset if p + STRLOOK == m else -1

    # tail flush (gdelta.cpp:486-514)
    if m > lit_from:
        write_unit(inst, 0, m - lit_from, 0)
        data += tgt[lit_from:m].tobytes()
    if end:
        write_unit(inst, 1, end_size, base_size - end_size)
    return assemble()
