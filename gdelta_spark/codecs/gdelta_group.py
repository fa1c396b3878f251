"""The gdelta encoder: every row of a group against one base, in lockstep.

Blobs are byte-identical to the C++ reference encoder's (gdelta.cpp:216-531)
for every row. A single row is a group of one. Per-row encoding on
near-duplicate data is dominated by FIXED numpy dispatch: each probe gap
needs fingerprints for only a few dozen positions, but every (fps +
table-gather + mask + flatnonzero) round costs ~40us regardless of size.
The pipeline encodes a *group* of rows against ONE elected base (SURVEY §7
build plan; delta blocks are built per partition bucket), so this module
advances ALL rows of the group in lockstep rounds and batches each round's
array work across rows:

- SCAN rounds:   every scanning row contributes its current gap window; ONE
  ``_gear_fingerprints`` call covers the concatenation, ONE ``searchsorted``
  against a per-(bit,parity) sorted ``(slot<<32)|pos`` key array answers all
  rows' last-writer-wins table lookups (no per-row hash table at all). A
  group with one scanning row uses that row's hash table instead: nothing
  would amortize the sort.
- After a match a row keeps walking the same window's hits from its new
  cursor, so a row with many short matches (texty data) pays one round per
  window, not one per copy unit.
- Forward extensions complete INLINE at verify time: 1 KiB ``bytes`` block
  compares (C memcmp) with halving refinement, falling through to one
  numpy first-mismatch call past 8 KiB — near-dup extensions average
  ~5 KiB, so inline compares beat a batched round trip and halve the
  lockstep participations per row (an earlier EXTEND-round design was
  measured slower on every regime).
- Backward literal->copy runs are typically a handful of bytes — an inline
  Python byte loop with a numpy fallback past 64.

Byte parity argument (enforced against a plain single-row transcription of
the reference encoder by the differential tests, and by golden vectors):
the candidate for a target position is a pure function of (base, beg, end,
bit, position) — the reference's single-slot last-writer-wins winner is the
largest sampled base position in ``[beg+2, beg+n_fps)`` hashing to the
slot, which the sorted-key query returns exactly; acceptance is the same
exact 16-byte compare; and the greedy walk order per row is the
reference's, so every row's unit stream is the reference's.

Reference anchors: greedy loop gdelta.cpp:378-473, chunking/table
gdelta.cpp:176-214, prefix/suffix gdelta.cpp:234-272, fast path
gdelta.cpp:280-318, tail flush gdelta.cpp:486-514.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np

from gdelta_spark.codecs.gdelta_codec import (
    STRLOOK,
    BaseIndex,
    _first_mismatch,
    _last_mismatch_run,
    _gear_fingerprints,
    write_unit,
    write_varint,
)

_SCAN0 = 1 << 6  # first scan chunk after a match: gaps are tiny on near-dup
_SCANMAX = 1 << 18

_SCAN, _DONE, _STALE = 0, 1, 2


def _common_prefix_bytes(a: bytes, b: bytes) -> int:
    """Common-prefix length via 4 KiB ``bytes`` block compares + halving
    refinement — same result as the numpy flatnonzero formulation at a
    fraction of the cost (no full-width bool temporaries/argmax)."""
    n = min(len(a), len(b))
    got = 0
    while got < n:
        step = min(4096, n - got)
        if a[got : got + step] == b[got : got + step]:
            got += step
            continue
        lo = 0
        while step - lo > 16:
            half = (step - lo) >> 1
            if a[got + lo : got + lo + half] == b[got + lo : got + lo + half]:
                lo += half
            else:
                step = lo + half
        while lo < step and a[got + lo] == b[got + lo]:
            lo += 1
        return got + lo
    return n


def _common_suffix_bytes(a: bytes, b: bytes) -> int:
    """Common-suffix length, mirrored block compares from the tails."""
    n = min(len(a), len(b))
    la, lb = len(a), len(b)
    got = 0
    while got < n:
        step = min(4096, n - got)
        if a[la - got - step : la - got] == b[lb - got - step : lb - got]:
            got += step
            continue
        lo = 0
        while step - lo > 16:
            half = (step - lo) >> 1
            if (
                a[la - got - lo - half : la - got - lo]
                == b[lb - got - lo - half : lb - got - lo]
            ):
                lo += half
            else:
                step = lo + half
        while lo < step and a[la - got - lo - 1] == b[lb - got - lo - 1]:
            lo += 1
        return got + lo
    return n


class _Row:
    __slots__ = (
        "i", "tgt", "tb", "m", "last_pos", "inst", "data",
        "beg", "beg_size", "end", "end_size", "base_lim", "bit",
        "lo", "hi", "p", "lit_from", "stale_cand", "state", "chunk",
    )


def _assemble(row: _Row) -> bytes:
    out = bytearray()
    write_varint(out, len(row.inst))
    out += row.inst
    out += row.data
    return bytes(out)


def _finish_row(row: _Row, base_size: int) -> bytes:
    """Tail flush (gdelta.cpp:486-514): pending literal + elided suffix."""
    if row.m > row.lit_from:
        write_unit(row.inst, 0, row.m - row.lit_from, 0)
        row.data += row.tb[row.lit_from : row.m]
    if row.end:
        write_unit(row.inst, 1, row.end_size, base_size - row.end_size)
    return _assemble(row)


def gdelta_encode_group(rows_bytes: list[bytes], base: bytes) -> list[bytes]:
    """Delta blob of every row against ``base``, each byte-identical to the
    C++ reference encoder's."""
    bi = BaseIndex(base)
    base8 = np.frombuffer(base, dtype=np.uint8)
    base_size = base8.size
    bb = base if isinstance(base, bytes) else bytes(base)
    out: list[bytes | None] = [None] * len(rows_bytes)

    scanning: list[_Row] = []

    # ---- per-row pre-pass: elision, fast path, machine init ----
    for i, new in enumerate(rows_bytes):
        new8 = np.frombuffer(new, dtype=np.uint8)
        new_size = new8.size

        beg_size = _common_prefix_bytes(bb, new)
        beg = beg_size > 16
        if not beg:
            beg_size = 0
        end_size = _common_suffix_bytes(bb, new)
        if beg_size + end_size > new_size:
            end_size = new_size - beg_size
        end = end_size > 16
        if not end:
            end_size = 0

        row = _Row()
        row.i = i
        row.inst = bytearray()
        row.data = bytearray()
        row.beg, row.beg_size = beg, beg_size
        row.end, row.end_size = end, end_size

        if beg_size + end_size >= base_size:  # fast path (gdelta.cpp:280-318)
            if beg:
                write_unit(row.inst, 1, beg_size, 0)
            litlen = new_size - beg_size - end_size
            if litlen > 0:
                write_unit(row.inst, 0, litlen, 0)
                row.data += new[beg_size : new_size - end_size]
            if end:
                write_unit(row.inst, 1, end_size, base_size - end_size)
            out[i] = _assemble(row)
            continue

        interior = base_size - beg_size - end_size
        row.bit = (interior + 10).bit_length()
        n_fps = interior - STRLOOK + 1
        # eligible sampled base positions: [beg+2, beg+n_fps) step 2
        row.lo = beg_size + 2
        row.hi = beg_size + n_fps if n_fps > 2 else row.lo  # empty when <=2
        row.base_lim = base_size - end_size

        tgt = new8[beg_size : new_size - end_size]
        row.tgt = tgt
        row.tb = tgt.tobytes()
        row.m = tgt.size
        row.last_pos = row.m - STRLOOK
        row.p = 0
        row.lit_from = 0
        row.stale_cand = -1
        row.chunk = _SCAN0
        if beg:
            write_unit(row.inst, 1, beg_size, 0)
        if row.last_pos < 0:
            out[i] = _finish_row(row, base_size)
            continue
        row.state = _SCAN
        scanning.append(row)

    fps_full = bi.fps
    solo = len(scanning) == 1

    def _extend_forward(tb: bytes, t0: int, b0: int, cap: int) -> int:
        """Length of the common prefix of tb[t0:t0+cap] vs base[b0:b0+cap].
        Pure-Python 1 KiB ``bytes`` block compares (C memcmp under the
        hood) cover the common case — near-dup extensions average ~5 KiB,
        so inline compares beat a batched-numpy round trip; a mismatching
        block is refined by halving compares then a <=16-byte scan. Past
        8 KiB (runs-style giant matches) the remainder falls through to
        ONE numpy first-mismatch call."""
        got = 0
        blocks = 0
        while got < cap and blocks < 8:
            n = cap - got
            if n > 1024:
                n = 1024
            if tb[t0 + got : t0 + got + n] == bb[b0 + got : b0 + got + n]:
                got += n
                blocks += 1
                continue
            lo = 0
            while n - lo > 16:
                half = (n - lo) >> 1
                if (
                    tb[t0 + got + lo : t0 + got + lo + half]
                    == bb[b0 + got + lo : b0 + got + lo + half]
                ):
                    lo += half
                else:
                    n = lo + half
            while lo < n and tb[t0 + got + lo] == bb[b0 + got + lo]:
                lo += 1
            return got + lo
        if got < cap:
            got += _first_mismatch(
                np.frombuffer(bb, np.uint8, count=cap - got, offset=b0 + got),
                np.frombuffer(tb, np.uint8, count=cap - got, offset=t0 + got),
                cap - got,
            )
        return got

    def emit_match(row: _Row, q: int, off: int) -> None:
        """Match accepted at (q, off): extend forward inline, emit its units
        (gdelta.cpp:398-455) and set the row's next state."""
        cursor = q + STRLOOK
        cap = min(row.base_lim - (off + STRLOOK), row.m - cursor)
        j = _extend_forward(row.tb, cursor, off + STRLOOK, cap) if cap > 0 else 0
        matchlen = STRLOOK + j
        copy_off = off
        litlen = q - row.lit_from
        if litlen > 0:
            kmax = min(off, litlen)
            k = 0
            tb = row.tb
            # backward literal->copy conversion (gdelta.cpp:420-442): runs are
            # nearly always a few bytes — inline byte loop, numpy past 64
            while k < kmax and k < 64 and tb[q - 1 - k] == bb[off - 1 - k]:
                k += 1
            if k == 64 and k < kmax:
                k += _last_mismatch_run(
                    base8[: off - 64], row.tgt[: q - 64], kmax - 64
                )
            litlen -= k
            matchlen += k
            copy_off -= k
            write_unit(row.inst, 0, litlen, 0)
            row.data += tb[row.lit_from : q - k]
        write_unit(row.inst, 1, matchlen, copy_off)
        p = q + STRLOOK + j
        row.p = p
        row.lit_from = p
        if p + STRLOOK > row.m:
            out[row.i] = _finish_row(row, base_size)
            row.state = _DONE
        elif p + STRLOOK == row.m:
            # stale-fingerprint quirk (gdelta.cpp:452): the final probe reuses
            # the previous window's candidate instead of rehashing
            row.stale_cand = off
            row.state = _STALE
        else:
            row.chunk = _SCAN0
            row.state = _SCAN

    def run_stale(row: _Row) -> None:
        p, sc = row.p, row.stale_cand
        if row.tb[p : p + STRLOOK] == bb[sc : sc + STRLOOK]:
            emit_match(row, p, sc)
            if row.state != _DONE:
                scanning.append(row)
        else:
            out[row.i] = _finish_row(row, base_size)

    def batch_scan(rows: list[_Row]) -> None:
        # window/fps concat across all rows of this round
        sl_list = []
        off_list = [0]
        pieces = []
        for row in rows:
            sl = row.last_pos + 1 - row.p
            if sl > row.chunk:
                sl = row.chunk
            sl_list.append(sl)
            pieces.append(row.tgt[row.p : row.p + sl + STRLOOK - 1])
            off_list.append(off_list[-1] + sl + STRLOOK - 1)
        fps_all = _gear_fingerprints(
            pieces[0] if len(pieces) == 1 else np.concatenate(pieces)
        )
        # valid fps for row k live at [off_list[k], off_list[k]+sl_list[k])
        # (the window tail's fps cross into the next row's bytes — discarded)

        # winner query. Two regimes: short gap chunks (the near-dup common
        # case) answer all rows' lookups with ONE searchsorted against the
        # sorted (slot<<32)|pos key; long chunks (rows with no nearby match —
        # literal-heavy data) pay ~30ns/probe in searchsorted where a dense
        # table gather pays ~3ns, so they use the per-row cached table
        # instead (identical winners; differential-tested). A lone scanning
        # row always takes its table: no other row would share the sort.
        groups: dict[tuple[int, int], list[int]] = {}
        hits_by_row: dict[int, tuple[list[int], list[int]]] = {}
        for k, row in enumerate(rows):
            if solo or sl_list[k] >= 2048:
                table = bi.table(row.beg_size, row.end_size, row.bit)
            else:
                # short chunks: a dense table is only worth a gather if some
                # earlier row already built this (beg,end,bit) — never build
                # one for a short gap
                table = bi.tables.get((row.beg_size, row.end_size, row.bit))
            if table is not None:
                f = fps_all[off_list[k] : off_list[k] + sl_list[k]]
                entry = table[(f >> np.uint64(64 - row.bit)).view(np.int64)]
                ok = entry != 0
                ok &= ((entry ^ f) & np.uint64(0xFFFFFFFF)) == 0
                hit = np.flatnonzero(ok)
                if hit.size:
                    hits_by_row[k] = (
                        (hit + row.p).tolist(),
                        (entry[hit] >> np.uint64(32)).astype(np.int64).tolist(),
                    )
            else:
                groups.setdefault((row.bit, row.lo & 1), []).append(k)

        for (bit, parity), ks in groups.items():
            key = bi.sorted_key(bit, parity)
            if key.size == 0:  # base too small to index (< one window)
                continue
            f = np.concatenate(
                [fps_all[off_list[k] : off_list[k] + sl_list[k]] for k in ks]
            )
            lens = np.array([sl_list[k] for k in ks], np.int64)
            his1 = np.repeat(
                np.array([rows[k].hi - 1 for k in ks], np.int64), lens
            )
            los = np.repeat(np.array([rows[k].lo for k in ks], np.int64), lens)
            s = f >> np.uint64(64 - bit)
            dg = bi.dense_global(bit, parity)
            if dg is not None:
                # dense path: one gather answers the probe whenever the
                # slot's GLOBAL max position falls inside [lo, hi) — it is
                # then the windowed last-writer-wins winner. Probes whose
                # global max overshoots hi-1 (winner may be a smaller
                # position in the same slot) fall back to the sorted-key
                # searchsorted on just that subset.
                entry = dg[s.view(np.int64)]
                pos = (entry >> np.uint64(32)).astype(np.int64)
                ok = (pos >= los) & (pos <= his1)
                ok &= fps_full[pos] == f  # full-64-bit prefilter
                over = np.flatnonzero(pos > his1)
                if over.size:
                    so = s[over]
                    qkey = (so << np.uint64(32)) | his1[over].view(np.uint64)
                    j = np.searchsorted(key, qkey, side="right") - 1
                    kj = key[np.maximum(j, 0)]
                    po = (kj & np.uint64(0xFFFFFFFF)).astype(np.int64)
                    ok2 = j >= 0
                    ok2 &= (kj >> np.uint64(32)) == so
                    ok2 &= po >= los[over]
                    ok2 &= fps_full[po] == f[over]
                    sub = np.flatnonzero(ok2)
                    if sub.size:
                        ok[over[sub]] = True
                        pos[over[sub]] = po[sub]
            else:
                qkey = (s << np.uint64(32)) | his1.view(np.uint64)
                j = np.searchsorted(key, qkey, side="right") - 1
                kj = key[np.maximum(j, 0)]
                pos = (kj & np.uint64(0xFFFFFFFF)).astype(np.int64)
                ok = j >= 0
                ok &= (kj >> np.uint64(32)) == s
                ok &= pos >= los
                ok &= fps_full[pos] == f  # full-64-bit prefilter
            hit = np.flatnonzero(ok)
            if hit.size == 0:
                continue
            sub_offs = np.zeros(len(ks) + 1, np.int64)
            np.cumsum(lens, out=sub_offs[1:])
            # hit is ascending, so per-owner hits are consecutive runs:
            # slice segment boundaries instead of a boolean mask per owner
            bounds = np.searchsorted(hit, sub_offs).tolist()
            hit_l = hit.tolist()
            cpos_l = pos[hit].tolist()
            sub_l = sub_offs.tolist()
            for o, k in enumerate(ks):
                gs, ge = bounds[o], bounds[o + 1]
                if gs == ge:
                    continue
                shift = rows[k].p - sub_l[o]
                hits_by_row[k] = (
                    [q + shift for q in hit_l[gs:ge]],
                    cpos_l[gs:ge],
                )

        # per-row resolution: first exactly-verifying candidate wins (the
        # reference's memcmp accept, gdelta.cpp:390-396). After a match the
        # row keeps walking this window's hits from its new cursor: a
        # position's candidate does not depend on where the scan started, so
        # a new round is needed only once the cursor leaves the window.
        for k, row in enumerate(rows):
            end = row.p + sl_list[k]
            hb = hits_by_row.get(k)
            if hb is not None:
                qs, cs = hb
                tb = row.tb
                h = 0
                while h < len(qs):
                    q, c = qs[h], cs[h]
                    if tb[q : q + STRLOOK] != bb[c : c + STRLOOK]:
                        h += 1
                        continue
                    emit_match(row, q, c)
                    if row.state != _SCAN or row.p >= end:
                        break
                    h = bisect_left(qs, row.p, h + 1)
            if row.state == _DONE:
                continue
            if row.state == _SCAN and row.p < end:
                # no verifying hit left in [row.p, end): skip the window
                if end > row.last_pos:
                    out[row.i] = _finish_row(row, base_size)
                    continue
                row.p = end
                row.chunk = min(row.chunk * 8, _SCANMAX)
            scanning.append(row)

    # ---- lockstep rounds (scan-only: extensions complete inline) ----
    while scanning:
        stale = [r for r in scanning if r.state == _STALE]
        batch = [r for r in scanning if r.state == _SCAN]
        scanning = []
        for r in stale:
            run_stale(r)
        if batch:
            batch_scan(batch)

    return out  # type: ignore[return-value]
