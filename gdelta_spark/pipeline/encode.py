"""Encode job: tokens DataFrame -> encoded-blocks DataFrame.

The kernel is one ``applyInArrow`` per (source, bucket, salt) group — the
group arrives as one ``pa.Table`` and leaves as one, all work is numpy
(SURVEY §3.2). Per group:

1. sort rows by doc_id (determinism: base election and block boundaries are
   order-independent),
2. cluster rows by content MinHash (token-aligned 8-byte windows) so each
   delta base is elected per *cluster of similar rows*, not per group — on
   heterogeneous partitions a single base only deltas its own look-alikes
   (round-1 verdict #7); clusters below MIN_CLUSTER_ROWS merge into a rest
   cluster,
3. per cluster: cost-based codec choice, then slice into ~BLOCK_TOKENS
   blocks and encode (raw-fallback guarded),
4. emit one row per block plus one 'base' bootstrap block (block_id < 0,
   raw-encoded elected row) per gdelta-coded cluster so decode needs no
   side channel; data blocks name their base via base_doc_id.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from gdelta_spark import blocks
from gdelta_spark.codecs import core
from gdelta_spark.pipeline import partitioning

BLOCK_TOKENS = 1 << 19  # ~2 MiB serialized per block

# one schema for the kernel's output and the committed blocks file. Every
# integer is int64: committed warehouses hold int64 columns, and Spark cannot
# read one column as int32 in some files and int64 in others. BLOCKS_SCHEMA
# is its Spark form.
BLOCKS_ARROW_SCHEMA = pa.schema([
    ("part_id", pa.string()), ("block_id", pa.int64()), ("codec", pa.string()),
    ("base_doc_id", pa.string()), ("doc_ids", pa.list_(pa.string())),
    ("n_rows", pa.int64()), ("n_tokens", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("blob", pa.binary()),
])
BLOCKS_SCHEMA = from_arrow_schema(BLOCKS_ARROW_SCHEMA)


_SIG_MULT_1 = np.uint64(0x9E3779B97F4A7C15)
_SIG_MULT_2 = np.uint64(0xC2B2AE3D27D4EB4F)
MIN_CLUSTER_ROWS = 3


def _hash_lanes(v: np.ndarray) -> np.ndarray:
    # 2-lane multiply-xor over 16-byte windows: cheap (3 temporaries) and
    # the window space is still ~vocab^4, so spurious collisions are rare
    # and the delta gate absorbs the remainder
    return (v[:-1] * _SIG_MULT_1) ^ (v[1:] * _SIG_MULT_2)


_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _row_signatures(rows_bytes: list[bytes]) -> list[int]:
    """Per-row MinHash over 4-TOKEN (16 B) windows at 4-byte stride — two
    uint64 grids (byte offsets 0 and 4) of 2-lane mixes over ONE
    concatenated buffer, per-row minima via ``minimum.reduceat``. Whole-
    token insertions/deletions shift content by multiples of 4 bytes, so
    window alignment survives edits and near-duplicate rows share the
    minimum with high probability; 32 B windows keep the window space huge
    even on tiny vocabularies, and residual false merges are cheap (the
    delta gate dissolves them — base choice never affects correctness,
    SURVEY §0).

    Batching matters: per-row numpy dispatch cost ~35 us/row, ~25% of the
    whole kernel on 1-4k-token rows; this is 2 hash passes + 2 reduceats
    for the whole group. Rows are padded to 8-byte alignment + 32 zero
    bytes; windows reaching into a following row are masked out, so a
    row's signature is a pure function of its own bytes and length."""
    import zlib

    k = len(rows_bytes)
    if k == 0:
        return []
    pads = [b"\x00" * (8 + (-len(r)) % 8) for r in rows_bytes]
    buf = b"".join(x for pair in zip(rows_bytes, pads) for x in pair)
    sizes = np.fromiter((len(r) for r in rows_bytes), np.int64, k)
    steps = sizes + np.fromiter((len(p) for p in pads), np.int64, k)
    starts_b = np.zeros(k, np.int64)
    if k > 1:
        np.cumsum(steps[:-1], out=starts_b[1:])
    starts = starts_b // 8  # 8-aligned by construction, strictly increasing
    mins = np.full(k, _U64_MAX, np.uint64)
    for off in (0, 4):
        cnt = (len(buf) - off) // 8
        if cnt < 2:
            continue
        h = _hash_lanes(np.frombuffer(buf, "<u8", offset=off, count=cnt))
        # only windows FULLY inside the row's own bytes count (pad windows
        # are all-zero -> hash 0 -> they'd become everyone's minimum):
        # mask lane ranges [start + n_valid, next_start)
        nvalid = np.clip((sizes - 16 - off) // 8 + 1, 0, None)
        lo = np.minimum(starts + nvalid, h.size)
        hi = np.minimum(np.append(starts[1:], h.size), h.size)
        # the invalid tail of each row is ~2-4 lanes, so k tiny slice stores
        # beat the full-length mark/cumsum/boolean-scatter (3 h-sized passes)
        # 1.9x on the real group sizes — this box is bandwidth-bound
        for i in range(k):
            if lo[i] < hi[i]:
                h[lo[i] : hi[i]] = _U64_MAX
        s = np.minimum(starts, h.size - 1)
        np.minimum(mins, np.minimum.reduceat(h, s), out=mins)
    out = mins.tolist()
    for i, m in enumerate(out):
        if sizes[i] < 16 or m == int(_U64_MAX):
            # too short for any window: deterministic content fallback
            out[i] = zlib.crc32(rows_bytes[i]) ^ (int(sizes[i]) << 33)
    return out


def _cluster_rows(rows_bytes: list[bytes]) -> list[list[int]]:
    """Row indices grouped by shared signature, in first-occurrence order of
    the doc_id-sorted input (deterministic). Clusters smaller than
    MIN_CLUSTER_ROWS merge into one trailing rest cluster — heterogeneous,
    so the chooser rarely picks gdelta there."""
    groups: dict[int, list[int]] = {}
    for i, sig in enumerate(_row_signatures(rows_bytes)):
        groups.setdefault(sig, []).append(i)
    clusters: list[list[int]] = []
    rest: list[int] = []
    for idx in groups.values():
        if len(idx) >= MIN_CLUSTER_ROWS:
            clusters.append(idx)
        else:
            rest.extend(idx)
    clusters.sort(key=lambda ix: ix[0])
    if rest:
        clusters.append(sorted(rest))
    return clusters


def sorted_rows(rows: pa.Table) -> tuple[list[str], list[bytes]]:
    """(doc_ids, tok_bytes) of a group in doc_id order; the sort is stable,
    so rows with equal doc_ids keep their arrival order."""
    order = pc.sort_indices(rows, sort_keys=[("doc_id", "ascending")]).to_pylist()
    ids, payloads = (rows.column(c).to_pylist() for c in ("doc_id", "tok_bytes"))
    return [ids[i] for i in order], [payloads[i] for i in order]


def _encode_group(rows: pa.Table, force_codec: int | None = None) -> pa.Table:
    """(part_id, doc_id, tok_bytes) rows of one group -> its blocks
    (BLOCKS_ARROW_SCHEMA)."""
    part_id = rows.column("part_id")[0].as_py()
    # rows arrive pre-serialized (binary cells — see serde.py); token arrays
    # are zero-copy views over them
    doc_ids, rows_bytes = sorted_rows(rows)
    arrays = [np.frombuffer(c, dtype="<i4") for c in rows_bytes]

    # ONE full chooser per group (estimates + FSST measurement are the
    # expensive part); clusters then pay only a tiny bounded delta probe to
    # decide gdelta-vs-group-codec, so spurious clusters cost microseconds
    group_codec = force_codec
    group_per_token = 4.0
    if force_codec is None:
        from gdelta_spark import chooser

        sample = np.concatenate(arrays[:64])[: chooser.SAMPLE_TOKENS * 4]
        probe_rows = arrays[1:4] if len(arrays) > 1 else arrays[:1]
        group_codec, group_est = chooser.choose_codec(sample, probe_rows, rows_bytes[0])
        group_per_token = group_est[core.CODEC_NAMES[group_codec]] / max(sample.size, 1)
        # Bootstrap-block candidates, fixed ONCE per group. Group estimates
        # can't pick a single row's codec directly (a dict table amortized
        # over the group sample dominates a lone 32 KB row), and the full
        # per-base chooser was the dominant group cost (FSST train + probes
        # x one per cluster). Instead each base row measures the LIGHT
        # codecs exactly (a handful of sub-ms encodes of one row); FSST
        # joins the candidates only when its group-level measure was in
        # range of the best light estimate (texty-like groups).
        light = [core.RAW, core.DICT, core.RLE, core.FOR, core.DBP]
        light_min = min(
            v for k, v in group_est.items() if k not in ("gdelta", "fsst")
        )
        if group_est.get("fsst", float("inf")) <= 1.05 * light_min:
            light.append(core.FSST)
        solo_candidates = light

    # Partition rows into gdelta clusters + ONE rest pool. A signature
    # cluster is only kept if delta-vs-its-base actually wins (cheap
    # bounded probe, with a free length pre-filter); everything else
    # dissolves back into the rest pool so block sizes stay at
    # BLOCK_TOKENS — spurious clusters (repetitive vocabularies collide
    # minima) must cost neither block fragmentation nor probe storms.
    delta_clusters: list[list[int]] = []
    rest: list[int] = []
    if force_codec is not None and force_codec != core.GDELTA:
        # clustering only changes delta-base election; skip its cost
        clusters = [list(range(len(rows_bytes)))]
    else:
        clusters = _cluster_rows(rows_bytes)
    for idx in clusters:
        if len(idx) < MIN_CLUSTER_ROWS:
            rest.extend(idx)
            continue
        if force_codec is not None:
            if force_codec == core.GDELTA:
                delta_clusters.append(idx)
            else:
                rest.extend(idx)
            continue
        lens = [len(rows_bytes[k]) for k in idx]
        if max(lens) > 1.5 * min(lens):
            rest.extend(idx)  # near-dups have near-equal lengths
            continue
        if group_codec == core.GDELTA:
            delta_clusters.append(idx)
            continue
        if group_per_token < 0.25:
            # group codec already compresses >16x (e.g. long runs under
            # RLE); a delta probe can't win enough to pay for itself —
            # repetitive data is also exactly where probes are slowest
            rest.extend(idx)
            continue
        from gdelta_spark import chooser

        # gate: does delta-vs-cluster-base beat the group codec on
        # bytes/token? (probe rows exclude the base — self-delta ~0 bytes
        # would overestimate gdelta)
        sim = chooser.probe_similarity([arrays[k] for k in idx[1:4]], base=rows_bytes[idx[0]])
        if 4.0 * sim < group_per_token * 0.9:
            delta_clusters.append(idx)
        else:
            rest.extend(idx)
    work: list[tuple[list[int], int]] = [(ix, core.GDELTA) for ix in delta_clusters]
    if rest:
        work.append((sorted(rest), group_codec))

    out = []
    block_id = 0
    n_base = 0
    prior_bases: list[tuple[str, bytes]] = []  # earlier clusters' (doc_id, bytes)
    for idx, cluster_codec in work:
        base_i = idx[0]
        base = rows_bytes[base_i]
        base_doc_id = doc_ids[base_i]

        if cluster_codec == core.GDELTA:
            # bootstrap block: the elected base row. Default: self-contained
            # (any codec except gdelta — the chooser with base=None never
            # picks it). Round 3: CHAINED bases — a later cluster's base is
            # probed against up to 4 earlier bases in this partition and
            # stored as a delta when that is smaller (same-template clusters
            # split by the signature grid, e.g. the near-dup regime, chain
            # at ~90x). A chained row's base_doc_id names its parent while
            # doc_ids[0] stays its own id; decode replays bases in emission
            # order (block_id -1, -2, ...), so parents always decode first.
            # Self-containment of the PARTITION is preserved — chains never
            # cross a part_id.
            n_base += 1
            if force_codec is None:
                base_blob = min(
                    (
                        blocks.encode_block_rows([arrays[base_i]], codec_id=c)[0]
                        for c in solo_candidates
                    ),
                    key=len,
                )
            else:
                base_blob, _ = blocks.encode_block_rows([arrays[base_i]], base=None)
            parent_id = base_doc_id
            for p_id, p_bytes in prior_bases[-4:]:
                # free length prefilter (same rule as cluster admission):
                # chainable bases are near-dups, and near-dups have
                # near-equal lengths — skips the probe cost on
                # mixed-template partitions where no chain can win
                if not (len(base) * 2 < len(p_bytes) * 3 < len(base) * 4.5):
                    continue
                cand, cid = blocks.encode_block_rows(
                    [arrays[base_i]], codec_id=core.GDELTA, base=p_bytes,
                    rows_bytes=[base],
                )
                if cid == core.GDELTA and len(cand) < len(base_blob):
                    base_blob, parent_id = cand, p_id
            out.append(
                (part_id, -n_base, "base", parent_id, [base_doc_id], 1,
                 int(arrays[base_i].size), int(arrays[base_i].nbytes),
                 len(base_blob), base_blob)
            )
            prior_bases.append((base_doc_id, base))

        i = 0
        n = len(idx)
        while i < n:
            j = i
            tok = 0
            while j < n and (tok == 0 or tok + arrays[idx[j]].size <= BLOCK_TOKENS):
                tok += arrays[idx[j]].size
                j += 1
            sel = idx[i:j]
            chunk = [arrays[k] for k in sel]
            blob, cid = blocks.encode_block_rows(
                chunk, codec_id=cluster_codec, base=base,
                rows_bytes=[rows_bytes[k] for k in sel],
            )
            raw_bytes = int(sum(a.nbytes for a in chunk))
            out.append(
                (part_id, block_id, core.CODEC_NAMES[cid], base_doc_id,
                 [doc_ids[k] for k in sel], j - i, int(tok), raw_bytes, len(blob), blob)
            )
            block_id += 1
            i = j

    return pa.Table.from_arrays(
        [pa.array(col, f.type) for col, f in zip(zip(*out), BLOCKS_ARROW_SCHEMA)],
        schema=BLOCKS_ARROW_SCHEMA,
    )


def encode_blocks_bin(
    bin_df: DataFrame,
    group_bytes: int | None = None,
    force_codec: int | None = None,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tok, source, tok_bytes) -> encoded blocks DataFrame.

    ``stats_df``: optional cheap (n_tok, source) source for the salt plan so
    the heavy binary scan runs exactly once (see partitioning.with_salt)."""
    salted = partitioning.with_salt(
        bin_df, group_bytes or partitioning.DEFAULT_GROUP_BYTES, stats_df=stats_df
    )
    return encode_salted(salted, force_codec)


def encode_salted(salted: DataFrame, force_codec: int | None = None) -> DataFrame:
    """A salted source (partitioning.with_salt: part_id, doc_id, tok_bytes)
    -> encoded blocks DataFrame."""
    return (
        partitioning.by_part(salted.select("part_id", "doc_id", "tok_bytes"))
        .groupBy("part_id")
        .applyInArrow(lambda rows: _encode_group(rows, force_codec), schema=BLOCKS_SCHEMA)
    )


def encode_blocks(
    tokens_df: DataFrame,
    group_bytes: int | None = None,
    force_codec: int | None = None,
) -> DataFrame:
    """tokens (doc_id, tokens, n_tok, source) -> encoded blocks DataFrame.

    For parquet-backed inputs prefer pyscan.scan_tokens_binary +
    encode_blocks_bin (skips the slow JVM array->Arrow conversion)."""
    from gdelta_spark.pipeline import serde

    bin_df = serde.serialize_tokens(tokens_df, keep=("doc_id", "n_tok", "source"))
    return encode_blocks_bin(bin_df, group_bytes=group_bytes, force_codec=force_codec)

