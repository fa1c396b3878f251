"""Decode + verify jobs: encoded blocks -> tokens; equality check vs source.

Decode is one ``applyInArrow`` per part_id group (``pa.Table`` in and out):
the 'base' bootstrap blocks (block_id < 0, one per gdelta-coded cluster) are
decoded first, then every data block against its named base. Rows come back
in block (cluster) order, not arrival order. Verify cogroups source rows and
blocks on part_id (no doc_id shuffle) and matches each doc_id's copies as
multisets of payloads, so that order does not matter."""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gdelta_spark import blocks
from gdelta_spark.codecs.core import CorruptBlockError
from gdelta_spark.codecs.delta import tokens_to_bytes
from gdelta_spark.pipeline import partitioning, serde

DECODED_SCHEMA = "doc_id string, tok_bytes binary"


def _decode_group(blks: pa.Table) -> pa.Table:
    """The blocks of one part_id -> its (doc_id, tok_bytes) rows."""
    cols = (blks.column(c).to_pylist() for c in ("block_id", "base_doc_id", "doc_ids", "blob"))
    rows = sorted(zip(*cols), key=lambda r: r[0])
    # one bootstrap block per gdelta-coded cluster (encode.py), replayed in
    # EMISSION order (block_id -1, -2, ... i.e. reversed after the ascending
    # sort): a CHAINED bootstrap names its parent via base_doc_id (already
    # decoded by then) while its own id is doc_ids[0]; self-contained rows
    # have base_doc_id == doc_ids[0], which is absent from the dict at that
    # point, so base=None and the blob decodes standalone. Data blocks name
    # their base via base_doc_id; non-delta blocks never read one.
    bases: dict[str, bytes] = {}
    for block_id, bd, ids, blob in reversed(rows):
        if block_id < 0:
            arr = blocks.decode_block_rows(blob, base=bases.get(bd))[0]
            bases[ids[0]] = tokens_to_bytes(arr)

    out_ids: list[str] = []
    out_bytes: list[bytes] = []
    for block_id, bd, ids, blob in rows:
        if block_id < 0:
            continue
        arrays = blocks.decode_block_rows(blob, base=bases.get(bd))
        if len(ids) != len(arrays):
            raise CorruptBlockError(
                f"block {block_id}: {len(ids)} doc_ids for {len(arrays)} decoded rows"
            )
        out_ids.extend(ids)
        out_bytes.extend(a.astype("<i4", copy=False).tobytes() for a in arrays)
    return pa.table({
        "doc_id": pa.array(out_ids, pa.string()),
        "tok_bytes": pa.array(out_bytes, pa.binary()),
    })


def decode_tokens_bytes(blocks_df: DataFrame) -> DataFrame:
    """blocks -> (doc_id, tok_bytes binary): binary stays binary through the
    Arrow boundary (the array<int> path is ~50x slower, see serde.py)."""
    return partitioning.by_part(blocks_df).groupBy("part_id").applyInArrow(
        _decode_group, schema=DECODED_SCHEMA
    )


def decode_tokens(blocks_df: DataFrame) -> DataFrame:
    """blocks -> (doc_id, tokens array<int>) for downstream consumers."""
    return serde.deserialize_tokens(decode_tokens_bytes(blocks_df), keep=("doc_id",))


def _compare(src_rows: pa.Table, blks: pa.Table) -> pa.Table:
    """The one round-trip compare: source rows (doc_id, tok_bytes) and the
    blocks of one part_id -> (doc_id, ok) rows. Each doc_id reports
    max(source copies, decoded copies) rows, as many of them ok as the two
    sides have payloads in common: a row either side lacks is a mismatch,
    and a one-byte change in one copy of a duplicate doc_id is exactly one."""
    src, dec = (
        Counter(zip(t.column("doc_id").to_pylist(), t.column("tok_bytes").to_pylist()))
        for t in (src_rows, _decode_group(blks))
    )
    n_ok = Counter(doc for doc, _ in (src & dec).elements())
    n = Counter(doc for doc, _ in src.elements()) | Counter(doc for doc, _ in dec.elements())
    ids, ok = [], []
    for doc, k in n.items():
        ids += [doc] * k
        ok += [i < n_ok[doc] for i in range(k)]
    return pa.table({"doc_id": pa.array(ids, pa.string()), "ok": pa.array(ok, pa.bool_())})


def _verify_stage(salted_bin_df: DataFrame, blocks_df: DataFrame, shape, schema: str) -> DataFrame:
    """Cogroups on part_id; ``shape(part_id, _compare rows)`` is a part's output."""

    def kernel(src_rows: pa.Table, blks: pa.Table) -> pa.Table:
        part = (src_rows if src_rows.num_rows else blks).column("part_id")[0].as_py()
        return shape(part, _compare(src_rows, blks))

    return (
        salted_bin_df.select("part_id", "doc_id", "tok_bytes").groupBy("part_id")
        .cogroup(blocks_df.groupBy("part_id"))
        .applyInArrow(kernel, schema=schema)
    )


def verify_partition_local(salted_bin_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """(part_id, n_rows, n_ok) per part of a salted source (partitioning.
    with_salt) against its blocks, summed inside the kernel: a groupBy after
    the cogroup would add an exchange."""
    return _verify_stage(salted_bin_df, blocks_df, lambda part, rows: pa.table({
        "part_id": pa.array([part], pa.string()),
        "n_rows": pa.array([rows.num_rows], pa.int64()),
        "n_ok": pa.array([pc.sum(rows.column("ok")).as_py() or 0], pa.int64()),
    }), "part_id string, n_rows long, n_ok long")


def verify_rows(salted_bin_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """(part_id, doc_id, ok) per row of a salted source against its blocks."""
    return _verify_stage(salted_bin_df, blocks_df, lambda part, rows: rows.add_column(
        0, "part_id", pa.array([part] * rows.num_rows, pa.string())
    ), "part_id string, doc_id string, ok boolean")


def verify_roundtrip(tokens_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """(doc_id, ok) per row of a tokens table (doc_id, tokens, n_tok) against
    its blocks. A source row goes to the part whose data blocks store its
    doc_id in its n_tok bucket (a streaming warehouse's part_ids cannot be
    rebuilt from the source); a row with no part is a mismatch. Limits:
    ``blocks_df`` is read twice, so pass a warehouse read or a cached frame;
    a doc_id stored in two parts of one bucket (across streaming batches or
    sources) routes to no part and reports mismatches, never a silent pass."""
    stored = blocks_df.filter(F.col("block_id") >= 0).select(
        "part_id", F.explode("doc_ids").alias("doc_id"),
        partitioning.part_bucket().alias("bucket"),
    )
    home = stored.groupBy("doc_id", "bucket").agg(
        F.when(F.min("part_id") == F.max("part_id"), F.min("part_id")).alias("part_id")
    )
    src = partitioning.with_buckets(serde.serialize_tokens(tokens_df, keep=("doc_id", "n_tok")))
    return verify_rows(src.join(home, ["doc_id", "bucket"], "left"), blocks_df).select("doc_id", "ok")
