"""Decode + verify jobs: encoded blocks -> tokens; equality check vs source.

Decode is one ``applyInArrow`` per part_id group (``pa.Table`` in and out):
the 'base' bootstrap blocks (block_id < 0, one per gdelta-coded cluster) are
decoded first, then every data block against its named base. Verify
joins decoded rows to the original table and asserts token-array equality —
the reference's own round-trip test lifted to table scale
(/root/reference/test.sh:8-24)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gdelta_spark import blocks
from gdelta_spark.codecs.core import CorruptBlockError
from gdelta_spark.codecs.delta import tokens_to_bytes

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
    # explicit kernel-stage partition count, exempt from AQE coalescing —
    # same rationale as the encode side (pipeline/encode.py): Python
    # kernels want many small partitions, not JVM-sized ones
    n_kernel = int(
        blocks_df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    )
    return (
        blocks_df.repartition(n_kernel, "part_id")
        .groupBy("part_id")
        .applyInArrow(_decode_group, schema=DECODED_SCHEMA)
    )


def decode_tokens(blocks_df: DataFrame) -> DataFrame:
    """blocks -> (doc_id, tokens array<int>) for downstream consumers."""
    from gdelta_spark.pipeline import serde

    return serde.deserialize_tokens(decode_tokens_bytes(blocks_df), keep=("doc_id",))


def verify_roundtrip_bin(src_bin_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """Per-row equality report from a pre-serialized source (doc_id,
    tok_bytes). Binary equality == token-array equality (int32 LE is
    deterministic); the join and compare stay JVM-side."""
    src = src_bin_df.select(
        "doc_id", F.col("tok_bytes").alias("src_bytes")
    )
    decoded = decode_tokens_bytes(blocks_df).withColumnRenamed("tok_bytes", "dec_bytes")
    return src.join(decoded, "doc_id", "full").select(
        "doc_id",
        F.expr("src_bytes <=> dec_bytes").alias("ok"),
    )


def verify_partition_local(salted_bin_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """Partition-local verification: source rows and blocks are cogrouped on
    part_id and compared inside the kernel — no global doc_id shuffle, the
    100 TB-scale variant (SCALE.md). Returns (part_id, n_rows, n_ok)."""
    src = salted_bin_df.select("part_id", "doc_id", "tok_bytes")

    def cmp(src_rows: pa.Table, blks: pa.Table) -> pa.Table:
        part = (src_rows if src_rows.num_rows else blks).column("part_id")[0]
        decoded = _decode_group(blks)
        ok = 0
        if decoded.num_rows == src_rows.num_rows:
            # multiset compare: both sides sorted by (doc_id, tok_bytes), so
            # the copies of a duplicate doc_id pair up by payload whatever
            # order the decoder returns them in (cluster order, not arrival)
            key = [("doc_id", "ascending"), ("tok_bytes", "ascending")]
            s, d = src_rows.sort_by(key), decoded.sort_by(key)
            same = pc.and_(
                pc.equal(s.column("doc_id"), d.column("doc_id")),
                pc.equal(s.column("tok_bytes"), d.column("tok_bytes")),
            )
            ok = pc.sum(same).as_py() or 0
        # decoded rows the source lacks count as rows too, so a part with
        # blocks and no source rows reports mismatches, as the full join does
        return pa.table({
            "part_id": pa.array([part.as_py()], pa.string()),
            "n_rows": pa.array([max(src_rows.num_rows, decoded.num_rows)], pa.int64()),
            "n_ok": pa.array([ok], pa.int64()),
        })

    return (
        src.groupBy("part_id")
        .cogroup(blocks_df.groupBy("part_id"))
        .applyInArrow(cmp, schema="part_id string, n_rows long, n_ok long")
    )


def verify_roundtrip(tokens_df: DataFrame, blocks_df: DataFrame) -> DataFrame:
    """Per-row equality report: (doc_id, ok). All-true == bit-identical
    corpus — the reference's round-trip test at table scale."""
    from gdelta_spark.pipeline import serde

    return verify_roundtrip_bin(
        serde.serialize_tokens(tokens_df, keep=("doc_id",)), blocks_df
    )
