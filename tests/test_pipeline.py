"""End-to-end Spark pipeline tests: generate -> encode -> commit -> decode ->
verify bit-identical; resume-by-manifest-hash; skew salting."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from gdelta_spark.pipeline import decode as decode_mod
from gdelta_spark.pipeline import encode as encode_mod
from gdelta_spark.pipeline import generator, partitioning, warehouse


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = generator.tokens_table(spark, rows_per_regime=40, seed=42, num_partitions=8)
    df.cache().count()
    return df


def test_generator_deterministic(spark):
    a = generator.tokens_table(spark, rows_per_regime=10, num_partitions=2)
    b = generator.tokens_table(spark, rows_per_regime=10, num_partitions=7)
    ah = a.select(F.expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))").alias("h")).collect()[0]["h"]
    bh = b.select(F.expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))").alias("h")).collect()[0]["h"]
    assert ah == bh


def test_salting_respects_budget(spark, tokens_df):
    salted = partitioning.with_salt(tokens_df, group_bytes=1 << 20)  # 1 MiB budget
    per_group = (
        salted.groupBy("part_id").agg(F.sum("n_tok").alias("toks")).collect()
    )
    # statistical budget: no group should exceed ~3x the target
    for r in per_group:
        assert r["toks"] * 4 < 3 * (1 << 20), r


def test_encode_decode_roundtrip(spark, tokens_df):
    blocks_df = encode_mod.encode_blocks(tokens_df, group_bytes=4 << 20)
    report = decode_mod.verify_roundtrip(tokens_df, blocks_df)
    bad = report.filter(~F.col("ok")).count()
    total = report.count()
    assert bad == 0 and total == tokens_df.count()


def test_warehouse_commit_resume(spark, tokens_df, tmp_path):
    root = str(tmp_path / "wh")
    s1 = warehouse.encode_and_commit(spark, tokens_df, root, group_bytes=4 << 20)
    assert s1["encoded"] == s1["partitions"] > 0 and s1["skipped"] == 0

    # idempotent re-run: everything skipped
    s2 = warehouse.encode_and_commit(spark, tokens_df, root, group_bytes=4 << 20)
    assert s2["encoded"] == 0 and s2["skipped"] == s1["partitions"]

    # simulate an interrupted run: drop half the committed partitions
    wh = warehouse.Warehouse(root)
    manifests = wh.committed_manifests()
    dropped = manifests[:: 2]
    for m in dropped:
        safe = m["part_id"].replace("/", "__")
        os.remove(os.path.join(root, "manifests", warehouse._mname(m["part_id"])))
        os.remove(os.path.join(root, "blocks", safe + ".parquet"))
    s3 = warehouse.encode_and_commit(spark, tokens_df, root, group_bytes=4 << 20)
    assert s3["encoded"] == len(dropped)
    assert s3["skipped"] == s1["partitions"] - len(dropped)

    # final state: decoded corpus bit-identical to the source table
    blocks_df = wh.read_blocks(spark)
    report = decode_mod.verify_roundtrip(tokens_df, blocks_df)
    assert report.filter(~F.col("ok")).count() == 0

    # manifests carry lineage + metrics
    for m in wh.committed_manifests():
        assert m["raw_bytes"] > 0 and m["enc_bytes"] > 0 and m["n_blocks"] >= 1
        assert m["base_doc_id"] and m["snapshot"].startswith("snap-")


def test_near_dup_partition_uses_gdelta(spark, tokens_df):
    blocks_df = encode_mod.encode_blocks(
        tokens_df.filter(F.col("source") == "near-dup"), group_bytes=4 << 20
    )
    rows = blocks_df.filter(F.col("block_id") >= 0).collect()
    assert rows, "no blocks produced"
    assert {r["codec"] for r in rows} == {"gdelta"}
    raw = sum(r["raw_bytes"] for r in rows)
    enc = sum(r["enc_bytes"] for r in rows)
    assert raw / enc > 50, f"near-dup ratio only {raw/enc:.1f}x"


def test_resume_key_detects_duplicate_pair(spark, tmp_path):
    """An even multiset change (the same row added twice) must re-encode the
    partition: a pure xor key cancels, the mod-sum + row-count key does not
    (round-1 advice)."""
    import pandas as pd

    root = str(tmp_path / "wh")
    base_rows = [("d0", [1, 2, 3], 3, "s"), ("d1", [4, 5, 6], 3, "s")]
    df1 = spark.createDataFrame(
        pd.DataFrame(base_rows, columns=["doc_id", "tokens", "n_tok", "source"]),
        schema=generator.TOKENS_SCHEMA,
    )
    s1 = warehouse.encode_and_commit(spark, df1, root, group_bytes=1 << 20)
    assert s1["encoded"] == 1

    # same partition content + one row duplicated twice -> xor of row keys
    # is unchanged, but the partition must still be pending
    df2 = spark.createDataFrame(
        pd.DataFrame(
            base_rows + [("d0", [1, 2, 3], 3, "s"), ("d0", [1, 2, 3], 3, "s")],
            columns=["doc_id", "tokens", "n_tok", "source"],
        ),
        schema=generator.TOKENS_SCHEMA,
    )
    s2 = warehouse.encode_and_commit(spark, df2, root, group_bytes=1 << 20)
    assert s2["encoded"] == 1, s2

    # unchanged re-run skips
    s3 = warehouse.encode_and_commit(spark, df2, root, group_bytes=1 << 20)
    assert s3 == {"partitions": 1, "encoded": 0, "skipped": 1}


def test_mixed_dup_cluster_base_election():
    """A partition interleaving 8 near-dup templates must elect one base per
    cluster: single-base gdelta can only delta 1/8 of rows (round-1 verdict
    #7). Measured here: >5x ratio improvement and bit-exact roundtrip."""
    import pyarrow as pa

    from gdelta_spark import fixtures
    from gdelta_spark.pipeline import decode as decode_kernel
    from gdelta_spark.pipeline import encode as encode_kernel

    rows = [
        (doc_id, np.ascontiguousarray(tokens, "<i4").tobytes())
        for doc_id, tokens, _, _ in fixtures.rows(42, "mixed-dup", 64)
    ]
    table = pa.table(
        {
            "part_id": ["mixed/b0/s0"] * len(rows),
            "doc_id": [r[0] for r in rows],
            "tok_bytes": pa.array([r[1] for r in rows], pa.binary()),
        }
    )
    pdf = table.to_pandas()
    out_table = encode_kernel._encode_group(table)
    out = out_table.to_pandas()
    data = out[out["block_id"] >= 0]
    n_bases = int((out["block_id"] < 0).sum())
    assert n_bases >= 6, n_bases  # ~one per template
    ratio_with_bases = data["raw_bytes"].sum() / out["enc_bytes"].sum()

    # single-base comparison: force the old behavior
    orig = encode_kernel._cluster_rows
    encode_kernel._cluster_rows = lambda rbs: [list(range(len(rbs)))]
    try:
        out1 = encode_kernel._encode_group(table).to_pandas()
    finally:
        encode_kernel._cluster_rows = orig
    ratio_single = (
        out1[out1["block_id"] >= 0]["raw_bytes"].sum() / out1["enc_bytes"].sum()
    )
    assert ratio_with_bases > 5 * ratio_single, (ratio_with_bases, ratio_single)

    dec = decode_kernel._decode_group(out_table).to_pandas()
    m = dict(zip(dec["doc_id"], dec["tok_bytes"]))
    assert all(m[d] == b for d, b in zip(pdf["doc_id"], pdf["tok_bytes"]))


def test_pending_resolution_summaries(spark, tmp_path):
    """Fresh, fully committed and partially committed (one manifest
    deleted) warehouses over the parquet-path input: pinned summary dicts
    and manifest content hashes."""
    import glob
    import json

    corpus, root = str(tmp_path / "corpus"), str(tmp_path / "wh")
    generator.write_tokens_table(spark, corpus, rows_per_regime=12, seed=5, num_partitions=3)
    gb = 1 << 18
    fresh = warehouse.encode_and_commit(spark, corpus, root, group_bytes=gb)
    assert fresh == {
        "partitions": 28, "encoded": 28, "skipped": 0,
        "rows": 96, "raw_bytes": 1099764, "enc_bytes": 197831,
    }
    assert warehouse.encode_and_commit(spark, corpus, root, group_bytes=gb) == {
        "partitions": 28, "encoded": 0, "skipped": 28,
    }
    os.remove(sorted(glob.glob(os.path.join(root, "manifests", "*.json")))[1])
    assert warehouse.encode_and_commit(spark, corpus, root, group_bytes=gb) == {
        "partitions": 28, "encoded": 1, "skipped": 27,
        "rows": 4, "raw_bytes": 6880, "enc_bytes": 1573,
    }
    md5s = sorted(
        json.load(open(f))["content_md5"]
        for f in glob.glob(os.path.join(root, "manifests", "*.json"))
    )
    assert len(md5s) == 28
    assert md5s[:3] == [
        "02954d07185c78fe49d22ed5c515aeab",
        "0e46b0bd8d87c732b79bda2b473e6c35",
        "143f1367c6d2719be51db0a45926b60b",
    ]


def test_content_md5_duplicate_doc_ids():
    """One stable sort of the doc_id list gives the same digest as the
    per-row index sort it replaced, rows with equal doc_ids included."""
    import hashlib

    import pyarrow as pa

    table = pa.table({
        "doc_id": ["b", "a", "b", "c", "a", "b"],
        "tok_bytes": pa.array(
            [b"\x01", b"\x02\x00", b"\x03", b"", b"\x05", b"\x06\x07"], pa.binary()
        ),
    })
    pdf = table.to_pandas()
    h = hashlib.md5()
    for i in sorted(range(len(pdf)), key=lambda i: pdf["doc_id"].iloc[i]):
        h.update(pdf["doc_id"].iloc[i].encode())
        h.update(bytes(pdf["tok_bytes"].iloc[i]))
    got = warehouse.content_md5(table)
    assert got == h.hexdigest()
    # the order of equal doc_ids matters, so the pin above is not vacuous
    swapped = table.take([0, 1, 5, 3, 4, 2])
    assert warehouse.content_md5(swapped) != got
