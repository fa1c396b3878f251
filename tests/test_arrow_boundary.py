"""The Arrow kernel boundary of the token pipeline: the encode, commit,
decode and verify kernels take and return ``pa.Table``, the committed
blocks file carries the one blocks schema, and named errors replace silent
drops and bare ``ValueError``s."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from gdelta_spark import fixtures
from gdelta_spark.codecs.core import CorruptBlockError
from gdelta_spark.pipeline import decode, encode, generator, partitioning, pyscan, serde, warehouse

PIPELINE = Path(__file__).resolve().parent.parent / "gdelta_spark" / "pipeline"


def _rows_table(rows, part_id="p"):
    return pa.table({
        "part_id": [part_id] * len(rows),
        "doc_id": [r[0] for r in rows],
        "tok_bytes": pa.array([bytes(r[1]) for r in rows], pa.binary()),
    })


def test_pipeline_has_no_pandas_boundary():
    """Every Spark Python stage of the token pipeline is Arrow; only the
    streaming state operator (no Arrow form) may use pandas."""
    pat = re.compile(r"applyInPandas\b|mapInPandas\b|^\s*(?:import|from)\s+pandas\b", re.M)
    offenders = {
        p.name: pat.findall(p.read_text())
        for p in sorted(PIPELINE.glob("*.py"))
        if p.name != "streaming.py" and pat.search(p.read_text())
    }
    assert offenders == {}


def test_duplicate_doc_ids_encode_in_arrival_order():
    """Rows with equal doc_ids keep their arrival order through the kernel's
    stable sort: the decoded rows of a duplicated id come back in the order
    they were fed, for both orders."""
    payloads = [np.arange(n, dtype="<i4").tobytes() for n in (5, 9, 3)]
    rows = [("b", payloads[0]), ("a", b"\x07\x00\x00\x00"), ("b", payloads[1]), ("b", payloads[2])]
    for feed in (rows, [rows[3], rows[1], rows[2], rows[0]]):
        dec = decode._decode_group(encode._encode_group(_rows_table(feed)))
        got = [b for d, b in zip(dec.column("doc_id").to_pylist(), dec.column("tok_bytes").to_pylist()) if d == "b"]
        assert got == [b for d, b in feed if d == "b"]


def test_content_md5_over_chunked_and_sliced_tables():
    """The digest reads zero-copy slices of the Arrow buffers; a table split
    over several chunks, and one sliced out of a larger table, hash the same
    as the plain table."""
    rows = [(f"d{i % 5}", np.arange(i, dtype="<i4").tobytes()) for i in range(12)]
    table = _rows_table(rows)
    want = warehouse.content_md5(table)
    chunked = pa.concat_tables([table.slice(0, 5), table.slice(5, 4), table.slice(9)])
    assert chunked.column("tok_bytes").num_chunks == 3
    assert warehouse.content_md5(chunked) == want
    padded = _rows_table([("x", b"\x01\x00\x00\x00")] + rows + [("y", b"")])
    assert warehouse.content_md5(padded.slice(1, len(rows))) == want


def test_decode_rejects_doc_ids_longer_than_rows():
    rows = [(d, t.astype("<i4").tobytes()) for d, t, _, _ in fixtures.rows(3, "lowcard", 6)]
    blks = encode._encode_group(_rows_table(rows)).to_pylist()
    data = next(b for b in blks if b["block_id"] >= 0)
    data["doc_ids"] = data["doc_ids"] + ["extra"]
    bad = pa.Table.from_pylist(blks, schema=encode.BLOCKS_ARROW_SCHEMA)
    with pytest.raises(CorruptBlockError, match="doc_ids"):
        decode._decode_group(bad)


def test_committed_blocks_file_schema(spark, tmp_path):
    """The committed blocks file is the kernel's table as is: the one
    blocks schema (names, order, types) and no pandas metadata."""
    corpus, root = str(tmp_path / "corpus"), str(tmp_path / "wh")
    generator.write_tokens_table(spark, corpus, rows_per_regime=4, seed=3, num_partitions=2)
    warehouse.encode_and_commit(spark, corpus, root)
    files = sorted(Path(root, "blocks").glob("*.parquet"))
    assert files
    for f in files:
        schema = pq.read_schema(f)
        assert [(x.name, str(x.type)) for x in schema] == [
            ("part_id", "string"), ("block_id", "int64"), ("codec", "string"),
            ("base_doc_id", "string"), ("doc_ids", "list<element: string>"),
            ("n_rows", "int64"), ("n_tokens", "int64"), ("raw_bytes", "int64"),
            ("enc_bytes", "int64"), ("blob", "binary"),
        ]
        assert b"pandas" not in (schema.metadata or {})
    # the Spark form of the schema is derived from the Arrow one
    assert [f.dataType.simpleString() for f in encode.BLOCKS_SCHEMA.fields] == [
        "string", "bigint", "string", "string", "array<string>",
        "bigint", "bigint", "bigint", "bigint", "binary",
    ]


def test_verify_flags_rows_the_source_lacks(spark, tmp_path):
    """A warehouse holding a partition the source no longer has: the
    per-part summary (``verify_job.py``) and the per-row stage both count
    the decoded rows as mismatches."""
    corpus, root = str(tmp_path / "corpus"), str(tmp_path / "wh")
    generator.write_tokens_table(spark, corpus, rows_per_regime=5, seed=4, num_partitions=2)
    warehouse.encode_and_commit(spark, corpus, root)
    blocks_df = warehouse.Warehouse(root).read_blocks(spark)
    salted = partitioning.with_salt(
        pyscan.scan_tokens_binary(spark, corpus),
        partitioning.DEFAULT_GROUP_BYTES,
        stats_df=spark.read.parquet(corpus).select("n_tok", "source"),
    )
    gone = salted.agg(F.min("part_id")).first()[0]
    n_gone = salted.where(F.col("part_id") == gone).count()
    assert n_gone > 0
    src = salted.where(F.col("part_id") != gone)

    agg = decode.verify_partition_local(src, blocks_df).agg(
        F.sum("n_rows").alias("rows"), F.sum("n_ok").alias("ok")
    ).first()
    assert agg["rows"] - agg["ok"] == n_gone

    report = decode.verify_rows(src, blocks_df)
    assert report.filter(~F.col("ok")).count() == n_gone


def _duplicate_id_part():
    """One 13-row part whose doc_id ``d3`` occurs twice: a random row, then
    six near-copies d0..d5 of one base row (d3 among them, so the decoder
    returns the two d3 copies in cluster order, not arrival order), then six
    random rows."""
    rng = np.random.default_rng(1)

    def rand():
        return rng.integers(0, 50000, 4000, dtype=np.int32)

    rows = [("d3", rand())]
    base = rand()
    for i in range(6):
        r = base.copy()
        r[10 * i : 10 * i + 5] = i
        rows.append((f"d{i}", r))
    rows += [(f"r{i}", rand()) for i in range(6)]
    return _rows_table([(d, r.astype("<i4").tobytes()) for d, r in rows])


def test_verify_local_compares_duplicate_doc_ids_as_multisets(spark):
    """The partition-local verify pairs the copies of a duplicate doc_id by
    payload, so a correct round trip verifies every row whatever order the
    decoder returns them in; a one-byte change in either copy of the
    duplicate is still a mismatch."""
    part = _duplicate_id_part()
    blocks = spark.createDataFrame(encode._encode_group(part))

    def report(src: pa.Table):
        r = decode.verify_partition_local(spark.createDataFrame(src), blocks).first()
        return r["n_rows"], r["n_ok"]

    assert report(part) == (13, 13)
    payloads = part.column("tok_bytes").to_pylist()
    for i in [i for i, d in enumerate(part.column("doc_id").to_pylist()) if d == "d3"]:
        bad = list(payloads)
        bad[i] = bytes([bad[i][0] ^ 1]) + bad[i][1:]
        src = part.set_column(2, "tok_bytes", pa.array(bad, pa.binary()))
        assert report(src) == (13, 12)


def test_verify_duplicate_doc_id_round_trip_is_clean(spark):
    """One doc_id with two payloads, [1, 2, 3] and [4, 5], round-trips
    clean: 3 rows, all ok, through the per-row stage and through
    ``verify_roundtrip`` (a doc_id full join reported 5 rows and 2
    mismatches)."""
    tokens = spark.createDataFrame(
        [("a", [1, 2, 3], 3, "s"), ("a", [4, 5], 2, "s"), ("b", [6], 1, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    blocks_df = encode.encode_blocks(tokens).cache()
    salted = partitioning.with_salt(
        serde.serialize_tokens(tokens, keep=("doc_id", "n_tok", "source")),
        partitioning.DEFAULT_GROUP_BYTES,
    )
    for report in (decode.verify_rows(salted, blocks_df), decode.verify_roundtrip(tokens, blocks_df)):
        rows = report.collect()
        assert sorted(r["doc_id"] for r in rows) == ["a", "a", "b"]
        assert all(r["ok"] for r in rows)
    blocks_df.unpersist()


def test_verify_roundtrip_routes_source_rows_by_stored_doc_ids(spark):
    """``verify_roundtrip`` sends each source row to the part storing its
    doc_id in its n_tok bucket: a row no part stores is a mismatch, and a
    doc_id stored in two parts of one bucket (two streaming batches)
    reports mismatches on every copy, never a silent pass."""
    def tok(v):
        return np.array([v], "<i4").tobytes()

    p1 = _rows_table([("a", tok(1)), ("b", tok(2))], "s/b01/s0000")
    p2 = _rows_table([("a", tok(1)), ("c", tok(3))], "batch=000001/s/b01/s0000")
    blocks_df = spark.createDataFrame(
        pa.concat_tables([encode._encode_group(p1), encode._encode_group(p2)])
    )
    tokens = spark.createDataFrame(
        [("a", [1], 1), ("b", [2], 1), ("c", [3], 1), ("z", [4], 1)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    rows = sorted((r["doc_id"], r["ok"]) for r in decode.verify_roundtrip(tokens, blocks_df).collect())
    assert rows == [("a", False)] * 3 + [("b", True), ("c", True), ("z", False)]


def test_pyscan_unreadable_file_raises(spark, tmp_path):
    """A truncated parquet file beside a good one fails the scan by name
    instead of silently dropping its rows."""
    d = tmp_path / "in"
    d.mkdir()
    t = pa.table({
        "doc_id": ["a", "b"], "tokens": pa.array([[1, 2], [3]], pa.list_(pa.int32())),
        "n_tok": pa.array([2, 1], pa.int32()), "source": ["s", "s"],
    })
    pq.write_table(t, d / "good.parquet")
    pq.write_table(t, d / "bad.parquet")
    raw = (d / "bad.parquet").read_bytes()
    (d / "bad.parquet").write_bytes(raw[: len(raw) // 2])
    with pytest.raises(pyscan.UnreadableParquetError, match="bad.parquet"):
        pyscan.scan_tokens_binary(spark, str(d))


def test_pyscan_one_split_per_task(spark, tmp_path):
    """The split table is a bare Range with one split per partition: no
    Python stage and no exchange before the reader."""
    d = tmp_path / "in"
    d.mkdir()
    for k in range(3):
        t = pa.table({
            "doc_id": [f"{k}-a", f"{k}-b"], "tokens": pa.array([[1, 2], [k]], pa.list_(pa.int32())),
            "n_tok": pa.array([2, 1], pa.int32()), "source": ["s", "s"],
        })
        pq.write_table(t, d / f"part-{k}.parquet", row_group_size=1)
    df = pyscan.scan_tokens_binary(spark, str(d))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "ExistingRDD" not in plan and "Range" in plan
    assert df.rdd.getNumPartitions() == 6
    per_task = df.rdd.glom().map(len).collect()
    assert per_task == [1] * 6
