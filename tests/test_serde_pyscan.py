"""serde + pyscan edge cases: empty arrays, slices, scan equivalence with
the JVM reader, and round-trip through deserialize."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from gdelta_spark.pipeline import generator, serde
from gdelta_spark.pipeline.pyscan import scan_tokens_binary
from gdelta_spark.pipeline.serde import _binary_chunk_to_list, _list_chunk_to_binary


def test_helpers_edge_cases():
    rows = [
        np.arange(5, dtype=np.int32),
        np.array([], dtype=np.int32),
        np.array([-(1 << 31), (1 << 31) - 1], dtype=np.int32),
        np.arange(1000, dtype=np.int32),
    ]
    arr = pa.array([r.tolist() for r in rows], pa.list_(pa.int32()))
    b = _list_chunk_to_binary(arr)
    assert [r.tobytes() for r in rows] == b.to_pylist()
    assert [r.tolist() for r in rows] == _binary_chunk_to_list(b).to_pylist()
    # slices (non-zero offset)
    assert _list_chunk_to_binary(arr.slice(1, 2)).to_pylist() == [
        rows[1].tobytes(), rows[2].tobytes()
    ]
    assert _binary_chunk_to_list(b.slice(2, 2)).to_pylist() == [
        rows[2].tolist(), rows[3].tolist()
    ]


def test_helpers_with_nulls():
    arr = pa.array([[1, 2], None, [3]], pa.list_(pa.int32()))
    b = _list_chunk_to_binary(arr)  # fallback path
    assert b.to_pylist() == [
        np.array([1, 2], dtype="<i4").tobytes(), None, np.array([3], dtype="<i4").tobytes()
    ]


def test_pyscan_matches_jvm_scan(spark, tmp_path):
    path = str(tmp_path / "tokens")
    generator.write_tokens_table(spark, path, rows_per_regime=8, num_partitions=3)
    jvm = spark.read.parquet(path)
    py = scan_tokens_binary(spark, path)
    assert py.count() == jvm.count()
    # same content: serialize the JVM side and xor-hash both
    ser = serde.serialize_tokens(jvm, keep=("doc_id",))
    h1 = ser.select(F.expr("bit_xor(xxhash64(doc_id, tok_bytes))").alias("h")).collect()[0]["h"]
    h2 = py.select(F.expr("bit_xor(xxhash64(doc_id, tok_bytes))").alias("h")).collect()[0]["h"]
    assert h1 == h2


def test_pyscan_missing_path(spark):
    with pytest.raises(FileNotFoundError):
        scan_tokens_binary(spark, "/nonexistent/path")


def test_serialize_deserialize_roundtrip(spark):
    df = generator.tokens_table(spark, rows_per_regime=6, num_partitions=2)
    ser = serde.serialize_tokens(df, keep=("doc_id",))
    back = serde.deserialize_tokens(ser, keep=("doc_id",))
    joined = df.select("doc_id", "tokens").join(
        back.withColumnRenamed("tokens", "t2"), "doc_id"
    )
    bad = joined.filter(~F.expr("tokens <=> t2")).count()
    assert bad == 0


def test_capped_batches_split_and_rebase():
    """Batches over the cap split into int32-safe chunks; sliced chunks and
    offset values buffers rebase correctly (the round-1 overflow advice)."""
    import numpy as np
    import pyarrow as pa

    rows = [np.arange(i * 7, i * 7 + 50 + i, dtype=np.int32) for i in range(200)]
    rb = pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array([f"d{i}" for i in range(200)]),
            "tokens": pa.array([r.tolist() for r in rows], pa.list_(pa.int32())),
        }
    )
    subs = list(serde.capped_token_batches(rb, cap=4096))
    assert len(subs) > 1
    assert sum(s.num_rows for s in subs) == 200
    out = []
    for s in subs:
        bins = serde._list_chunk_to_binary(s.column("tokens"))
        out.extend(bins.to_pylist())
    assert out == [r.tobytes() for r in rows]

    # a sliced array (nonzero offset) converts identically
    sliced = rb.slice(37, 100)
    bins = serde._list_chunk_to_binary(sliced.column("tokens"))
    assert bins.to_pylist() == [r.tobytes() for r in rows[37:137]]

    # one giant row gets its own slice instead of breaking neighbors
    rows2 = [np.zeros(4, np.int32), np.arange(5000, dtype=np.int32), np.ones(4, np.int32)]
    rb2 = pa.RecordBatch.from_pydict(
        {"tokens": pa.array([r.tolist() for r in rows2], pa.list_(pa.int32()))}
    )
    subs2 = list(serde.capped_token_batches(rb2, cap=1024))
    assert [s.num_rows for s in subs2] == [1, 1, 1]
    got = [
        b
        for s in subs2
        for b in serde._list_chunk_to_binary(s.column("tokens")).to_pylist()
    ]
    assert got == [r.tobytes() for r in rows2]


def test_encode_rejects_int64_tokens(spark, tmp_path):
    """A parquet tokens table with int64 elements fails with the named
    error instead of being reinterpreted as int32 pairs."""
    import pyarrow.parquet as pq

    from gdelta_spark.pipeline import warehouse

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": ["a", "b"],
            "tokens": pa.array([[1, 2, 3], [4]], pa.list_(pa.int64())),
            "n_tok": pa.array([3, 1], pa.int32()),
            "source": ["s", "s"],
        }),
        corpus / "part-0.parquet",
    )
    with pytest.raises(Exception, match="TokensTypeError"):
        warehouse.encode_and_commit(spark, str(corpus), str(tmp_path / "wh"))
