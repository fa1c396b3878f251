"""Zero-copy tokens<->binary projection at the Arrow layer.

Spark's JVM ArrowWriter serializes ``array<int>`` columns element-wise
(measured ~1 MB/s/core on this corpus — the single largest cost in the whole
pipeline), while ``binary`` columns are bulk byte copies. So the engine's
first move after the scan is a ``mapInArrow`` projection that reinterprets
each ListArray<int32> as a BinaryArray over the SAME values buffer (offsets
x4, no data copy in Python). Everything downstream — shuffle, group-by,
encode kernels — moves binary.

int32 little-endian is also exactly the byte layout the delta codec hashes
(SURVEY §1.2), so this projection doubles as the codec's serialization."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

TOK_BYTES_COL = "tok_bytes"

_INT32_MAX = np.iinfo(np.int32).max
# split batches so BinaryArray offsets stay far from the int32 edge; a
# row-group-sized batch of long docs can otherwise exceed 2^31 payload
# bytes and wrap the offsets (silent for >4 GiB, ArrowInvalid below)
CAP_BATCH_BYTES = 1 << 30


def _list_chunk_to_binary(arr: pa.Array) -> pa.Array:
    """ListArray<int32> -> BinaryArray, reusing the values buffer.

    Offsets are rebased to this chunk's first byte (the data buffer is
    sliced), so a sliced batch or an offset values buffer never inflates
    the int32 offset range; the explicit guard below means overflow is an
    error, not corruption. Callers feed chunks of <= CAP_BATCH_BYTES via
    capped_token_batches."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count != 0:
        # null rows don't occur in this engine's tables; safe fallback
        return pa.array(
            [
                None if v is None else np.asarray(v, dtype="<i4").tobytes()
                for v in arr.to_pylist()
            ]
        )
    offs = arr.offsets.to_numpy().astype(np.int64)  # honors arr.offset
    values = arr.values
    rel = (offs - offs[0]) * 4
    if rel.size and rel[-1] > _INT32_MAX:
        raise ValueError(
            f"binary reinterpretation overflow: {int(rel[-1])} payload bytes "
            "in one chunk exceeds int32 offsets; split with capped_token_batches"
        )
    first_byte = int(offs[0] + values.offset) * 4
    data_buf = values.buffers()[1].slice(first_byte)
    byte_offs = rel.astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(),
        len(arr),
        [None, pa.py_buffer(byte_offs.tobytes()), data_buf],
    )


def capped_token_batches(
    rb: pa.RecordBatch, col: str = "tokens", cap: int = CAP_BATCH_BYTES
):
    """Yield slices of ``rb`` whose serialized token payload each stays
    under ``cap`` bytes, so the binary reinterpretation can never reach the
    int32 offset ceiling. A single row may exceed ``cap`` (it gets its own
    slice); a single row over 2 GiB serialized is unrepresentable as
    ``binary`` and raises."""
    arr = rb.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count != 0 or len(arr) == 0:
        yield rb
        return
    offs = arr.offsets.to_numpy().astype(np.int64)
    rel = (offs - offs[0]) * 4
    if rel[-1] <= cap:
        yield rb
        return
    sizes = np.diff(rel)
    if int(sizes.max()) > _INT32_MAX:
        raise ValueError(
            "a single tokens row exceeds 2 GiB serialized; "
            "unrepresentable as an Arrow binary cell"
        )
    s, n = 0, len(sizes)
    while s < n:
        j = int(np.searchsorted(rel, rel[s] + cap, side="right")) - 1
        j = max(j, s + 1)
        yield rb.slice(s, j - s)
        s = j


class TokensTypeError(TypeError):
    """A ``tokens`` column that is not list<int32>."""


def binary_batches(rb: pa.RecordBatch, keep: tuple[str, ...]) -> Iterator[pa.RecordBatch]:
    """``keep`` columns of ``rb`` plus ``tok_bytes`` in place of ``tokens``,
    in capped slices (see capped_token_batches). The one list -> binary
    projection (the parquet scan's and ``serialize_tokens``'), so it owns
    the type check: the reinterpretation reads 4-byte values, and any other
    element width would be misread without an error."""
    t = rb.schema.field("tokens").type
    if not (pa.types.is_list(t) and t.value_type == pa.int32()):
        raise TokensTypeError(f"tokens column must be list<int32>, got {t}")
    for sub in capped_token_batches(rb):
        cols = {c: sub.column(c) for c in keep}
        cols[TOK_BYTES_COL] = _list_chunk_to_binary(sub.column("tokens"))
        yield pa.RecordBatch.from_pydict(cols)


def _binary_chunk_to_list(arr: pa.Array) -> pa.Array:
    """BinaryArray -> ListArray<int32> (byte offsets /4 over the same data)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    # raw offsets buffer is int32 over the whole buffer; honor arr.offset
    raw = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    offs = raw[arr.offset : arr.offset + n + 1].astype(np.int64)
    data_buf = arr.buffers()[2]
    elem_offs = (offs // 4).astype(np.int32)
    n_vals = int(offs[-1] // 4) if len(offs) else 0
    values = pa.Array.from_buffers(pa.int32(), n_vals, [None, data_buf])
    return pa.ListArray.from_arrays(pa.array(elem_offs, pa.int32()), values)


def serialize_tokens(df: DataFrame, keep: tuple[str, ...] = ("part_id", "doc_id")) -> DataFrame:
    """(.., tokens: array<int>) -> (.., tok_bytes: binary), zero-copy.

    Note: this still pays Spark's slow JVM array->Arrow conversion once; for
    parquet-backed tables prefer pyscan.scan_tokens_binary, which never
    materializes the arrays JVM-side."""
    keep = tuple(keep)
    kept_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {kept_fields[c]}" for c in keep] + [f"{TOK_BYTES_COL} binary"]
    )

    def ser(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            yield from binary_batches(rb, keep)

    return df.select(*keep, "tokens").mapInArrow(ser, out_schema)


def deserialize_tokens(df: DataFrame, keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """(.., tok_bytes: binary) -> (.., tokens: array<int>), zero-copy."""
    keep = tuple(keep)
    out_schema = ", ".join([f"{c} string" for c in keep] + ["tokens array<int>"])

    def de(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            cols = {c: rb.column(c) for c in keep}
            cols["tokens"] = _binary_chunk_to_list(rb.column(TOK_BYTES_COL))
            yield pa.RecordBatch.from_pydict(cols)

    return df.select(*keep, TOK_BYTES_COL).mapInArrow(de, out_schema)
