"""Distributed deterministic generation of the tokens table.

Row content is a pure function of the global row id (seed-derived), so the
table is identical regardless of partitioning/parallelism — the property the
resume and scaling tests rely on. Generation runs in ``mapInArrow``: each
batch's ``tokens`` list array is built from one offsets array and one values
buffer (no per-row Python at the Spark boundary; the per-row numpy work is
the generator itself)."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from gdelta_spark import fixtures

TOKENS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def tokens_table(
    spark: SparkSession,
    rows_per_regime: int,
    seed: int = 42,
    regimes: tuple[str, ...] = fixtures.REGIMES,
    num_partitions: int | None = None,
) -> DataFrame:
    n_regimes = len(regimes)
    total = rows_per_regime * n_regimes

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            keys = [(regimes[g % n_regimes], g // n_regimes) for g in rb.column("id").to_pylist()]
            toks = [fixtures.make_tokens(seed, regime, i) for regime, i in keys]
            n_tok = np.array([t.size for t in toks], np.int32)
            offsets = np.concatenate([[0], np.cumsum(n_tok, dtype=np.int64)])
            yield pa.RecordBatch.from_pydict({
                "doc_id": [f"{regime}-{i:08d}" for regime, i in keys],
                "tokens": pa.ListArray.from_arrays(
                    pa.array(offsets, pa.int32()),
                    pa.array(np.concatenate([*toks, np.empty(0, np.int32)]), pa.int32()),
                ),
                "n_tok": n_tok,
                "source": [regime for regime, _ in keys],
            })

    rng = spark.range(total, numPartitions=num_partitions)
    return rng.mapInArrow(gen, schema=TOKENS_SCHEMA)


def write_tokens_table(
    spark: SparkSession, path: str, rows_per_regime: int, seed: int = 42, **kw
) -> None:
    tokens_table(spark, rows_per_regime, seed, **kw).write.mode("overwrite").parquet(path)
