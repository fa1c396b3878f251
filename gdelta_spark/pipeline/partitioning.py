"""Skew-aware partitioning: n_tok buckets + salting.

One 10^6-token row in an ``applyInArrow`` group stalls the whole group (AQE
cannot split a Python-UDF group), so skew is handled explicitly, as the north
rule demands: rows are bucketed by floor(log2(n_tok)) and each (source,
bucket) is salted so that expected group payload stays under a byte budget.
Salt counts come from per-bucket sum(n_tok) statistics — heavy-tail buckets
get more salts. The salt is a deterministic hash of doc_id, so re-runs
produce identical partitions (required for resume-by-manifest-hash)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# target token bytes per encode group (~64 MiB serialized)
DEFAULT_GROUP_BYTES = 64 << 20


def spread_input(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions before expensive
    per-row compute (tokenize, md5 fan-outs, distance kernels). The test
    tables arrive as ONE parquet row group, so every map-side kernel
    downstream of the scan otherwise runs on a single core — the
    unsplittable-input case of guide §2.5 ("repartition immediately after
    the read"). No-op when the scan is already parallel, which is the
    production shape (many splits), so this never shrinks parallelism or
    adds a shuffle at scale."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning-only probe; never fatal
        return df
    return df.repartition(n) if cur < n else df


def by_part(df: DataFrame) -> DataFrame:
    """``df`` hash-partitioned on part_id for a Python kernel stage, which
    (~0.05 GB/s/core) wants many tasks: an explicit count is exempt from
    AQE's size-based coalescing, and a groupBy on part_id reuses it."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64"))
    return df.repartition(n, "part_id")


def with_buckets(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "bucket", F.floor(F.log2(F.col("n_tok").cast("double") + F.lit(1.0))).cast("int")
    )


def salt_plan(df_bucketed: DataFrame, group_bytes: int = DEFAULT_GROUP_BYTES) -> DataFrame:
    """Per (source,bucket): n_salts = ceil(4*sum(n_tok) / group_bytes).
    Small stats aggregate — broadcast back onto the data."""
    return (
        df_bucketed.groupBy("source", "bucket")
        .agg(F.sum("n_tok").alias("bucket_tokens"), F.count("*").alias("bucket_rows"))
        .withColumn(
            "n_salts",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("bucket_tokens") * 4 / F.lit(group_bytes)).cast("int"),
            ),
        )
    )


def with_salt(
    df: DataFrame,
    group_bytes: int = DEFAULT_GROUP_BYTES,
    stats_df: DataFrame | None = None,
    plan: DataFrame | None = None,
) -> DataFrame:
    """Adds bucket + salt + part_id columns. The salt plan aggregates only
    (source, n_tok) — pass ``stats_df`` (e.g. a column-pruned JVM parquet
    scan) so the stats pass never touches the token payload; the plan side is
    tiny and broadcast. A caller that salts several views of one input passes
    the ``salt_plan`` it built once as ``plan``; ``group_bytes`` and
    ``stats_df`` are then unused."""
    b = with_buckets(df)
    if plan is None:
        plan = salt_plan(with_buckets(stats_df) if stats_df is not None else b, group_bytes)
    return (
        b.join(F.broadcast(plan.select("source", "bucket", "n_salts")), ["source", "bucket"])
        .withColumn(
            "salt",
            F.pmod(F.xxhash64("doc_id"), F.col("n_salts").cast("long")).cast("int"),
        )
        .withColumn(
            "part_id",
            F.concat_ws("/", "source", F.format_string("b%02d", "bucket"), F.format_string("s%04d", "salt")),
        )
    )


def part_bucket() -> Column:
    """The bucket a with_salt part_id names, under any batch= prefix (else null)."""
    return F.regexp_extract("part_id", r"/b(\d+)/s\d+$", 1).try_cast("int")
