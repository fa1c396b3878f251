"""Persisted IVF index: build once, search many — the production ANN shape.

``--build`` trains the deterministic TWO-LEVEL k-means codebook
(ops/ann.py) and persists all three halves of the index as parquet tables:

    <index>/coarse.parquet     (cell, cq: array<long>)      — ~sqrt(k) rows
    <index>/sub.parquet        (c1, sub, cq: array<long>)   — ~k rows, keyed by c1
    <index>/cells.parquet      (vec_id, cell, q)            — corpus assignment

``--search`` reads the persisted index and answers top-k for a set of query
vectors at a chosen nprobe WITHOUT touching the raw embeddings or
re-training. It runs the two steps every IVF query in ops/ann.py runs:
``query_probe_cells`` ranks the probe cells against the broadcast
codebook, and ``ivf_search`` joins them to the cells table (probe side
broadcast, on the cell id) and keeps the top k by dot product — the corpus
is never shuffled, which is the plan that holds at 10^12 vectors
(SCALE.md: "the codebook comes from a sampled k-means job and cells
persist as a table"). Deployable via spark-submit --py-files like every
other job.

    python jobs/ann_index_job.py --build  --sf-dir /root/testdata/sf0.01 --index /tmp/ivf
    python jobs/ann_index_job.py --search --index /tmp/ivf --nprobe 2 --k 5
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def build_index(spark: SparkSession, sf_dir: str, index_dir: str) -> dict:
    from gdelta_spark.ops import ann

    coarse, sub, k2 = ann.kmeans_codebooks(spark, sf_dir)
    coarse.write.mode("overwrite").parquet(f"{index_dir}/coarse.parquet")
    sub.withColumn("k2", F.lit(k2)).write.mode("overwrite").parquet(
        f"{index_dir}/sub.parquet"
    )
    cells = ann.ivf_assign(spark, sf_dir)
    cells.write.mode("overwrite").parquet(f"{index_dir}/cells.parquet")
    sizes = (
        spark.read.parquet(f"{index_dir}/cells.parquet")
        .groupBy("cell")
        .count()
        .orderBy("cell")
        .collect()
    )
    return {
        "cells": {int(r["cell"]): int(r["count"]) for r in sizes},
        "n_vectors": sum(int(r["count"]) for r in sizes),
    }


def search_index(
    spark: SparkSession,
    index_dir: str,
    query_ids: list[int],
    nprobe: int = 1,
    k: int = 5,
) -> DataFrame:
    """Top-k by quantized dot product over the persisted index. Query
    vectors are looked up in the cells table (they are corpus members);
    their ``nprobe`` probe cells come from the persisted two-level
    codebook through ``ann.query_probe_cells`` and the candidates are
    ranked by ``ann.ivf_search`` — the probe ranking and search step the
    direct IVF queries run, so search-over-index == direct search
    (tests/test_ops.py checks nprobe 1 and 2)."""
    from gdelta_spark.ops import ann

    cells = spark.read.parquet(f"{index_dir}/cells.parquet")
    coarse = spark.read.parquet(f"{index_dir}/coarse.parquet")
    sub_t = spark.read.parquet(f"{index_dir}/sub.parquet")
    k2 = sub_t.select("k2").first()["k2"]
    sub = sub_t.select("c1", "sub", "cq")
    qv = cells.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    probes = ann.query_probe_cells(qv, coarse, sub, k2, [nprobe])
    return (
        ann.ivf_search(cells, probes, k)
        .select("query_id", "neighbor_id", "dot", "rnk")
        .orderBy("query_id", "rnk")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--search", action="store_true")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--index", required=True)
    ap.add_argument("--query-ids", default="0,1,2,3,4,5,6,7,8,9")
    ap.add_argument("--nprobe", type=int, default=1)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if not (args.build or args.search):
        sys.exit("pass --build and/or --search")

    from gdelta_spark.pipeline.session import get_spark

    spark = get_spark(
        "gdelta-ann-index", master=args.master or "local[8]", shuffle_partitions=32
    )
    if args.build:
        t0 = time.time()
        info = build_index(spark, args.sf_dir, args.index)
        print(
            f"built index at {args.index}: {info['n_vectors']} vectors, "
            f"cell sizes {info['cells']} ({time.time() - t0:.2f}s)"
        )
    if args.search:
        ids = [int(x) for x in args.query_ids.split(",") if x != ""]
        t0 = time.time()
        res = search_index(spark, args.index, ids, nprobe=args.nprobe, k=args.k)
        res.show(len(ids) * args.k, truncate=False)
        print(f"searched {len(ids)} queries at nprobe={args.nprobe} in {time.time() - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
