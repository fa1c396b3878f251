"""Fixed costs of the write and read paths: the Spark job budget of one
encode, one all-skipped resume and one partition-local verify."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from gdelta_spark.pipeline import decode, generator, partitioning, pyscan, warehouse

# Spark jobs per phase of one round trip of a fixed small corpus (8 rows per
# regime in 2 parquet files, local[4], 8 shuffle partitions), the phases run
# as perfbench's encode_verify op runs them.
JOB_BUDGET = {"encode": 11, "resume": 7, "verify": 8}


def _jobs(spark, phase: str, fn):
    """(fn(), number of Spark jobs fn launched) — fn runs under a job group
    of its own."""
    group = f"budget.{phase}.{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_path_job_budget(spark, tmp_path):
    inp, wh = str(tmp_path / "tokens"), str(tmp_path / "wh")
    generator.write_tokens_table(spark, inp, rows_per_regime=8, num_partitions=2)

    def verify():
        salted = partitioning.with_salt(
            pyscan.scan_tokens_binary(spark, inp),
            partitioning.DEFAULT_GROUP_BYTES,
            stats_df=spark.read.parquet(inp).select("n_tok", "source"),
        )
        report = decode.verify_partition_local(salted, warehouse.Warehouse(wh).read_blocks(spark))
        return report.agg(F.sum("n_rows").alias("rows"), F.sum("n_ok").alias("ok")).first()

    got = {}
    enc, got["encode"] = _jobs(spark, "encode", lambda: warehouse.encode_and_commit(spark, inp, wh))
    res, got["resume"] = _jobs(spark, "resume", lambda: warehouse.encode_and_commit(spark, inp, wh))
    ver, got["verify"] = _jobs(spark, "verify", verify)

    assert enc["encoded"] == enc["partitions"] > 0
    assert res == {"partitions": enc["partitions"], "encoded": 0, "skipped": enc["partitions"]}
    assert ver["rows"] == ver["ok"] == enc["rows"]
    over = {p: (n, JOB_BUDGET[p]) for p, n in got.items() if n > JOB_BUDGET[p]}
    assert not over, f"phases over their job budget (jobs, budget): {over}"
