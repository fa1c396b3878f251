"""Fixed costs of the headline queries: the per-query Spark job budget, the
once-per-session input reader and the streaming state-partition rule."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from gdelta_spark.pipeline import session

SF = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.001")

# Spark jobs per query on the vendored sf0.001 tables, run in bench.py's
# HEADLINE order in one fresh session (local[4], 8 shuffle partitions). The
# counts include the builds of the session tables each query is first to
# need. Left out: the two roundtrip queries (the slowest of the pass, run
# through the Python encode kernel) and the streaming query (writes files).
JOB_BUDGET = {
    "compression_summary": 6,
    "tokenize_stats": 2,
    "vocab_topk": 2,
    "bucket_histogram": 2,
    "event_runs": 5,
    "dedup_exact": 3,
    "ann_topk": 5,
    "ann_lsh_best_pairs": 5,
    "ann_ivf": 12,
    "ann_ivf2": 6,
    "ann_recall": 13,
    "neardup_pairs": 7,
    "neardup_components": 12,
    "dedup_keep": 4,
    "simhash_text": 4,
    "embed_neardup_keep": 7,
    "quality_ratios": 2,
}


@pytest.fixture
def fresh_tables(monkeypatch):
    """An empty session-table registry, so every build runs inside the test."""
    monkeypatch.setattr(session, "_SESSION_TABLES", {})


def _jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs fn launched) — fn runs under job group
    ``group``."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_headline_job_budget(spark, fresh_tables):
    import __spark_entry__ as entry
    from bench import HEADLINE

    qs = entry.queries()
    assert set(JOB_BUDGET) <= set(HEADLINE)
    got = {}
    for q in (q for q in HEADLINE if q in JOB_BUDGET):
        _, got[q] = _jobs(spark, f"budget.{q}", lambda: qs[q](spark, SF).toPandas())
    over = {q: (n, JOB_BUDGET[q]) for q, n in got.items() if n > JOB_BUDGET[q]}
    assert not over, f"queries over their job budget (jobs, budget): {over}"


def test_input_table_read_once_per_session(spark, fresh_tables, tmp_path):
    first, n_first = _jobs(spark, "read.first", lambda: session.input_table(spark, SF, "events"))
    again, n_again = _jobs(spark, "read.again", lambda: session.input_table(spark, SF, "events"))
    assert again is first
    assert n_first >= 1  # the schema-inference job of spark.read.parquet
    assert n_again == 0
    assert session.input_table(spark, SF, "documents") is not first

    other = tmp_path / "copy"
    other.mkdir()
    shutil.copy(Path(SF) / "events.parquet", other / "events.parquet")
    moved = session.input_table(spark, str(other), "events")
    assert moved is not first
    assert moved.columns == first.columns


def test_input_table_other_application_misses(fresh_tables):
    from types import SimpleNamespace

    def app(app_id: str, reads: list):
        reader = SimpleNamespace(parquet=lambda path: reads.append(path) or (app_id, path))
        return SimpleNamespace(
            sparkContext=SimpleNamespace(applicationId=app_id), read=reader
        )

    reads: list = []
    a = session.input_table(app("app-1", reads), "/c", "documents")
    b = session.input_table(app("app-2", reads), "/c", "documents")
    assert session.input_table(app("app-1", reads), "/c", "documents") is a
    assert a != b
    assert reads == ["/c/documents.parquet", "/c/documents.parquet"]


def test_sorted_small_matches_order_by(spark):
    import pyspark.sql.functions as F

    df = spark.range(0, 200, numPartitions=4).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 5).alias("h"), "id"
    ).groupBy("g", "h").agg(F.sum("id").alias("s"))
    got = session.sorted_small(df, "g", F.desc("h"))
    assert got.rdd.getNumPartitions() == 1
    assert got.collect() == df.orderBy("g", F.desc("h")).collect()


def test_stream_partitions_remote_inbox_uses_session_setting():
    import __spark_entry__ as entry

    assert entry._stream_partitions("s3://bucket/inbox", "8") == 8
    assert entry._stream_partitions("/nonexistent/inbox", 6) == 6


def test_stream_partitions_local_inbox_sized_by_bytes(tmp_path):
    import __spark_entry__ as entry

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    assert entry._stream_partitions(str(inbox), "8") == 1  # empty: floor of 1
    shutil.copy(Path(SF) / "events.parquet", inbox / "part-0.parquet")
    assert entry._stream_partitions(str(inbox), "8") == 1
    big = inbox / "part-1.parquet"
    with open(big, "wb") as f:
        f.truncate(20 << 20)  # sparse: 20 MiB by size
    assert entry._stream_partitions(str(inbox), "8") == 3
    assert entry._stream_partitions(str(inbox), "2") == 2
