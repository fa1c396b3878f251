"""SparkSession factory with the engine's required configs, and the tables
shared across the queries of one session."""

from __future__ import annotations

import os
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def get_spark(
    app: str = "gdelta-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        # Arrow is the JVM<->Python vector boundary: required for the
        # zero-per-row-Python contract
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches: the JVM ArrowWriter's per-batch flush dominates
        # at small sizes (measured 2.7x wall difference on a 1.76 GB corpus)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        # coalesce post-shuffle partitions by SIZE, not to defaultParallelism:
        # with the default parallelismFirst=true every tiny shuffle keeps
        # ~#cores reduce tasks, so a query tree of K exchanges schedules
        # K * cores near-empty tasks (guide §2.2: fewer, larger partitions).
        # The advisory target is parameterised: 8 MiB locally keeps the
        # Python-kernel stages (applyInArrow encode, ~0.05 GB/s/core)
        # parallel at bench scale — partition count stays ceil(bytes/8MiB),
        # which GROWS with input size; a production cluster raises it to
        # 64-256 MiB for JVM-only shuffle-heavy jobs (same knob, env).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_MB", "8") + "m",
        )
        # prefer hash joins over sort-merge when the build side fits
        # (guide §3.1): the planner may choose shuffled-hash outright, and
        # AQE rewrites SMJ -> SHJ at runtime when every post-shuffle
        # partition is under the local-map threshold — skips both sorts
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # parquet writes of many small partitions: keep task overhead low
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    # shuffle/spill on tmpfs when available (measured 2.5x disk bandwidth);
    # on a real cluster this is the usual fast local-disk setting
    if os.path.isdir("/dev/shm"):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# Corpus-derived tables shared across the queries of one session: the IVF
# codebook and assignment, the quantized embeddings, the LSH/MinHash band
# signatures, the shingle sets and the vector count. Each is built once per
# (Spark application, corpus) and probed by every query that needs it, the
# economics of a persisted index (jobs/ann_index_job.py). The applicationId
# in the key makes every new session rebuild from the parquet inputs. One LRU
# over corpora, capped small because the values are localCheckpoint-
# materialized; all kinds of a corpus are evicted together, and eviction only
# drops the reference.
SESSION_TABLES_CAP = 4
_SESSION_TABLES: dict[tuple[str, str], dict[Hashable, object]] = {}


def session_table(
    spark: SparkSession, sf_dir: str, kind: Hashable, build: Callable[[], T]
) -> T:
    """The ``kind`` table of corpus ``sf_dir`` in this session: ``build()``
    on the first call, the same object afterwards."""
    key = (spark.sparkContext.applicationId, sf_dir)
    tables = _SESSION_TABLES.pop(key, {})
    _SESSION_TABLES[key] = tables  # most recently used last
    while len(_SESSION_TABLES) > SESSION_TABLES_CAP:
        _SESSION_TABLES.pop(next(iter(_SESSION_TABLES)))
    if kind not in tables:
        tables[kind] = build()
    return tables[kind]


def input_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The parquet input table ``name`` (documents, embeddings, events) of
    corpus ``sf_dir``, read once per session. Every ``spark.read.parquet``
    launches a schema-inference job, even for one file; the shared reader
    pays it once per table. The value is a lazy DataFrame and pins nothing."""
    return session_table(
        spark, sf_dir, ("input", name),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def sorted_small(df: DataFrame, *cols) -> DataFrame:
    """``df`` sorted by ``cols`` in ONE partition.

    The bound rule: only for results whose row count is bounded by a group
    cardinality (source, bucket, codec, label, nprobe) or by a top-k per
    query (``n_queries * k``), never for corpus-sized outputs such as pair
    lists, per-document reports or per-bucket winners. ``orderBy``
    range-partitions, which costs a sampling job plus an exchange; a bounded
    result sorts in one task instead. With ``cols`` a key of ``df``, rows
    and row order are those of ``df.orderBy(*cols)``."""
    return df.coalesce(1).sortWithinPartitions(*cols)
