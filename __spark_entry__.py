"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (auto-codec encode + verified
decode of a tokens table derived from sf0.001 documents) and returns the
per-source compression summary. ``queries()`` exposes each operator from
SURVEY.md §2.3 as a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()``
gives the DuckDB-equivalent SQL the driver hash-compares at sf0.01.

The engine's input shape is (doc_id, tokens:array<int32>, n_tok, source);
queries derive that table deterministically from the driver's ``documents``
parquet (token id = xxhash64(word) mod 50000 — Spark-side only; oracle
queries never need token values, only invariants both engines can state).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gdelta_spark.ops import ann, dedup, multimodal, textstats
from gdelta_spark.pipeline import partitioning
from gdelta_spark.pipeline.session import input_table, sorted_small

SALT_BUDGET_BYTES = 1 << 20  # small so sf0.01 actually exercises salting
VOCAB = 50_000


def _stream_partitions(inbox: str, session_setting: str | int) -> int:
    """State-store partition count for a file-source streaming query over a
    local ``inbox`` directory: ceil(input bytes / 8 MiB), clamped to
    [1, session setting]. Streaming aggregations take the partition count
    from spark.sql.shuffle.partitions at query START and AQE never
    coalesces them, so every micro-batch otherwise schedules and commits
    state files for ~2x#cores near-empty partitions. Derived from input
    size, so a larger SF scales the count back up; falls back to the
    session setting if the inbox is not a local directory (an ``s3://``
    path globs to nothing rather than failing) or cannot be listed."""
    import glob
    import os

    if not os.path.isdir(inbox):
        return int(session_setting)
    try:
        nbytes = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(inbox, "*.parquet"))
        )
        return max(1, min(int(session_setting), -(-nbytes // (8 << 20))))
    except (OSError, ValueError):
        return int(session_setting)


def _stream_tmpdir(prefix: str) -> str:
    """Scratch dir for a streaming query's inbox + checkpoint: tmpfs when
    available (state-store delta files, offset/commit logs and the inbox
    parquet are all small, short-lived and fsync-heavy — the same reason
    session.py points spark.local.dir at /dev/shm)."""
    import os
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def documents_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule input table derived deterministically from documents."""
    df = input_table(spark, sf_dir, "documents")
    # split once in its own projection (two inlined uses would evaluate it
    # twice per row)
    w = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.split(F.col("text"), " ").alias("w"),
        F.col("source").alias("source"),
    )
    tokens = F.transform("w", lambda x: F.pmod(F.xxhash64(x), F.lit(VOCAB)).cast("int"))
    return w.select(
        "doc_id",
        tokens.alias("tokens"),
        F.size("w").cast("int").alias("n_tok"),
        "source",
    )


def _salted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived tokens table, serialized and salted for encode and verify."""
    from gdelta_spark.pipeline import serde

    # materialized once for the salt plan, the encoder and the verify, not
    # re-run by each; recomputed from the parquet input on every call
    bin_df = serde.serialize_tokens(
        documents_tokens(spark, sf_dir), keep=("doc_id", "n_tok", "source")
    ).localCheckpoint(eager=False)
    return partitioning.with_salt(bin_df, SALT_BUDGET_BYTES)


def _roundtrip_report(spark: SparkSession, sf_dir: str, codec: str | None) -> DataFrame:
    """Encode the derived tokens table (optionally forcing one codec), decode,
    and report per-doc equality — the reference codec's round-trip test as a
    SQL-comparable query. Encoder and verify read one salted frame."""
    from gdelta_spark.codecs import core
    from gdelta_spark.pipeline import decode as decode_mod
    from gdelta_spark.pipeline import encode as encode_mod

    salted = _salted_documents(spark, sf_dir)
    force = None if codec is None else core.CODEC_IDS[codec]
    report = decode_mod.verify_rows(salted, encode_mod.encode_salted(salted, force))
    return report.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("ok").cast("int").alias("ok"),
    )


def _q_roundtrip(codec: str | None) -> Callable[[SparkSession, str], DataFrame]:
    return lambda spark, sf_dir: _roundtrip_report(spark, sf_dir, codec)


def _q_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = documents_tokens(spark, sf_dir)
    return sorted_small(
        t.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("sum_tok"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
        ),
        "source",
    )


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = input_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


def _q_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = partitioning.with_buckets(documents_tokens(spark, sf_dir))
    return sorted_small(
        t.groupBy("source", "bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tok")),
        "source",
        "bucket",
    )


def _q_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's own salt plan of the derived tokens table."""
    t = partitioning.with_buckets(documents_tokens(spark, sf_dir))
    return (
        partitioning.salt_plan(t, SALT_BUDGET_BYTES)
        .select("source", "bucket", "bucket_tokens", "n_salts")
        .orderBy("source", "bucket")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = input_table(spark, sf_dir, "documents")
    return sorted_small(
        d.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_distinct"),
        ),
        "source",
    )


def _q_resume_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume anti-join with a deterministic 'committed' set."""
    t = partitioning.with_buckets(documents_tokens(spark, sf_dir))
    parts = (
        t.groupBy("source", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )
    committed = parts.filter(F.col("bucket") % 2 == 0).select("source", "bucket")
    return (
        parts.join(committed, ["source", "bucket"], "left_anti")
        .orderBy("source", "bucket")
    )


def _q_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length statistics via window functions (the RLE probe as SQL)."""
    e = input_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT user_id,
               COUNT(*) AS n_events,
               SUM(CASE WHEN event_type <> prev_type OR prev_type IS NULL
                        THEN 1 ELSE 0 END) AS n_runs
        FROM (
          SELECT user_id, event_type,
                 LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
          FROM events_v
        )
        GROUP BY user_id
        ORDER BY user_id
        """
    )


def _q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-banded near-duplicate candidates: per doc, each band's
    signature is min(md5(word || band)); docs sharing a band signature are
    candidate pairs. md5 is identical across Spark and DuckDB, so the whole
    LSH construction is oracle-checkable."""
    d = input_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("docs_mh")
    return spark.sql(
        """
        WITH words AS (
          SELECT doc_id, explode(split(text, ' ')) AS word FROM docs_mh
        ),
        sigs AS (
          SELECT doc_id,
                 MIN(md5(concat(word, '#b1'))) AS b1,
                 MIN(md5(concat(word, '#b2'))) AS b2
          FROM words GROUP BY doc_id
        ),
        bands AS (
          SELECT b1 AS sig, COUNT(*) AS n_docs FROM sigs GROUP BY b1
          UNION ALL
          SELECT b2 AS sig, COUNT(*) AS n_docs FROM sigs GROUP BY b2
        )
        SELECT sig, SUM(n_docs) AS n_docs FROM bands
        GROUP BY sig HAVING SUM(n_docs) > 1
        ORDER BY n_docs DESC, sig
        """
    )


def _q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality stats per source (integer-only so hashes match):
    chars, words, docs below a length floor."""
    d = input_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.size(F.split("text", " "))).alias("sum_words"),
            F.sum((F.col("n_chars") < 100).cast("long")).alias("n_short"),
        )
        .orderBy("source")
    )


def _q_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = input_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang")
    )


def _q_compression_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only metrics query (not SQL-expressible: runs the real encoder)."""
    from gdelta_spark.pipeline import encode as encode_mod

    blocks_df = encode_mod.encode_salted(_salted_documents(spark, sf_dir))
    return sorted_small(
        blocks_df.filter(F.col("block_id") >= 0)
        .withColumn("source", F.split("part_id", "/").getItem(0))
        .groupBy("source", "codec")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        ),
        "source",
        "codec",
    )


def _q_fixture_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: generated regime fixture corpus, encoded + verified."""
    from gdelta_spark.pipeline import decode as decode_mod
    from gdelta_spark.pipeline import encode as encode_mod
    from gdelta_spark.pipeline import generator

    tokens_df = generator.tokens_table(spark, rows_per_regime=24, num_partitions=4)
    blocks_df = encode_mod.encode_blocks(
        tokens_df, group_bytes=4 << 20
    ).localCheckpoint(eager=False)
    report = decode_mod.verify_roundtrip(tokens_df, blocks_df)
    summary = (
        blocks_df.filter(F.col("block_id") >= 0)
        .withColumn("source", F.split("part_id", "/").getItem(0))
        .groupBy("source")
        .agg(
            # plain string, not array<string>: the driver's canonicalizer
            # sorts on every column and cannot factorize an unhashable
            # list column (round-1 checker crash)
            F.concat_ws(
                ",", F.array_sort(F.array_distinct(F.collect_list("codec")))
            ).alias("codecs"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
    )
    ok = report.agg(F.min(F.col("ok").cast("int")).alias("all_ok"))
    return summary.crossJoin(ok).orderBy("source")


def _q_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming ingest, HASH-CHECKED end to end (r2 VERDICT #8:
    this was the last rows-only entry that could be oracle-hardened): the
    derived tokens table arrives as two waves (doc_id parity) through
    ``incremental_encode`` (readStream -> foreachBatch -> the real
    encode_and_commit warehouse path), and the per-wave commit summary —
    partitions touched, partitions encoded, rows committed — plus the
    decoded-bit-identical flag is compared against a DuckDB reconstruction:
    with one salt per (source, bucket) at this group budget, a wave's
    partition count is exactly its distinct (source, floor(log2(n_tok+1)))
    count. Batch part_ids are scoped per micro-batch, so every partition a
    wave touches is encoded (skipped = 0 by construction)."""
    import shutil

    from gdelta_spark.pipeline import decode as decode_mod
    from gdelta_spark.pipeline import streaming
    from gdelta_spark.pipeline import warehouse as wh_mod

    t = documents_tokens(spark, sf_dir)
    # The oracle models partitions == COUNT(DISTINCT source, bucket), which
    # holds only while every (source, bucket) fits ONE salt at this group
    # budget (n_salts = ceil(4 * sum(n_tok) / group_bytes) == 1). Assert it
    # loudly: at a bigger SF this would otherwise surface as a spurious
    # hash mismatch instead of a real defect (r3 ADVICE).
    gb = 64 << 20
    oversized = (
        partitioning.salt_plan(partitioning.with_buckets(t), gb)
        .filter(F.col("n_salts") > 1)
        .count()
    )
    if oversized:
        raise AssertionError(
            f"streaming_ingest oracle assumes one salt per (source, bucket); "
            f"{oversized} groups exceed the {gb}-byte budget at this SF — "
            "fold ceil(4*sum(n_tok)/group_bytes) into the oracle SQL"
        )
    tmp = _stream_tmpdir("gdelta_stream_q_")
    try:
        inbox, root, ckpt = (f"{tmp}/{x}" for x in ("inbox", "wh", "ckpt"))
        waves = []
        for wave in (0, 1):
            t.filter(F.pmod(F.col("doc_id").cast("long"), F.lit(2)) == wave).coalesce(
                1
            ).write.mode("append").parquet(inbox)
            q = streaming.incremental_encode(
                spark, inbox, root, ckpt, group_bytes=64 << 20
            )
            q.awaitTermination(300)
            waves.append(q._gdelta_summaries)

        blocks_df = wh_mod.Warehouse(root).read_blocks(spark)
        report = decode_mod.verify_roundtrip(spark.read.parquet(inbox), blocks_df)
        all_ok = int(report.agg(F.min(F.col("ok").cast("int"))).collect()[0][0])
        rows = [
            (w, int(s["partitions"]), int(s["encoded"]), int(s.get("rows", 0)), all_ok)
            for w, summaries in enumerate(waves)
            for s in summaries
        ]
        return spark.createDataFrame(
            rows, "wave int, partitions long, encoded long, rows long, all_ok int"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_streaming_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation through Structured Streaming in
    COMPLETE output mode: two file-source micro-batch waves, 1-hour tumbling
    windows, counts per type. Complete mode retains all window state and
    re-emits the full result each trigger — the declared 30-minute watermark
    is INERT here (no late-drop, no eviction; ADVICE r2), which is exactly
    why the final memory-sink table equals the batch answer and the DuckDB
    oracle is the plain date_trunc aggregation. The watermark SEMANTICS
    (bounded state, append-mode emission on window close) are covered by
    ``streaming_window_append`` below; complete+memory is the demo shape,
    append is the production shape."""
    import shutil
    import uuid

    ev = (
        input_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type")
    )
    tmp = _stream_tmpdir("gdelta_stream_win_")
    sink = f"win_{uuid.uuid4().hex[:8]}"
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        inbox = f"{tmp}/inbox"
        # wave 1: on-time half; wave 2: everything else, arriving late
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(inbox)
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(inbox)
        # state partitions sized to input volume (see _stream_partitions)
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_stream_partitions(inbox, prev_sp))
        )
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return (
            spark.table(sink)
            .select(
                F.unix_timestamp(F.col("w.start")).alias("wstart"),
                "event_type",
                "n_events",
            )
            .orderBy("wstart", "event_type")
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        shutil.rmtree(tmp, ignore_errors=True)


def _q_streaming_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked streaming aggregation — the production
    shape: a window row is emitted exactly once, when the watermark passes
    its end, and its state is then evicted, so executor state is bounded by
    the late-arrival horizon (here 30 minutes) regardless of stream length.

    Determinism: the whole events table arrives as one file-source batch
    (availableNow), the watermark then advances to max(ts) - 30min, and the
    trailing no-data micro-batch finalizes every window whose end <= that
    watermark. The DuckDB oracle models precisely that cutoff (microsecond
    arithmetic via epoch_us), so this is hash-checked — the watermark
    semantics themselves are what the oracle verifies: windows inside the
    horizon (the last hour of the stream) are withheld, everything older is
    emitted with full counts."""
    import shutil
    import uuid

    ev = (
        input_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type")
    )
    tmp = _stream_tmpdir("gdelta_stream_app_")
    sink = f"app_{uuid.uuid4().hex[:8]}"
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        inbox = f"{tmp}/inbox"
        ev.coalesce(1).write.mode("append").parquet(inbox)
        # streaming aggregations cannot use AQE: the state-store partition
        # count is pinned to spark.sql.shuffle.partitions at query start,
        # and every micro-batch schedules + commits state for ALL of them.
        # Size it to the actual inbox volume (ceil(bytes / 8 MiB), capped at
        # the session setting) — scale-adaptive, not a local constant: a
        # bigger SF gets proportionally more state partitions.
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(_stream_partitions(inbox, prev_sp))
        )
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, event_type string"
        ).parquet(inbox)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return (
            spark.table(sink)
            .select(
                F.unix_timestamp(F.col("w.start")).alias("wstart"),
                "event_type",
                "n_events",
            )
            .orderBy("wstart", "event_type")
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        shutil.rmtree(tmp, ignore_errors=True)


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup (applyInPandasWithState): documents
    arrive as two file-source waves — wave 1 replays every doc_id % 5 == 0
    text under a new doc_id (cross-batch duplicates that must be suppressed
    by state) plus genuinely new texts (doc_id % 7 == 3, suffixed) that must
    still be emitted. Survivor per fingerprint = min-(wave, doc_id) row, so
    the emitted set is deterministic and the DuckDB oracle is the equivalent
    batch window (hash-checked, not rows-only)."""
    import os
    import shutil
    import time as _time
    import uuid

    from gdelta_spark.pipeline.streaming import first_seen_dedup

    d = input_table(spark, sf_dir, "documents").select("doc_id", "text")
    wave0 = d.select("doc_id", "text", F.lit(0).alias("wave"))
    wave1 = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", F.lit(1).alias("wave")
        )
        .union(
            d.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat("text", F.lit(" w1")).alias("text"),
                F.lit(1).alias("wave"),
            )
        )
    )
    tmp = _stream_tmpdir("gdelta_stream_dedup_")
    sink = f"dedup_{uuid.uuid4().hex[:8]}"
    try:
        inbox = f"{tmp}/inbox"
        wave0.coalesce(1).write.mode("append").parquet(inbox)
        wave1.coalesce(1).write.mode("append").parquet(inbox)
        # the file source orders the backlog by modification time; pin wave 0
        # strictly earlier so "first seen" matches the oracle's wave order
        now = _time.time()
        for name in os.listdir(inbox):
            if name.endswith(".parquet"):
                path = os.path.join(inbox, name)
                first = spark.read.parquet(path).agg(F.min("wave")).collect()[0][0]
                os.utime(path, (now - 60 + 30 * int(first),) * 2)
        stream = (
            spark.readStream.schema("doc_id long, text string, wave int")
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
        )
        keyed = stream.select(F.md5("text").alias("fp"), "doc_id", "wave")
        q = (
            first_seen_dedup(keyed)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return (
            spark.table(sink)
            .select("fp", "doc_id", "wave")
            .orderBy("fp")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: auto-codec encode + verified decode on sf0.001."""
    return _q_compression_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "roundtrip_auto": _q_roundtrip(None),
        "roundtrip_gdelta": _q_roundtrip("gdelta"),
        "roundtrip_dict": _q_roundtrip("dict"),
        "roundtrip_rle": _q_roundtrip("rle"),
        "roundtrip_for": _q_roundtrip("for"),
        "roundtrip_fsst": _q_roundtrip("fsst"),
        "roundtrip_dbp": _q_roundtrip("dbp"),
        "roundtrip_raw": _q_roundtrip("raw"),
        "tokenize_stats": _q_tokenize_stats,
        "vocab_topk": _q_vocab_topk,
        "bucket_histogram": _q_bucket_histogram,
        "salt_plan": _q_salt_plan,
        "dedup_exact": _q_dedup_exact,
        "minhash_bands": _q_minhash_bands,
        "doc_quality": _q_doc_quality,
        "lang_dist": _q_lang_dist,
        "resume_pending": _q_resume_pending,
        "event_runs": _q_event_runs,
        "compression_summary": _q_compression_summary,
        "fixture_regimes": _q_fixture_regimes,
        "ann_topk": ann.ann_topk,
        "ann_lsh_best_pairs": ann.ann_lsh_best_pairs,
        "ann_ivf": ann.ann_ivf_topk,
        "ann_ivf2": ann.ann_ivf_nprobe2,
        "ann_recall": ann.ann_recall,
        "embed_neardup_keep": ann.embed_neardup_keep,
        "simhash_text": dedup.simhash_text,
        "quality_ratios": textstats.quality_ratios,
        "streaming_window_stats": _q_streaming_window_stats,
        "streaming_window_append": _q_streaming_window_append,
        "neardup_pairs": dedup.neardup_pairs,
        "neardup_keep": dedup.neardup_keep,
        "neardup_components": dedup.neardup_components,
        "dedup_keep": dedup.dedup_keep,
        "doc_fingerprints": dedup.doc_fingerprints,
        "token_counts": textstats.token_counts,
        "lang_confusion": textstats.lang_confusion,
        "multimodal_stats": multimodal.multimodal_stats,
        "multimodal_frames": multimodal.multimodal_frames,
        "multimodal_resize": multimodal.multimodal_resize,
        "multimodal_decode": multimodal.multimodal_decode,
        "streaming_ingest": _q_streaming_ingest,
        "streaming_dedup": _q_streaming_dedup,
    }


_ROUNDTRIP_ORACLE = "SELECT doc_id, 1 AS ok FROM documents"

# NOTE: every SUM is wrapped in CAST(... AS BIGINT) — DuckDB's SUM over
# integers returns HUGEINT, which pandas materializes as float64; the
# driver's value hash compares raw bit patterns, so 123.0 != 123 even
# though the values are equal (round-1 root cause of 7 hash_match fails).
_STATS_ORACLE = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       MIN(len(string_split(text, ' '))) AS min_tok,
       MAX(len(string_split(text, ' '))) AS max_tok
FROM documents GROUP BY source ORDER BY source
"""

_BUCKET_ORACLE = """
SELECT source,
       CAST(FLOOR(LOG2(len(string_split(text, ' ')) + 1)) AS INT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok
FROM documents GROUP BY source, bucket ORDER BY source, bucket
"""

_SALT_ORACLE = f"""
SELECT source, bucket, CAST(bucket_tokens AS BIGINT) AS bucket_tokens,
       GREATEST(1, CAST(CEIL(bucket_tokens * 4.0 / {SALT_BUDGET_BYTES}) AS INT)) AS n_salts
FROM (
  SELECT source,
         CAST(FLOOR(LOG2(len(string_split(text, ' ')) + 1)) AS INT) AS bucket,
         SUM(len(string_split(text, ' '))) AS bucket_tokens
  FROM documents GROUP BY source, 2
) ORDER BY source, bucket
"""

_RESUME_ORACLE = """
WITH parts AS (
  SELECT source,
         CAST(FLOOR(LOG2(len(string_split(text, ' ')) + 1)) AS INT) AS bucket,
         COUNT(*) AS n_docs
  FROM documents GROUP BY source, 2
)
SELECT source, bucket, n_docs FROM parts
WHERE bucket % 2 <> 0
ORDER BY source, bucket
"""


def oracle_sql() -> dict[str, str]:
    return {
        "roundtrip_auto": _ROUNDTRIP_ORACLE,
        "roundtrip_gdelta": _ROUNDTRIP_ORACLE,
        "roundtrip_dict": _ROUNDTRIP_ORACLE,
        "roundtrip_rle": _ROUNDTRIP_ORACLE,
        "roundtrip_for": _ROUNDTRIP_ORACLE,
        "roundtrip_fsst": _ROUNDTRIP_ORACLE,
        "roundtrip_dbp": _ROUNDTRIP_ORACLE,
        "roundtrip_raw": _ROUNDTRIP_ORACLE,
        "tokenize_stats": _STATS_ORACLE,
        "vocab_topk": (
            "SELECT word, COUNT(*) AS cnt FROM ("
            "  SELECT unnest(string_split(text, ' ')) AS word FROM documents"
            ") GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20"
        ),
        "bucket_histogram": _BUCKET_ORACLE,
        "salt_plan": _SALT_ORACLE,
        "dedup_exact": (
            "SELECT source, COUNT(*) AS n_docs, "
            "COUNT(DISTINCT md5(text)) AS n_distinct "
            "FROM documents GROUP BY source ORDER BY source"
        ),
        "minhash_bands": """
            WITH words AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
            ),
            sigs AS (
              SELECT doc_id,
                     MIN(md5(word || '#b1')) AS b1,
                     MIN(md5(word || '#b2')) AS b2
              FROM words GROUP BY doc_id
            ),
            bands AS (
              SELECT b1 AS sig, COUNT(*) AS n_docs FROM sigs GROUP BY b1
              UNION ALL
              SELECT b2 AS sig, COUNT(*) AS n_docs FROM sigs GROUP BY b2
            )
            SELECT sig, CAST(SUM(n_docs) AS BIGINT) AS n_docs FROM bands
            GROUP BY sig HAVING SUM(n_docs) > 1
            ORDER BY n_docs DESC, sig
        """,
        "doc_quality": (
            "SELECT source, COUNT(*) AS n_docs, "
            "CAST(SUM(n_chars) AS BIGINT) AS sum_chars, "
            "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_words, "
            "CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short "
            "FROM documents GROUP BY source ORDER BY source"
        ),
        "lang_dist": (
            "SELECT lang, COUNT(*) AS n_docs, "
            "CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "resume_pending": _RESUME_ORACLE,
        "event_runs": (
            "SELECT user_id, COUNT(*) AS n_events, "
            "CAST(SUM(CASE WHEN event_type <> prev_type OR prev_type IS NULL "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_runs FROM ("
            "  SELECT user_id, event_type, "
            "  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type "
            "  FROM events"
            ") GROUP BY user_id ORDER BY user_id"
        ),
        "ann_topk": ann.ANN_TOPK_ORACLE,
        "ann_lsh_best_pairs": ann.ANN_LSH_ORACLE,
        "ann_ivf": ann.ANN_IVF_ORACLE,
        "ann_ivf2": ann.ANN_IVF2_ORACLE,
        "ann_recall": ann.ANN_RECALL_ORACLE,
        "embed_neardup_keep": ann.EMBED_NEARDUP_ORACLE,
        "simhash_text": dedup.SIMHASH_TEXT_ORACLE,
        "quality_ratios": textstats.QUALITY_RATIOS_ORACLE,
        "streaming_window_stats": (
            "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart, "
            "event_type, COUNT(*) AS n_events FROM events "
            "GROUP BY 1, 2 ORDER BY wstart, event_type"
        ),
        # append mode: only windows whose end the watermark (max ts - 30min)
        # has passed are finalized and emitted; the last hour stays in state
        "streaming_window_append": (
            "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart, "
            "event_type, COUNT(*) AS n_events FROM events "
            "WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= "
            "(SELECT epoch_us(MAX(ts)) FROM events) - 1800000000 "
            "GROUP BY 1, 2 ORDER BY wstart, event_type"
        ),
        "neardup_pairs": dedup.NEARDUP_PAIRS_ORACLE,
        "neardup_keep": dedup.NEARDUP_KEEP_ORACLE,
        "neardup_components": dedup.NEARDUP_COMPONENTS_ORACLE,
        "dedup_keep": dedup.DEDUP_KEEP_ORACLE,
        "doc_fingerprints": dedup.DOC_FINGERPRINTS_ORACLE,
        "token_counts": textstats.TOKEN_COUNTS_ORACLE,
        "lang_confusion": textstats.LANG_CONFUSION_ORACLE,
        "multimodal_stats": multimodal.MULTIMODAL_STATS_ORACLE,
        "multimodal_frames": multimodal.MULTIMODAL_FRAMES_ORACLE,
        "multimodal_resize": multimodal.MULTIMODAL_RESIZE_ORACLE,
        "multimodal_decode": multimodal.MULTIMODAL_DECODE_ORACLE,
        "streaming_dedup": (
            "WITH waved AS ("
            "  SELECT doc_id, text, 0 AS wave FROM documents"
            "  UNION ALL"
            "  SELECT doc_id + 1000000, text, 1 FROM documents WHERE doc_id % 5 = 0"
            "  UNION ALL"
            "  SELECT doc_id + 2000000, text || ' w1', 1 FROM documents"
            "  WHERE doc_id % 7 = 3"
            "), ranked AS ("
            "  SELECT md5(text) AS fp, doc_id, wave, row_number() OVER ("
            "    PARTITION BY md5(text) ORDER BY wave, doc_id) AS rn FROM waved"
            ") SELECT fp, doc_id, CAST(wave AS INT) AS wave "
            "FROM ranked WHERE rn = 1 ORDER BY fp"
        ),
        # one salt per (source, bucket) at the 64 MiB group budget, so a
        # wave's partition count is its distinct (source, bucket) count;
        # micro-batch part_id scoping makes encoded == partitions, and the
        # all_ok flag asserts every decoded token array is bit-identical
        "streaming_ingest": """
            WITH t AS (
              SELECT doc_id % 2 AS wave, source,
                     CAST(FLOOR(LOG2(len(string_split(text, ' ')) + 1)) AS INT) AS bucket
              FROM documents
            )
            SELECT CAST(wave AS INT) AS wave,
                   CAST(COUNT(DISTINCT source || '#' || CAST(bucket AS VARCHAR)) AS BIGINT)
                     AS partitions,
                   CAST(COUNT(DISTINCT source || '#' || CAST(bucket AS VARCHAR)) AS BIGINT)
                     AS encoded,
                   COUNT(*) AS rows,
                   1 AS all_ok
            FROM t GROUP BY wave ORDER BY wave
        """,
        # compression_summary / fixture_regimes: real encoder runs over
        # generated fixture corpora — not SQL-expressible; the driver
        # records rows-only checks for them.
    }

