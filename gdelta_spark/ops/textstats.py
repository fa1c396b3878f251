"""Text-analysis operators: token counting and language identification.

- ``token_counts``: per-source whitespace-token and regex-token ([a-z0-9]+
  runs — the BPE-ish pre-tokenizer shape) totals. Pure hash aggregates.

- ``lang_confusion``: the language-ID pipeline shape — per-word marker
  vote -> per-doc argmax -> corpus-level (actual, predicted) confusion
  matrix. The corpus is synthetic (the same invented vocabulary for every
  `lang` label), so the per-word marker table is hash-derived rather than
  a real stopword list; the *pipeline* (vote, argmax with deterministic
  tie-break, confusion rollup) is the production shape, and every step is
  integer/md5 arithmetic an oracle engine reproduces exactly.

No Python UDFs; everything stays in whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gdelta_spark.pipeline.session import input_table, sorted_small

LANGS = ("de", "en", "es", "fr", "ja")  # sorted: tie-break is lang asc


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = input_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    rx = F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ws.cast("long")).alias("ws_tokens"),
            F.sum(rx.cast("long")).alias("rx_tokens"),
        )
        .orderBy("source")
    )


TOKEN_COUNTS_ORACLE = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS rx_tokens
FROM documents GROUP BY source ORDER BY source
"""


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, predicted, n_docs) — actual label vs hash-marker prediction."""
    d = input_table(spark, sf_dir, "documents")
    words = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    # word -> one of len(LANGS) marker classes via md5 first-hex-digit
    vote_ix = (
        F.expr("instr('0123456789abcdef', substr(md5(word), 1, 1))") - 1
    ) % len(LANGS)
    lang_arr = F.array(*[F.lit(x) for x in LANGS])
    votes = words.select(
        "doc_id", "lang", F.element_at(lang_arr, vote_ix.cast("int") + 1).alias("vote")
    )
    counts = votes.groupBy("doc_id", "lang", "vote").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("vote"))
    pred = (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("doc_id", "lang", F.col("vote").alias("predicted"))
    )
    return (
        pred.groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


_LANG_LIST = ", ".join(f"'{x}'" for x in LANGS)

LANG_CONFUSION_ORACLE = f"""
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
),
votes AS (
  SELECT doc_id, lang,
         ([{_LANG_LIST}])[
           CAST((instr('0123456789abcdef', substr(md5(word), 1, 1)) - 1)
                % {len(LANGS)} AS INT) + 1] AS vote
  FROM words
),
counts AS (
  SELECT doc_id, lang, vote, COUNT(*) AS cnt FROM votes GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, lang, vote AS predicted FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, vote) AS rnk
    FROM counts
  ) WHERE rnk = 1
)
SELECT lang, predicted, COUNT(*) AS n_docs
FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
"""


# ---------------------------------------------------------------------------
# Quality-signal counts (the integer numerators/denominators of the usual
# length / stopword / lexical-diversity quality ratios — kept as counts so
# the oracle comparison is exact; the ratio is a trivial downstream divide)

STOPWORDS = ("a", "and", "in", "is", "of", "the", "to")  # sorted
_SHORT_LEN = 3


def quality_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, n_stop, n_short, n_distinct) per source:
    whitespace tokens, stopword-list hits, short tokens (len <= 3), and the
    summed per-doc distinct-word counts (lexical-diversity numerator).

    Shape: every count is a per-row expression over the doc's word array
    (n_distinct is ``size(array_distinct(words))``, the doc's own distinct
    count since doc_id is the documents key), folded by ONE map-side
    combined hash aggregate — no explode, no second aggregation, no join."""
    d = input_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(f"size(filter(split(text, ' '), w -> w IN ({stop_list})))")
    n_short = F.expr(f"size(filter(split(text, ' '), w -> length(w) <= {_SHORT_LEN}))")
    return sorted_small(
        d.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(words).cast("long")).alias("n_tokens"),
            F.sum(n_stop.cast("long")).alias("n_stop"),
            F.sum(n_short.cast("long")).alias("n_short"),
            F.sum(F.size(F.array_distinct(words)).cast("long")).alias("n_distinct"),
        ),
        "source",
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

QUALITY_RATIOS_ORACLE = f"""
WITH base AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(SUM(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_STOP_SQL})))) AS BIGINT) AS n_stop,
         CAST(SUM(len(list_filter(string_split(text, ' '),
                                  w -> length(w) <= {_SHORT_LEN}))) AS BIGINT) AS n_short
  FROM documents GROUP BY source
),
per_doc AS (
  SELECT source, CAST(SUM(nd) AS BIGINT) AS n_distinct FROM (
    SELECT source, doc_id, COUNT(DISTINCT word) AS nd FROM (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ) GROUP BY source, doc_id
  ) GROUP BY source
)
SELECT source, n_docs, n_tokens, n_stop, n_short, n_distinct
FROM base JOIN per_doc USING (source) ORDER BY source
"""
