"""Text-analysis operators over ``documents``: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All integer-deterministic (ratios expressed as integer comparisons or
floor-scaled ints) so the value-hash gate is exact. The fingerprint is
an order-sensitive polynomial rolling hash over the token stream —
the same fold in Spark ``aggregate`` and DuckDB ``list_reduce``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..tokenize import TOKEN_PATTERN, duckdb_tokens_sql, spark_tokens
from .dedup import EXACT_PREFIX

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "on", "for", "with"]
P31 = 2147483647


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language ID: predict 'en' when stopwords make up
    >= 5% of tokens (integer comparison: 20*n_stop >= n_tok)."""
    docs = load_table(spark, sf_dir, "documents", balance=True)
    # per-doc token/stopword counts are array expressions on the tokens
    # column — the old explode + groupBy(doc_id) shuffled every token
    # row to compute a per-row aggregate (guide §2.3/§2.4); docs with
    # zero tokens had no exploded rows, and 0*20 >= 0 classifies them
    # 'en' exactly as the empty groupBy group did not exist -> n_tok=0
    # never occurred. Here empty-token docs DO get a row, so match the
    # old semantics by dropping them before the final rollup.
    toks = spark_tokens(F.col("text"))
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("n_stop"),
    ).filter(F.col("n_tok") > 0)
    pred = per_doc.withColumn(
        "pred_lang",
        F.when(F.col("n_stop") * 20 >= F.col("n_tok"), F.lit("en")).otherwise(
            F.lit("other")
        ),
    )
    return pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


_STOP_IN = ",".join(f"'{s}'" for s in STOPWORDS)

ORACLE_LANG = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({duckdb_tokens_sql('text')}) AS term FROM documents
),
per_doc AS (
  SELECT doc_id, lang, count(*) AS n_tok,
         sum(CASE WHEN term IN ({_STOP_IN}) THEN 1 ELSE 0 END) AS n_stop
  FROM tok GROUP BY doc_id, lang
)
SELECT lang,
       CASE WHEN n_stop * 20 >= n_tok THEN 'en' ELSE 'other' END AS pred_lang,
       count(*) AS n_docs
FROM per_doc GROUP BY 1, 2
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean-word-length (x100 floor), alpha
    ratio (x1000 floor) — the stopword/punct-ratio family of filters a
    training pipeline runs before ingestion."""
    docs = load_table(spark, sf_dir, "documents", balance=True)
    toks = spark_tokens(F.col("text"))
    alpha_chars = F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9_]", ""))
    return (
        docs.select(
            "doc_id",
            F.length("text").alias("n_chars_raw"),
            F.size(toks).alias("n_tok"),
            F.floor(
                F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                * 100
                / F.greatest(F.size(toks), F.lit(1))
            ).alias("mean_tok_len_x100"),
            F.floor(alpha_chars * 1000 / F.greatest(F.length("text"), F.lit(1))).alias(
                "alpha_ratio_x1000"
            ),
        )
        .filter(F.col("doc_id") < 100)
    )


ORACLE_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {duckdb_tokens_sql('text')} AS toks,
         length(regexp_replace(lower(text), '[^a-z0-9_]', '', 'g')) AS alpha_chars
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars_raw,
       len(toks) AS n_tok,
       CAST(FLOOR(list_sum(list_transform(toks, x -> length(x))) * 100.0
                  / greatest(len(toks), 1)) AS BIGINT) AS mean_tok_len_x100,
       CAST(FLOOR(alpha_chars * 1000.0 / greatest(length(text), 1)) AS BIGINT) AS alpha_ratio_x1000
FROM t WHERE doc_id < 100
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split vs the analyzer's
    BPE-ish regex — corpus totals + per-lang breakdown."""
    docs = load_table(spark, sf_dir, "documents", balance=True)
    # counting maximal runs directly (regexp_count) instead of split +
    # filter + size skips materializing the token-string arrays — same
    # counts (a match of [^\s]+ / TOKEN_PATTERN is exactly one surviving
    # split element), ~zero allocation per row (guide §1.2 per-task work)
    ws = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    rx = F.regexp_count(F.lower(F.col("text")), F.lit(TOKEN_PATTERN))
    return docs.groupBy("lang").agg(
        F.sum(ws).alias("ws_tokens"),
        F.sum(rx).alias("rx_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORACLE_TOKEN_COUNT = f"""
SELECT lang,
       CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS ws_tokens,
       CAST(sum(len({duckdb_tokens_sql('text')})) AS BIGINT) AS rx_tokens,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling fingerprint: fold (acc*31 + h(tok)) mod p
    over the token stream (h = md5-prefix token hash)."""
    docs = load_table(spark, sf_dir, "documents", balance=True)
    toks = spark_tokens(F.col("text"))
    tok_ints = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % P31,
    )
    fp = F.aggregate(
        tok_ints, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % P31
    )
    return docs.select("doc_id", fp.alias("fingerprint")).filter(F.col("doc_id") < 100)


ORACLE_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform({duckdb_tokens_sql('text')},
                          t -> ('0x' || substr(md5(t),1,15))::BIGINT % 2147483647)),
         (a, b) -> (a * 31 + b) % 2147483647
       ) AS fingerprint
FROM documents WHERE doc_id < 100
"""




def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pipeline a training-data ingest runs
    before tokenization: language gate + quality gates + exact-dup
    collapse, in ONE narrow pass plus one window shuffle.

    Filters (all integer-deterministic):
    - language: predicted 'en' (20 * stopword_count >= token_count,
      the lang_id_heuristic rule);
    - quality: >= 20 tokens and alpha-char ratio >= 0.5 of raw length
      (floor-scaled x1000, the text_quality_score family);
    - exact dedup: one survivor (min doc_id) per md5 digest of the
      leading EXACT_PREFIX chars (the dedup_exact rule).

    Plan shape: token stats come from array expressions on the tokens
    column (size / filter) — no explode, no groupBy; the only exchange
    is the digest window for the dup collapse. Emits the surviving
    (doc_id, n_tok) rows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", balance=True)
    toks = spark_tokens(F.col("text"))
    alpha_chars = F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9_]", ""))
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("n_stop"),
        F.floor(alpha_chars * 1000 / F.greatest(F.length("text"), F.lit(1))).alias(
            "alpha_x1000"
        ),
        F.md5(F.substring("text", 1, EXACT_PREFIX)).alias("digest"),
    )
    kept = stats.filter(
        (F.col("n_stop") * 20 >= F.col("n_tok"))
        & (F.col("n_tok") >= 20)
        & (F.col("alpha_x1000") >= 500)
    )
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        kept.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "n_tok")
    )


ORACLE_CLEAN = f"""
WITH stats AS (
  SELECT doc_id,
         len({duckdb_tokens_sql('text')}) AS n_tok,
         len(list_filter({duckdb_tokens_sql('text')},
             t -> list_contains([{_STOP_IN}], t))) AS n_stop,
         CAST(floor(length(regexp_replace(lower(text), '[^a-z0-9_]', '', 'g'))
              * 1000.0 / greatest(length(text), 1)) AS BIGINT) AS alpha_x1000,
         md5(substr(text, 1, {EXACT_PREFIX})) AS digest
  FROM documents
),
kept AS (
  SELECT * FROM stats
  WHERE n_stop * 20 >= n_tok AND n_tok >= 20 AND alpha_x1000 >= 500
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tok FROM (
  SELECT doc_id, n_tok,
         row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rk
  FROM kept
) WHERE rk = 1
"""


QUERIES = {
    "lang_id_heuristic": lang_id_heuristic,
    "text_quality_score": text_quality_score,
    "token_count": token_count,
    "doc_fingerprint": doc_fingerprint,
    "pipeline_clean_corpus": pipeline_clean_corpus,
}

ORACLE = {
    "lang_id_heuristic": ORACLE_LANG,
    "text_quality_score": ORACLE_QUALITY,
    "token_count": ORACLE_TOKEN_COUNT,
    "doc_fingerprint": ORACLE_FINGERPRINT,
    "pipeline_clean_corpus": ORACLE_CLEAN,
}
