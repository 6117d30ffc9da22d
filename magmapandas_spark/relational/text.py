"""Text gate queries over the ``documents`` table: per-language
statistics, quality heuristics, regex pretokenization, cleaning and
language identification.

Same cross-engine determinism rules as :mod:`suite`: regexes stay in
the Java-regex/RE2 common subset, and averages go through
decimal-cast sums."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import SQL_DAVG, _t, davg


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analytics: per-language doc counts / char sums / mean token
    counts (whitespace tokenizer)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tokens = F.size(F.split(F.col("text"), " "))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(davg(tokens.cast("double")), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


# DuckDB SUM(INTEGER) yields HUGEINT (renders 19525.0) while Spark SUM(INT)
# yields BIGINT — cast the oracle side so the value hashes agree.
SQL_DOC_STATS = f"""
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND({SQL_DAVG.format(x="CAST(len(str_split(text, ' ')) AS DOUBLE)")}, 6) AS avg_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token count, stopword ratio, mean
    token length — narrow, scan-local (no shuffle at all)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    n_stop = F.size(
        F.filter(tokens, lambda x: x.isin("a", "the", "of", "and"))
    )
    mean_len = (F.length("text") - n_tokens + 1) / n_tokens
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            n_stop.alias("n_stop"),
            F.round(n_stop.cast("double") / n_tokens, 6).alias("stop_ratio"),
            F.round(mean_len, 6).alias("mean_token_len"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_QUALITY = """
SELECT doc_id, lang,
  len(str_split(text, ' ')) AS n_tokens,
  len(list_filter(str_split(text, ' '), x -> x IN ('a','the','of','and'))) AS n_stop,
  ROUND(CAST(len(list_filter(str_split(text, ' '), x -> x IN ('a','the','of','and'))) AS DOUBLE)
        / len(str_split(text, ' ')), 6) AS stop_ratio,
  ROUND((length(text) - len(str_split(text, ' ')) + 1.0) / len(str_split(text, ' ')), 6) AS mean_token_len
FROM documents
ORDER BY doc_id
"""


# BPE-ish pretokenizer (GPT-2-pattern subset): apostrophe suffix |
# word | digit run | punctuation run | residual space run. Restricted
# to syntax shared by Java regex (Spark) and RE2 (DuckDB) — no
# lookaround, no backrefs — with identical leftmost-first alternation,
# so match counts are exact cross-engine.
_BPE_RE = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9']+| +"


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways per document — whitespace split and a
    BPE-ish pretokenizer regex (the standard LLM-pipeline size signal) —
    plus chars-per-BPE-token. Narrow, scan-local, regexp_count stays in
    whole-stage codegen (no UDF)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    n_ws = F.size(F.split(F.col("text"), " "))
    n_bpe = F.regexp_count(F.col("text"), F.lit(_BPE_RE))
    return (
        docs.select(
            "doc_id",
            n_ws.alias("n_ws_tokens"),
            n_bpe.alias("n_bpe_tokens"),
            F.when(
                n_bpe > 0,
                F.round(F.length("text").cast("double") / n_bpe, 6),
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


_BPE_RE_SQL = _BPE_RE.replace("'", "''")


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
  len(str_split(text, ' ')) AS n_ws_tokens,
  len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS n_bpe_tokens,
  CASE WHEN len(regexp_extract_all(text, '{_BPE_RE_SQL}')) > 0
       THEN ROUND(CAST(length(text) AS DOUBLE)
                  / len(regexp_extract_all(text, '{_BPE_RE_SQL}')), 6)
  END AS chars_per_token
FROM documents
ORDER BY doc_id
"""


# URL/email patterns in the Java-regex/RE2 common subset (no
# lookaround); Spark regexp_replace is global by default, DuckDB needs
# the explicit 'g' option.
_URL_RE = "https?://[^ ]+"


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping for a training corpus: count + remove URLs
    and e-mail addresses, collapse whitespace runs, report cleaned
    length. Pure regexp expressions — narrow, codegen, no UDF."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), _URL_RE, " "),
                _EMAIL_RE,
                " ",
            ),
            " +",
            " ",
        )
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(_URL_RE)).alias("n_urls"),
            F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
            F.length(cleaned).alias("clean_len"),
            F.length("text").alias("raw_len"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_CLEAN = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls,
  len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
  length(trim(regexp_replace(regexp_replace(regexp_replace(
    text, '{_URL_RE}', ' ', 'g'), '{_EMAIL_RE}', ' ', 'g'),
    ' +', ' ', 'g'))) AS clean_len,
  length(text) AS raw_len
FROM documents
ORDER BY doc_id
"""


def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic vs the labeled lang column:
    confusion counts. (The synthetic corpus shares one vocabulary, so
    the signal is marker tokens; the query exercises the classification
    plumbing.)"""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tokens = F.split(F.col("text"), " ")
    score = lambda *words: F.size(F.filter(tokens, lambda x: x.isin(*words)))
    en = score("the", "a", "and", "of")
    pred = (
        F.when(en >= 1, F.lit("en")).otherwise(F.lit("other"))
    )
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


SQL_LANGID = """
SELECT lang,
  CASE WHEN len(list_filter(str_split(text, ' '), x -> x IN ('the','a','and','of'))) >= 1
       THEN 'en' ELSE 'other' END AS pred_lang,
  COUNT(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY lang, pred_lang
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "doc_stats": (q_doc_stats, SQL_DOC_STATS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "text_clean": (q_text_clean, SQL_TEXT_CLEAN),
    "langid_heuristic": (q_langid_heuristic, SQL_LANGID),
}
