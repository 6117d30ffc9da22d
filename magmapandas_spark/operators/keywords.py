"""RAKE-style keyword extraction (beyond-reference surface): the
unsupervised co-occurrence scorer a curation pipeline uses to surface
topical vocabulary without a model.

RAKE (Rose et al. 2010) splits text into candidate phrases at stopword
/ punctuation boundaries, then scores each content word by
``degree / frequency`` — degree counts co-occurrences within phrases
(a word appearing in longer phrases accumulates more degree), so
multi-word-topic terms outrank ubiquitous short-phrase fillers.

This implementation is the deterministic integer tier of that idea:
phrases are sentence-punctuation-delimited runs, stopwords are dropped
from the content-word list (RAKE-lite: stopwords delimit scoring, not
phrase extent — one regex split instead of a stateful run-length walk,
same degree/frequency semantics for the surviving words), degree is
``Σ phrase_len`` over the phrases containing the word, and the score
surfaces as integer ppm — so the whole ranking hashes cross-engine.

Scale posture: tokenize/explode is scan-local (whole-stage codegen,
no UDF); the only shuffle is the word-keyed aggregation
(vocabulary-sized output, map-side combined); top-k is
orderBy().limit() — TakeOrderedAndProject, no global rank window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["rake_keywords", "q_rake_keywords", "SQL_RAKE_KEYWORDS"]

#: the boundary stopword list (fixed, embedded in both engines' text)
_STOPWORDS = [
    "the", "of", "and", "to", "in", "a", "is", "for", "on", "with",
    "as", "by", "at", "from", "that", "this", "it", "are", "was", "be",
    "an", "or", "we", "has", "have",
]

_MIN_FREQ = 10
_TOP_K = 30


def rake_keywords(
    docs: DataFrame,
    text_col: str = "text",
    min_freq: int = _MIN_FREQ,
    top_k: int = _TOP_K,
) -> DataFrame:
    """Top-k content words by RAKE degree/frequency ppm."""
    stop_arr = ", ".join(f"'{s}'" for s in _STOPWORDS)
    phrases = docs.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), r"[.,;:!?]+")
        ).alias("phrase")
    )
    words = phrases.select(
        F.expr(
            "filter(split(phrase, '[^a-z0-9]+'),"
            f" w -> w <> '' AND NOT array_contains(array({stop_arr}), w))"
        ).alias("ws")
    ).filter(F.size("ws") > 0)
    exploded = words.select(
        F.size("ws").alias("plen"), F.explode("ws").alias("word")
    )
    scored = exploded.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    return (
        scored.filter(F.col("freq") >= min_freq)
        .select(
            "word",
            "freq",
            "degree",
            F.expr("degree * 1000000 div freq").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), F.desc("freq"), "word")
        .limit(top_k)
    )


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: top-30 RAKE keywords of the documents corpus by
    integer degree/frequency ppm."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return rake_keywords(docs)


def _sql_rake() -> str:
    stop_arr = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
WITH phrases AS (
  SELECT UNNEST(str_split_regex(lower(text), '[.,;:!?]+')) AS phrase
  FROM documents
),
words AS (
  SELECT list_filter(str_split_regex(phrase, '[^a-z0-9]+'),
                     w -> w <> '' AND NOT list_contains([{stop_arr}], w))
           AS ws
  FROM phrases
),
exploded AS (
  SELECT len(ws) AS plen, UNNEST(ws) AS word
  FROM words WHERE len(ws) > 0
),
scored AS (
  SELECT word, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS degree
  FROM exploded GROUP BY word
)
SELECT word, freq, degree,
       degree * 1000000 // freq AS score_ppm
FROM scored
WHERE freq >= {_MIN_FREQ}
ORDER BY score_ppm DESC, freq DESC, word
LIMIT {_TOP_K}
"""


SQL_RAKE_KEYWORDS = _sql_rake()


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "rake_keywords": (q_rake_keywords, SQL_RAKE_KEYWORDS),
}
