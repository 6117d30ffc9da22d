"""Hashed-feature document scoring — the two workhorses of corpus
curation at training scale.

``hashed_linear_classifier``: fastText-style linear quality scoring
over hashed bag-of-words features. Production pipelines run a trained
linear model over every crawl document; the Spark-first form keeps the
whole thing SCAN-LOCAL — the weight of a token is a pure expression of
its hash bucket, the per-document feature sum is an integer
``F.aggregate`` fold over the token array (no explode, no shuffle of
any kind), and the sigmoid is one projection. Zero exchanges
(plan-tested): at 100 TB this runs at scan speed.

``dsir_importance``: DSIR-style importance weights (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling") —
score every raw document by the log-likelihood ratio of a TARGET
hashed-unigram distribution vs the RAW distribution. Two bounded
aggregations (≤ n_buckets rows each, map-side combined), one broadcast
of the joined bucket stats back, one per-doc aggregation. Nothing in
the plan is proportional to anything but the scan: the bucket-stats
relation is ≤ n_buckets rows regardless of corpus size, exactly the
posture importance resampling needs at 100 TB.

Cross-engine determinism: hash buckets come from the md5-60 trick
(identical in DuckDB); classifier feature sums are INTEGER until the
final division; DSIR per-token log-ratios are computed as
``ln((t+1)/(r+1))`` of exactly-representable ratios, cast to
decimal(28,12) for an order-independent sum, and the final scores are
rounded to 6 decimals in both engines (JVM Math.log vs libm ln can
differ by 1 ulp — the tfidf/bm25 precedent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import word_tokens
from magmapandas_spark.operators.dedup import _md5_60, fan_out

# Knuth's multiplicative constant — any odd constant works; pinned so
# the "trained" weights are reproducible everywhere.
_WEIGHT_MULT = 2654435761


def _bucket(col: Column, n_buckets: int, salt: str) -> Column:
    """Deterministic hash bucket in [0, n_buckets) — md5-60, exact in
    DuckDB as ('0x' || substr(md5(salt || x), 1, 15))::BIGINT % n."""
    return F.pmod(
        _md5_60(F.concat(F.lit(salt + ":"), col)), F.lit(n_buckets)
    )


def _sql_bucket(expr: str, n_buckets: int, salt: str) -> str:
    return (
        f"(('0x' || substr(md5('{salt}:' || {expr}), 1, 15))::BIGINT"
        f" % {n_buckets})"
    )


# ---------------------------------------------------------------------
# fastText-style hashed linear classifier
# ---------------------------------------------------------------------

def hashed_linear_classifier(
    docs: DataFrame,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "qclf",
) -> DataFrame:
    """Score each document with a linear model over hashed bag-of-words
    features and squash through a sigmoid.

    The "trained" weight of bucket ``b`` is the pinned integer
    ``((b * 2654435761) % 2001) - 1000`` (a permille weight in
    [-1000, 1000] — stands in for real trained weights, which would
    ship as a broadcast array the same size). The per-doc feature sum
    folds INTEGER weights over the token array scan-locally (exact,
    order-independent) and is returned AS the exact integer: the mean
    ``sum_w / (n·1000)`` is a terminating rational that can land
    exactly on a 6-decimal half-boundary, where Spark's BigDecimal
    HALF_UP and DuckDB's binary-double rounding disagree (observed at
    sf0.1) — so the only double emitted is the sigmoid, whose
    transcendental output never terminates at a boundary; rounded
    to 6.

    Returns (id, n_tokens, sum_weight, prob)."""
    toks = word_tokens(text_col)

    def w_int(tok: Column) -> Column:
        b = _bucket(tok, n_buckets, salt)
        return (b * F.lit(_WEIGHT_MULT)) % F.lit(2001) - F.lit(1000)

    sum_w = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + w_int(t),
    )
    n_tok = F.size(toks)
    # mean permille weight in [-1, 1]; empty docs score exactly 0
    raw = F.when(n_tok > 0, sum_w.cast("double") / (n_tok * 1000.0)
                 ).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        sum_w.alias("sum_weight"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6).alias("prob"),
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: hashed linear classifier over every document —
    integer feature sums, mean weight, and sigmoid all under the
    hash."""
    # fan_out HERE, not in the operator: the operator's zero-exchange
    # scan-local plan is a pinned invariant (it composes into other
    # pipelines' scan stages); the gate input is a single row group,
    # so the standalone query pays one cheap row shuffle to tokenize
    # on every core
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return hashed_linear_classifier(docs).orderBy("doc_id").coalesce(1)


def _sql_quality_classifier(
    n_buckets: int = 256, salt: str = "qclf"
) -> str:
    b = _sql_bucket("t", n_buckets, salt)
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, len(toks) AS n_tokens,
         COALESCE((SELECT SUM((({b} * {_WEIGHT_MULT}) % 2001) - 1000)
                   FROM unnest(toks) u(t)), 0) AS sum_w
  FROM tok
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum_w AS BIGINT) AS sum_weight,
       ROUND(1.0 / (1.0 + exp(-(CASE WHEN n_tokens > 0
                  THEN CAST(sum_w AS DOUBLE) / (n_tokens * 1000.0)
                  ELSE 0.0 END))), 6) AS prob
FROM scored
ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------

def dsir_importance(
    docs: DataFrame,
    target_filter: Column,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
) -> DataFrame:
    """Per-document importance weight ``log p_target(doc) -
    log p_raw(doc)`` under add-one-smoothed hashed-unigram language
    models fit on the TARGET slice (rows matching ``target_filter``)
    and the RAW corpus (all rows).

    score(d) = Σ_tok ln((t_b+1)/(r_b+1)) + n_tok · ln((R+D)/(T+D))
    where t_b/r_b are bucket counts, T/R total token counts, D the
    bucket count. Both aggregations are bounded (≤ D rows) and
    map-side combined; the joined stats ride ONE broadcast back; the
    per-doc sum is decimal(28,12) for order independence.

    Returns (id, n_tokens, dsir_score) — resample raws with weight
    ∝ exp(score) downstream (e.g. via ``weighted_sample``)."""
    tok = (
        fan_out(docs)
        .select(
            F.col(id_col),
            F.explode(word_tokens(text_col)).alias("tok"),
            target_filter.alias("_is_target"),
        )
        .select(
            id_col,
            _bucket(F.col("tok"), n_buckets, salt).alias("b"),
            "_is_target",
        )
    )
    stats = (
        tok.groupBy("b").agg(
            F.count(F.lit(1)).alias("r_cnt"),
            F.sum(F.col("_is_target").cast("long")).alias("t_cnt"),
        )
        # materialize the ≤n_buckets-row LM state ONCE: totals and the
        # broadcast join each re-ran the full tokenize+explode pipeline
        # when left lazy (3 tokenize passes in the plan — guide §3.3).
        # The bucket-count relation IS the fitted language model, so
        # materializing it is the operator's own contract.
        # Deterministic, hash unchanged.
        .localCheckpoint(eager=True)
    )
    totals = stats.agg(
        F.sum("r_cnt").alias("R"), F.sum("t_cnt").alias("T")
    )
    ratio = F.log(
        (F.col("t_cnt") + 1).cast("double")
        / (F.col("r_cnt") + 1).cast("double")
    )
    per_doc = (
        tok.join(F.broadcast(stats), on="b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(ratio.cast("decimal(28,12)")).alias("lr_sum"),
        )
    )
    const = F.log(
        (F.col("R") + n_buckets).cast("double")
        / (F.col("T") + n_buckets).cast("double")
    )
    scored = per_doc.crossJoin(F.broadcast(totals)).select(
        id_col,
        F.col("n_tokens"),
        F.round(
            F.col("lr_sum").cast("double") + F.col("n_tokens") * const,
            6,
        ).alias("dsir_score"),
    )
    # left join so token-less docs survive with score 0 (they carry no
    # evidence either way under both LMs)
    return (
        docs.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce("dsir_score", F.lit(0.0)).alias("dsir_score"),
        )
    )


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: DSIR importance weights for every document with
    TARGET = the English slice (lang = 'en') — bucket LMs, smoothing,
    and the per-doc decimal log-ratio sums all under the hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        dsir_importance(docs, F.col("lang") == "en")
        .orderBy("doc_id")
        .coalesce(1)
    )


def _sql_dsir_importance(
    n_buckets: int = 1024, salt: str = "dsir"
) -> str:
    b = _sql_bucket("tok", n_buckets, salt)
    return f"""
WITH tok0 AS (
  SELECT doc_id, lang = 'en' AS is_target,
         unnest(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
tok AS (SELECT doc_id, is_target, {b} AS b FROM tok0),
stats AS (
  SELECT b, COUNT(*) AS r_cnt,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_cnt
  FROM tok GROUP BY b
),
totals AS (SELECT SUM(r_cnt) AS R, SUM(t_cnt) AS T FROM stats),
per_doc AS (
  SELECT tok.doc_id, COUNT(*) AS n_tokens,
         SUM(CAST(ln(CAST(stats.t_cnt + 1 AS DOUBLE)
                     / CAST(stats.r_cnt + 1 AS DOUBLE))
                  AS DECIMAL(28,12))) AS lr_sum
  FROM tok JOIN stats ON tok.b = stats.b
  GROUP BY tok.doc_id
),
scored AS (
  SELECT doc_id, n_tokens,
         ROUND(CAST(lr_sum AS DOUBLE)
               + n_tokens * ln(CAST(R + {n_buckets} AS DOUBLE)
                               / CAST(T + {n_buckets} AS DOUBLE)),
               6) AS dsir_score
  FROM per_doc, totals
)
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       COALESCE(s.dsir_score, 0.0) AS dsir_score
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------
# Composed curation pipeline (round 6): classifier-gated weighted
# sampling — the two-stage shape production curation actually runs
# (score everything, keep the good, sample proportionally).
# ---------------------------------------------------------------------

def q_curated_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: quality-gate then sample — keep documents the
    hashed linear classifier scores ≥ 0.5, then draw a 100-doc A-ES
    weighted sample (weight = n_chars) from the survivors. Both
    stages' decisions (the sigmoid threshold boundary and the
    reservoir boundary) sit under one hash — the gate proves the
    operators COMPOSE deterministically, not just run alone.

    Plan shape: classifier is scan-local; the filter is a projection
    predicate; sampling is TakeOrdered — the whole pipeline is one
    narrow pass over the corpus with zero hash exchanges."""
    from magmapandas_spark.operators.curation import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = hashed_linear_classifier(docs).filter(
        F.col("prob") >= 0.5
    )
    kept = scored.join(
        docs.select("doc_id", "n_chars"), on="doc_id"
    )
    return weighted_sample(kept, "n_chars", 100)


def _sql_curated_sample(n_buckets: int = 256, salt: str = "qclf") -> str:
    b = _sql_bucket("t", n_buckets, salt)
    return f"""
WITH tok AS (
  SELECT doc_id, n_chars,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, n_chars, len(toks) AS n_tokens,
         COALESCE((SELECT SUM((({b} * {_WEIGHT_MULT}) % 2001) - 1000)
                   FROM unnest(toks) u(t)), 0) AS sum_w
  FROM tok
),
kept AS (
  SELECT doc_id, n_chars FROM scored
  WHERE ROUND(1.0 / (1.0 + exp(-(CASE WHEN n_tokens > 0
              THEN CAST(sum_w AS DOUBLE) / (n_tokens * 1000.0)
              ELSE 0.0 END))), 6) >= 0.5
)
SELECT doc_id, n_chars,
       ROUND(ln((('0x' || substr(md5('wrs:' || doc_id), 1, 15))::BIGINT
                 + 1) / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE), 9) AS priority
FROM kept
WHERE n_chars > 0
ORDER BY priority DESC, doc_id
LIMIT 100
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "quality_classifier": (q_quality_classifier, _sql_quality_classifier),
    "dsir_importance": (q_dsir_importance, _sql_dsir_importance),
    "curated_sample": (q_curated_sample, _sql_curated_sample),
}
