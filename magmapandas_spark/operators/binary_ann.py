"""Binary-quantization ANN — sign-bit codes, Hamming pre-rank, exact
rescore.

The most compression-aggressive ANN family in production use: a
64-dim float vector quantizes to its 64 SIGN BITS — two BIGINT
halves (32 bits each; the sign bit of a single long would overflow
both engines' checked arithmetic), a 16× reduction — and candidate
generation becomes `bit_count(hi XOR hi) + bit_count(lo XOR lo)` on
longs. At 100 TB the code relation for a billion vectors is 16 GB:
it broadcasts, it banks in CPU cache, and the Hamming scan is pure
whole-stage-codegen integer work with no vector access at all. Floats are touched only in the final exact
cosine rescore of the tiny candidate set per query (the
retrieve-then-rerank contract, same as the PQ/ADC path).

Spark-first shape: packing is an integer `F.aggregate` fold in the
scan projection (no UDF); the query×corpus Hamming stage is a
broadcast crossJoin whose PROBE side carries only (id, code) longs —
the vectors stay in the corpus scan; candidates rank per query by
(hamming, cid) with a total tie-break; the rescore joins the ≤
n_candidates ids back to their vectors.

Cross-engine determinism: packing, XOR, and bit_count are exact
integer ops in both engines; the sign test is `> 0.0` on the same
float32 values; cosine rescore reuses the proven fixed-order fold and
rounds to 6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from magmapandas_spark.operators.dedup import fan_out
from magmapandas_spark.operators.similarity import (
    _dot,
    _norm,
    _sql_cos,
)

_GATE_K = 5
_GATE_CANDIDATES = 50


def sign_code(vec: Column, lo: int, n: int) -> Column:
    """Pack ``n`` components of ``vec`` starting at 1-based position
    ``lo`` into a BIGINT: bit set iff component > 0 (strict: zeros
    and negatives clear), first component = MSB — an exact integer
    fold both engines replay (n ≤ 62 keeps the arithmetic inside
    signed-long range in BOTH engines' checked arithmetic)."""
    return F.aggregate(
        F.slice(vec, lo, n),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2)
        + (x.cast("double") > 0.0).cast("long"),
    )


def binary_topk(
    corpus: DataFrame,
    query_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = _GATE_K,
    n_candidates: int = _GATE_CANDIDATES,
) -> DataFrame:
    """Top-k by exact cosine among the ``n_candidates`` nearest-by-
    Hamming sign codes per query. Returns (qid, cid, hamming, cos,
    rn ≤ k)."""
    v = F.col(vec_col)
    coded = fan_out(corpus).select(
        F.col(id_col).alias("cid"),
        v.alias("cvec"),
        sign_code(v, 1, 32).alias("chi"),
        sign_code(v, 33, 32).alias("clo"),
    )
    q = corpus.filter(query_pred).select(
        F.col(id_col).alias("qid"),
        v.alias("qvec"),
        sign_code(v, 1, 32).alias("qhi"),
        sign_code(v, 33, 32).alias("qlo"),
    )
    ham = (
        F.broadcast(q.select("qid", "qhi", "qlo"))
        .crossJoin(coded.select("cid", "chi", "clo"))
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            (
                F.bit_count(F.col("qhi").bitwiseXOR(F.col("chi")))
                + F.bit_count(F.col("qlo").bitwiseXOR(F.col("clo")))
            ).alias("hamming"),
        )
    )
    wh = Window.partitionBy("qid").orderBy("hamming", "cid")
    cand = ham.withColumn("hrn", F.row_number().over(wh)).filter(
        F.col("hrn") <= n_candidates
    )
    rescored = (
        cand.join(coded.select("cid", "cvec"), on="cid")
        .join(F.broadcast(q.select("qid", "qvec")), on="qid")
        .select(
            "qid",
            "cid",
            "hamming",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ).alias("cos"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    return rescored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= k
    )


def q_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: sign-bit ANN for the first 20 query vectors — the
    packed codes, Hamming pre-ranking, candidate boundary, and exact
    rescore all under the hash."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = binary_topk(emb, F.col("vec_id") < 20)
    return out.orderBy("qid", "rn").coalesce(1)


def sql_binary_topk(
    dim: int = 64, k: int = _GATE_K, n_candidates: int = _GATE_CANDIDATES
) -> str:
    """DuckDB twin: the same integer sign-pack fold, xor + bit_count
    Hamming, (hamming, cid) candidate window, and fixed-order cosine
    rescore."""
    return f"""
WITH coded AS (
  SELECT vec_id, embedding,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(embedding[1:32],
               x -> CAST(CAST(x AS DOUBLE) > 0.0 AS BIGINT))),
           (acc, b) -> acc * 2 + b) AS chi,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(embedding[33:64],
               x -> CAST(CAST(x AS DOUBLE) > 0.0 AS BIGINT))),
           (acc, b) -> acc * 2 + b) AS clo
  FROM embeddings
),
ham AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         bit_count(xor(q.chi, c.chi)) + bit_count(xor(q.clo, c.clo))
           AS hamming
  FROM coded q, coded c
  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
),
cand AS (
  SELECT qid, cid, hamming FROM (
    SELECT qid, cid, hamming,
           ROW_NUMBER() OVER (
             PARTITION BY qid ORDER BY hamming, cid) AS hrn
    FROM ham
  ) WHERE hrn <= {n_candidates}
),
rescored AS (
  SELECT cand.qid, cand.cid, cand.hamming,
         ROUND({_sql_cos('qe.embedding', 'ce.embedding', dim)}, 6) AS cos
  FROM cand
  JOIN embeddings qe ON cand.qid = qe.vec_id
  JOIN embeddings ce ON cand.cid = ce.vec_id
)
SELECT qid, cid, hamming, cos,
       CAST(rn AS INT) AS rn
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY cos DESC, cid) AS rn
  FROM rescored
) WHERE rn <= {k}
ORDER BY qid, rn
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "binary_topk": (q_binary_topk, sql_binary_topk),
}
