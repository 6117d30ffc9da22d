"""Contrastive training-pair mining over the embedding tier
(beyond-reference surface — the data-side half of training retrieval /
representation models: every anchor needs its nearest SAME-label
positive and its nearest DIFFERENT-label "hard" negative).

Plan shape (the 100 TB / billion-vector posture): the anchor batch is
broadcast (mining runs in bounded batches — the training loop's
outer-batch size, never the corpus); the corpus streams through ONE
scan computing the ordered-fold cosine against every anchor; the
per-(anchor, polarity) argmax is a window over the anchor-bounded
candidate relation. At billion-vector scale the candidate relation is
first pruned by the IVF/PQ index tier (operators/similarity.py) —
mining composes with any candidate generator because it only needs
(anchor, candidate, cos, same_label) rows; the brute-force generator
here is the recall-1.0 baseline the index path is measured against
(the ann_recall discipline).

Determinism: cosine is the explicitly-ordered left fold both engines
replay bit-identically (the embedding_topk precedent); ties break on
candidate id; cos and margin round to 6 decimals only at the output
projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from magmapandas_spark.operators.dedup import fan_out
from magmapandas_spark.operators.similarity import _dot, _norm

#: gate batch: anchors are the first N vectors
N_ANCHORS = 30


def hard_negative_mining(
    anchors: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """For each anchor: the highest-cosine SAME-label candidate
    (positive) and the highest-cosine DIFFERENT-label candidate (hard
    negative), plus the contrastive margin ``pos_cos - neg_cos``.

    Anchors with no same-label or no different-label candidate drop
    out (inner joins) — a mining batch needs both poles."""
    a = anchors.select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("qlab"),
        F.col(vec_col).alias("qvec"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("cid"),
        F.col(label_col).alias("clab"),
        F.col(vec_col).alias("cvec"),
    )
    scored = (
        F.broadcast(a)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            (F.col("qlab") == F.col("clab")).alias("is_pos"),
            (
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec")))
            ).alias("cos"),
        )
    )
    # n_keep=1 argmax per (anchor, polarity) — the map-side-combined
    # max(struct(cos, -cid)) twin of the former
    # `row_number() OVER (ORDER BY cos DESC, cid)` window (r12, the
    # ivf_topk rewrite applied here): the partial aggregate collapses
    # the |anchors|×N candidate relation to 2|anchors| rows BEFORE the
    # exchange, where the window shuffled and sorted every candidate.
    # Exact-equivalence notes: NaN cosines sort greatest under both
    # forms; the negated id flips the tie-break inside a max —
    # property-tested in tests/test_argmin_agg_equivalence.py on
    # tie-rich inputs. Non-numeric ids cannot ride the negation (ANSI
    # errors; non-ANSI silently nulls every winner) and take the
    # window form, same verdict.
    if isinstance(corpus.schema[id_col].dataType, NumericType):
        best = (
            scored.groupBy("qid", "is_pos")
            .agg(
                F.max(
                    F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))
                ).alias("m")
            )
            .select(
                "qid",
                "is_pos",
                (-F.col("m.nc")).alias("cid"),
                F.col("m.cos").alias("cos"),
            )
        )
    else:
        w = Window.partitionBy("qid", "is_pos").orderBy(
            F.col("cos").desc(), F.col("cid")
        )
        best = scored.withColumn(
            "rn", F.row_number().over(w)
        ).filter(F.col("rn") == 1)
    pos = best.filter(F.col("is_pos")).select(
        "qid",
        F.col("cid").alias("pos_id"),
        F.col("cos").alias("_pc"),
    )
    neg = best.filter(~F.col("is_pos")).select(
        "qid",
        F.col("cid").alias("neg_id"),
        F.col("cos").alias("_nc"),
    )
    return pos.join(neg, "qid").select(
        "qid",
        "pos_id",
        F.round("_pc", 6).alias("pos_cos"),
        "neg_id",
        F.round("_nc", 6).alias("neg_cos"),
        F.round(F.col("_pc") - F.col("_nc"), 6).alias("margin"),
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: positive + hard negative for the first 30 vectors
    against the full embeddings table, margins under the hash."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") < N_ANCHORS)
    return hard_negative_mining(anchors, emb).orderBy("qid")


SQL_HARD_NEGATIVES = f"""
WITH a AS (
  SELECT vec_id AS qid, label AS qlab, embedding AS qvec
  FROM embeddings WHERE vec_id < {N_ANCHORS}
),
scored AS (
  SELECT a.qid, e.vec_id AS cid, (a.qlab = e.label) AS is_pos,
    list_reduce(
      list_transform(a.qvec, (x, i) ->
        CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (x, y) -> x + y)
    / (sqrt(list_reduce(
         list_transform(a.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         (x, y) -> x + y))
       * sqrt(list_reduce(
           list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           (x, y) -> x + y))) AS cos
  FROM a, embeddings e
  WHERE e.vec_id != a.qid
),
best AS (
  SELECT qid, cid, is_pos, cos,
         ROW_NUMBER() OVER (PARTITION BY qid, is_pos
                            ORDER BY cos DESC, cid) AS rn
  FROM scored
)
SELECT p.qid,
       p.cid AS pos_id,
       ROUND(p.cos, 6) AS pos_cos,
       n.cid AS neg_id,
       ROUND(n.cos, 6) AS neg_cos,
       ROUND(p.cos - n.cos, 6) AS margin
FROM (SELECT * FROM best WHERE is_pos AND rn = 1) p
JOIN (SELECT * FROM best WHERE NOT is_pos AND rn = 1) n USING (qid)
ORDER BY qid
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
}
