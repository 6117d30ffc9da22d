"""Distributed Lloyd refinement — full-corpus k-means iterations.

The IVF/PQ codebooks elsewhere in this repo are fit on a BOUNDED
driver-side sample (`similarity.ivf_fit_centroids`, O(1) in corpus
size) — the honest posture for initialization, but production vector
indexes refine the codebook against the FULL corpus. This module is
that refinement, in the canonical distributed k-means shape:

    per iteration:
      1. broadcast the k·d centroid floats (driver state, bounded);
      2. assignment = scan-local argmin over the k literal centroids
         (a pure expression fold — no join, no shuffle);
      3. centroid update = ONE map-side-combined aggregation keyed on
         the cell: k rows × (count + d per-dim sums) out, collected
         to the driver (k·d numbers, independent of corpus size).

Nothing except the scan is proportional to the data; per-iteration
driver state is k·d floats. That is the 100 TB Lloyd loop — the same
job shape Spark MLlib's KMeans runs, built here from first principles
so every arithmetic step is cross-engine reproducible.

Cross-engine determinism (the whole point — MLlib's KMeans is NOT
reproducible across partitionings): floating-point sums over shuffled
rows are order-dependent, so every corpus-wide sum is carried in
decimals —

- assignment distance: per-dim squared diffs (doubles) are each cast
  to decimal(28,12) and summed in decimal(38,12); decimal addition is
  associative/commutative, so the argmin cell is partition-order
  independent. The double→decimal(28,12) rounding is provably
  tie-free here: a binary double's decimal expansion terminates with
  a trailing 5 at digit n = -log2(ulp) >> 12 for magnitudes < 2^39,
  so the remainder at digit 12 can never be exactly one half-ulp and
  HALF_UP (Spark) vs DuckDB rounding never diverge.
- centroid update: per-dim decimal(28,12) sums + a bigint count; the
  new component is ONE double division float(sum)/n — identical IEEE
  operation in Python, the JVM, and DuckDB.
- ties in the argmin break on the cell index (struct compare /
  ORDER BY d2, cell).

The oracle replays every iteration as unrolled CTEs over the exploded
(vec, dim, val) relation — same decimals, same division, same
tie-break.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.similarity import ivf_fit_centroids

_GATE_ITERS = 2


def _assign_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Scan-local argmin assignment against literal centroids.

    Returns (id, vec, cell, d2) with d2 the decimal(38,12) squared
    distance to the winning centroid. The argmin is an
    ``array_min`` over (d2, cell) structs — decimal compare first,
    cell index as the total tie-break."""
    vec = F.col(vec_col)

    def d2(c: list[float]) -> Column:
        lit = F.array(*[F.lit(float(v)) for v in c])
        sq = F.zip_with(
            vec,
            lit,
            lambda x, y: (
                (x.cast("double") - y) * (x.cast("double") - y)
            ).cast("decimal(28,12)"),
        )
        return F.aggregate(
            sq,
            F.lit(0).cast("decimal(38,12)"),
            lambda acc, v: (acc + v).cast("decimal(38,12)"),
        )

    best = F.array_min(
        F.array(
            *[
                F.struct(d2(c).alias("d2"), F.lit(j).alias("cell"))
                for j, c in enumerate(centroids)
            ]
        )
    )
    return emb.select(
        F.col(id_col),
        vec,
        best["cell"].alias("cell"),
        best["d2"].alias("d2"),
    )


def lloyd_refine(
    emb: DataFrame,
    init_centroids: list[list[float]],
    iters: int = _GATE_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Run ``iters`` full-corpus Lloyd iterations from
    ``init_centroids``; returns (refined centroids, final assignment
    DataFrame with (id, cell, d2)).

    Each iteration triggers ONE job: assignment expression → k-row
    aggregation (count + d per-dim decimal sums, map-side combined) →
    k·d floats collected. Raises if a cell empties (the gate codebook
    never does; at scale the standard re-seed policy is a caller
    decision, and silently diverging from the oracle is worse than
    failing loudly)."""
    from magmapandas_spark.operators.dedup import fan_out

    k = len(init_centroids)
    dim = len(init_centroids[0])
    cents = [list(map(float, c)) for c in init_centroids]
    # fan_out before persist: every Lloyd iteration scans the cached
    # relation with the SCAN's partitioning — a single-row-group input
    # would pin all iterations to one core. The decimal sums are
    # order-independent, so repartitioning cannot change the hash.
    emb = fan_out(emb.select(id_col, vec_col)).persist()
    try:
        for _ in range(iters):
            assigned = _assign_cells(emb, cents, id_col, vec_col)
            stats = assigned.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(
                        F.element_at(vec_col, i + 1)
                        .cast("double")
                        .cast("decimal(28,12)")
                    ).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            rows = {r["cell"]: r for r in stats.collect()}
            if len(rows) < k:
                missing = sorted(set(range(k)) - set(rows))
                raise ValueError(
                    f"lloyd_refine: cells {missing} emptied — grow k "
                    "with the corpus or re-seed upstream"
                )
            cents = [
                [
                    float(rows[j][f"s{i}"]) / rows[j]["n"]
                    for i in range(dim)
                ]
                for j in range(k)
            ]
    finally:
        emb.unpersist()
    final = _assign_cells(emb, cents, id_col, vec_col).select(
        id_col, "cell", "d2"
    )
    return cents, final


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: two full-corpus Lloyd refinements of the shared
    8-cell IVF codebook, then per-cell membership and inertia — every
    assignment decision across both iterations is pinned by the final
    (n_members, inertia) pairs under the hash."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init = ivf_fit_centroids(sf_dir)
    _, assigned = lloyd_refine(emb, init, iters=_GATE_ITERS)
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(F.sum("d2").cast("double"), 4).alias("inertia"),
        )
        .orderBy("cell")
        .coalesce(1)
    )


def sql_kmeans_refine(
    sf_dir: str | None = None,
    iters: int = _GATE_ITERS,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`q_kmeans_refine`: the init centroids are
    inlined as literal (cell, dim, c) rows from the SAME cached fit;
    each Lloyd iteration unrolls to an assignment CTE (decimal-summed
    squared distances, ROW_NUMBER argmin with the cell tie-break) and
    a centroid CTE (decimal per-dim sums, one double division)."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    cents = ivf_fit_centroids(sf_dir)
    c0_rows = ",\n    ".join(
        f"({j}, {i + 1}, CAST({c[i]!r} AS DOUBLE))"
        for j, c in enumerate(cents)
        for i in range(dim)
    )
    ctes = [
        f"""ed AS (
  SELECT vec_id, CAST(i AS INT) AS dim,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
  FROM embeddings, UNNEST(range(1, {dim + 1})) r(i)
)""",
        f"""c0(cell, dim, c) AS (
  VALUES
    {c0_rows}
)""",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        ctes.append(
            f"""a{t} AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT vec_id, cell, d2,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
    FROM (
      SELECT ed.vec_id, {prev}.cell,
             SUM(CAST((ed.val - {prev}.c) * (ed.val - {prev}.c)
                      AS DECIMAL(28,12))) AS d2
      FROM ed JOIN {prev} ON ed.dim = {prev}.dim
      GROUP BY ed.vec_id, {prev}.cell
    )
  ) WHERE rn = 1
)"""
        )
        if t < iters:
            ctes.append(
                f"""c{t}(cell, dim, c) AS (
  SELECT a{t}.cell, ed.dim,
         CAST(SUM(CAST(ed.val AS DECIMAL(28,12))) AS DOUBLE)
           / COUNT(*) AS c
  FROM ed JOIN a{t} ON ed.vec_id = a{t}.vec_id
  GROUP BY a{t}.cell, ed.dim
)"""
            )
            prev = f"c{t}"
    # iteration `iters` in the Spark twin recomputes the centroids one
    # last time and re-assigns — mirror that: a final centroid CTE
    # from a{iters}, then the closing assignment
    ctes.append(
        f"""c{iters}(cell, dim, c) AS (
  SELECT a{iters}.cell, ed.dim,
         CAST(SUM(CAST(ed.val AS DECIMAL(28,12))) AS DOUBLE)
           / COUNT(*) AS c
  FROM ed JOIN a{iters} ON ed.vec_id = a{iters}.vec_id
  GROUP BY a{iters}.cell, ed.dim
)"""
    )
    ctes.append(
        f"""afinal AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT vec_id, cell, d2,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
    FROM (
      SELECT ed.vec_id, c{iters}.cell,
             SUM(CAST((ed.val - c{iters}.c) * (ed.val - c{iters}.c)
                      AS DECIMAL(28,12))) AS d2
      FROM ed JOIN c{iters} ON ed.dim = c{iters}.dim
      GROUP BY ed.vec_id, c{iters}.cell
    )
  ) WHERE rn = 1
)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH
{body}
SELECT cell, COUNT(*) AS n_members,
       ROUND(CAST(SUM(d2) AS DOUBLE), 4) AS inertia
FROM afinal
GROUP BY cell
ORDER BY cell
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "kmeans_refine": (q_kmeans_refine, sql_kmeans_refine),
}
