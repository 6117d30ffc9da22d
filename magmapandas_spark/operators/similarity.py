"""Similarity search over embedding columns (beyond-reference surface).

- :func:`cosine_topk_bruteforce` — exact top-k: broadcast the query set
  against the corpus; the dot product is an explicitly ordered left fold
  (``F.aggregate`` over ``F.zip_with``) so results are deterministic and
  bit-comparable across engines.
- :func:`cosine_topk_lsh` — the scale path: random-hyperplane LSH
  bucketing so only same-bucket candidates are scored. At 100 TB the
  brute-force cross product is O(|Q|·|C|); LSH turns it into a bucket
  equi-join (shuffle on bucket signature) with tunable recall.

Degenerate-vector semantics: the EXPRESSION-tier cosine divides by the
unclamped ``_norm``, so a zero vector FAILS LOUD under ANSI mode
(DIVIDE_BY_ZERO) in every form — pinned, including window/aggregate
parity, by tests/test_argmin_agg_equivalence.py. The Arrow-tier paths
(:func:`ivf_topk`'s probe UDF, the pandas kernels) clamp the norm at
1e-30 instead and score the zero vector as cos 0. The asymmetry is
deliberate: changing the expression tier to clamp would change gate
hash values for no correctness gain, and a zero embedding in a real
corpus is a data bug better surfaced than smoothed.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.models.common import drop_zip_finders
from magmapandas_spark.operators.dedup import fan_out
from magmapandas_spark.relational.suite import _t


def _norm(vec_col):
    sq = F.transform(
        vec_col, lambda x: x.cast("double") * x.cast("double")
    )
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def _dot(a, b):
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k. The query side is broadcast (small by
    construction); ranking is a window per query with a deterministic
    candidate-id tie-break."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    # fan_out: |Q|·dim multiply-adds per corpus row run inside the
    # corpus scan stage — spread them when the scan itself is narrow
    c = fan_out(corpus).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            (
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec")))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent random-hyperplane
    signatures; candidates = union of same-bucket pairs; exact rescoring
    of candidates only. Shuffles on (table, signature) — bounded bucket
    sizes replace the cross product at scale."""
    if dim is None:
        first = corpus.select(F.size(vec_col)).first()
        dim = int(first[0])

    def signature(vec, table: int):
        planes = _hyperplanes(dim, n_planes, seed + table)
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array([F.lit(float(p)) for p in plane]),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                >= 0,
                F.lit(1),
            ).otherwise(F.lit(0))
            for plane in planes
        ]
        sig = F.lit(0)
        for b in bits:
            sig = sig * F.lit(2) + b
        return sig

    def with_buckets(df, idname):
        # fan_out: n_tables × n_planes × dim multiply-adds per row run
        # inside the scan stage — spread before signing. ONE select with
        # all table signatures + explode, NOT a union of per-table
        # selects: a union re-evaluates the scan/fan_out subtree once
        # per table (n_tables corpus scans), the explode shares one.
        df = fan_out(df)
        sigs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    signature(F.col(vec_col), t).alias("sig"),
                )
                for t in range(n_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"{idname[0]}vec"),
            F.explode(sigs).alias("ts"),
        ).select(
            idname,
            f"{idname[0]}vec",
            F.col("ts.tbl").alias("tbl"),
            F.col("ts.sig").alias("sig"),
        )

    qb = with_buckets(queries, "qid")
    cb = with_buckets(corpus, "cid")
    # distinct on the ID pair only — a pair found in several tables
    # must rescore once, but deduplicating (qid, cid, qvec, cvec) would
    # shuffle the embedding arrays as part of the key (~30× wider rows
    # at web scale); vectors are joined back after the narrow distinct
    candidates = (
        qb.select("qid", "tbl", "sig")
        .join(cb.select("cid", "tbl", "sig"), on=["tbl", "sig"])
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    qvecs = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    cvecs = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    scored = (
        candidates.join(F.broadcast(qvecs), on="qid")
        .join(cvecs, on="cid")
        .select(
            "qid",
            "cid",
            (
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec")))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def all_pairs_cosine(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_blocks: int = 4,
) -> DataFrame:
    """Exact all-pairs cosine similarity ≥ threshold — fully
    distributed blocked matrix product, no driver materialization.

    Rows hash into ``n_blocks`` blocks; every unordered block pair
    (bi ≤ bj) becomes one ``applyInPandas`` group holding both blocks'
    rows, scored with a single BLAS matmul. Memory per task is bounded
    by 2·(N/n_blocks)·d doubles regardless of corpus size — at 100 TB
    raise ``n_blocks`` so a block fits the executor (shuffle volume
    grows as N·n_blocks; all-pairs is inherently O(N²) compute, this
    bounds the *memory*, which is what kills the naive plan). The
    LSH/IVF operators in this module are the sub-quadratic approximate
    alternatives when exactness isn't required."""
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    e = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(n_blocks)).cast("int")
    )
    # ONE broadcast equi-join on blk, not a union of two joins over
    # the same scan (the union evaluated the corpus scan twice). The
    # expansion table enumerates, per block b, every (bi, bj, side)
    # group membership: b as the left side of pairs (b, j≥b) and as
    # the right side of pairs (i≤b, b) — n_blocks·(n_blocks+1) rows,
    # trivially broadcastable.
    expansion = spark.createDataFrame(
        [(b, b, j, 0) for b in range(n_blocks)
         for j in range(b, n_blocks)]
        + [(b, i, b, 1) for b in range(n_blocks)
           for i in range(0, b + 1)],
        "blk int, bi int, bj int, side int",
    )
    both = e.join(F.broadcast(expansion), on="blk").select(
        "bi", "bj", "vid", "vec", "side"
    )

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def pair_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["side"] == 0]
        ids_a = a["vid"].to_numpy()
        A = np.vstack(a["vec"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        if bi == bj:
            ids_b, B = ids_a, A
        else:
            b = pdf[pdf["side"] == 1]
            ids_b = b["vid"].to_numpy()
            B = np.vstack(b["vec"].to_numpy()).astype(np.float64)
            B /= np.linalg.norm(B, axis=1, keepdims=True)
        sims = A @ B.T
        hit = sims >= threshold
        if bi == bj:
            # same block holds both orientations: keep the upper triangle
            hit &= ids_a[:, None] < ids_b[None, :]
        ai, bix = np.nonzero(hit)
        left, right = ids_a[ai], ids_b[bix]
        return pd.DataFrame(
            {
                "id_a": np.minimum(left, right),
                "id_b": np.maximum(left, right),
                "cos_sim": sims[ai, bix],
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(pair_block, schema)


# ----------------------------------------------------------------------
# IVF (inverted-file) ANN: KMeans coarse quantizer + probed exact search
# ----------------------------------------------------------------------

def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    fit_sample: float | None = None,
    max_fit_rows: int = 100_000,
    persist: bool = True,
):
    """Build an IVF index: KMeans coarse quantizer, rows tagged with
    their nearest-centroid ``cell``.

    Index-build cost is decoupled from corpus size: the quantizer fits
    on ``corpus.sample(fit_sample)`` capped at ``max_fit_rows`` (KMeans
    centroids converge on a sample; assigning the full corpus is one
    narrow pass), and the assigned table is persisted so repeated
    queries reuse it instead of re-fitting. At 100 TB write it out
    ``bucketBy(cell)`` instead (``write_ivf_index``) so probes become
    partition prunes.

    Returns ``(assigned_df, centroids)``; ``centroids`` is a plain
    ``list[list[float]]`` for broadcasting to the query side.

    The fit set is BOUNDED (``max_fit_rows``) by design, so the Lloyd
    iterations run driver-side in numpy on one bounded ``toPandas`` —
    at 100k × 64 dims that is ~50 MB of driver memory, constant in
    corpus size. A distributed fit (e.g. Spark ML KMeans) pays ~20
    scheduler round-trips for data this small and is only warranted
    when the fit set itself can't be sampled down. Assignment of the
    full corpus stays distributed: one Arrow pass, Euclidean argmin
    against broadcast centroids."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    fit_src = corpus
    if fit_sample is not None:
        fit_src = corpus.sample(fraction=fit_sample, seed=seed)
    # deterministic sample: bare limit() on an unordered frame takes
    # whichever rows the first-completing tasks supply — the fitted
    # centroids (and every downstream cell assignment) would differ
    # run to run. orderBy(id).limit plans as TakeOrdered (per-task
    # top-K + driver merge), bounded and layout-independent.
    sample = (
        fit_src.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max_fit_rows)
        .select(vec_col)
        .toPandas()
    )
    X = np.vstack(sample[vec_col].to_numpy()).astype(float)
    cent = _lloyd_fit(X, n_cells, seed)

    spark = corpus.sparkSession
    b_cent = spark.sparkContext.broadcast(cent)

    @pandas_udf(T.IntegerType())
    def assign_cell(vecs: pd.Series) -> pd.Series:
        drop_zip_finders()
        C = b_cent.value
        V = np.vstack(vecs.to_numpy()).astype(float)
        d = (
            (V * V).sum(axis=1, keepdims=True)
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * V @ C.T
        )
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), assign_cell(F.col(vec_col)).alias("cell")
    )
    if persist:
        assigned = assigned.persist()
    return assigned, [c.tolist() for c in cent]


def _lloyd_fit(
    X: "np.ndarray", k: int, seed: int, iters: int = 20
) -> "np.ndarray":
    """Seeded k-means++ init + Lloyd iterations, all via the
    |x−c|² = |x|² + |c|² − 2x·c expansion (no n×k×d broadcast)."""
    rng = np.random.RandomState(seed)
    n = X.shape[0]
    k = min(k, n)
    x2 = (X * X).sum(axis=1)
    centers = [X[rng.randint(n)]]
    # k-means++ seeding with an INCREMENTAL running min: each round
    # scores only the newest center (one n×1 matmul) and folds it into
    # the running nearest-center distance, instead of rescoring all j
    # centers picked so far (O(k²·n·d) total). Bitwise-identical to
    # the full-matrix form — min() is exact, and per-column GEMM
    # results are verified bit-equal on this BLAS for every fit shape
    # the engine uses (see tests/test_similarity_ivf.py). That GEMM
    # bit-equality is a PLATFORM-SCOPED property (r13 ADVICE): a BLAS
    # whose n×1 GEMV path rounds differently than one column of its
    # n×k GEMM could drift rng.choice probabilities and with them any
    # persisted IVF/PQ index values — the test pins the identity on
    # the deployment host, so a BLAS swap surfaces as a test failure,
    # not silent index drift.
    dmin = None
    for _ in range(1, k):
        c = np.asarray(centers[-1:])
        dnew = np.maximum(
            x2[:, None] + (c * c).sum(axis=1)[None, :] - 2.0 * X @ c.T,
            0.0,
        )[:, 0]
        dmin = dnew if dmin is None else np.minimum(dmin, dnew)
        tot = dmin.sum()
        if tot <= 0:
            centers.append(X[rng.randint(n)])
            continue
        centers.append(X[rng.choice(n, p=dmin / tot)])
    C = np.asarray(centers, dtype=float)
    for _ in range(iters):
        d = x2[:, None] + (C * C).sum(axis=1)[None, :] - 2.0 * X @ C.T
        a = d.argmin(axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def write_ivf_index(
    assigned: DataFrame, table: str, n_buckets: int | None = None
) -> None:
    """Persist an IVF assignment bucketed by cell: probe joins then
    shuffle neither side (bucket-pruned scan ⋈ broadcast probes)."""
    from magmapandas_spark.operators.dedup import _drop_table_and_dir

    _drop_table_and_dir(assigned.sparkSession, table)
    (
        assigned.write.mode("overwrite")
        .bucketBy(n_buckets or 16, "cell")
        .sortBy("cell")
        .saveAsTable(table)
    )


def ivf_topk(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Probed ANN search: each query visits its ``n_probe`` nearest
    cells only; exact cosine within the probed cells; top-k per query.

    Work drops from O(|Q|·|C|) to O(|Q|·|C|·n_probe/n_cells); the join
    is an equi-join on ``cell`` (shuffle bounded by cell sizes — the
    IVF twin of the LSH bucket join above)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    cent = np.asarray(centroids, dtype=float)
    cent_n = cent / np.maximum(
        np.linalg.norm(cent, axis=1, keepdims=True), 1e-30
    )
    spark = queries.sparkSession
    b_cent = spark.sparkContext.broadcast(cent_n)
    n_probe_eff = min(n_probe, len(centroids))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        drop_zip_finders()
        c = b_cent.value
        q = np.vstack(vecs.to_numpy()).astype(float)
        q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-30)
        sims = q @ c.T
        order = np.argsort(-sims, axis=1)[:, :n_probe_eff]
        return pd.Series(list(order.astype(np.int32)))

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    c = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
    )
    scored = (
        F.broadcast(q)
        .join(c, on="cell")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            (
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec")))
            ).alias("cos"),
        )
        # a query probing multiple cells never sees the same candidate
        # twice (cells partition the corpus), so no dedup needed
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


# ----------------------------------------------------------------------
# Seeded-codebook IVF: same probe/rescore machinery, deterministic
# expression-tier quantizer → exact cross-engine oracle
# ----------------------------------------------------------------------

def ivf_seeded(
    corpus: DataFrame,
    seed_ids: list[int],
    query_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN with a *seeded* codebook: the centroids are the corpus
    rows in ``seed_ids`` and assignment is argmax-cosine — pure Column
    expressions end to end, so the whole pipeline (quantize → probe →
    exact rescore → top-k) is bit-reproducible in any engine with IEEE
    arithmetic. This is the correctness twin of the KMeans index
    (``ivf_index``/``ivf_topk``): same probed-search plan, different
    codebook. Seeding by sampled rows instead of Lloyd iterations is a
    standard ANN bootstrap; quality is lower than a fitted codebook but
    the *search* machinery exercised is identical.

    Assignment is a crossJoin against the broadcast seed set (|seeds|
    rows) + per-row argmax. Round-11: the CORPUS side (n_keep=1) is a
    ``groupBy(cid).max(struct(scos, -seed_id))`` — the exact twin of
    the former ``scos DESC, seed_id ASC`` row_number window (the
    negated id flips the tie-break direction inside a max, and NaN
    sorts greatest under both forms), with the partial aggregate
    collapsing the |seeds|× amplification map-side so the exchange
    carries N one-row groups instead of N·|seeds| rows dragging the
    vector. The PROBE side keeps the window (n_keep>1, tiny input).
    Probing and rescoring reuse the equi-join-on-cell shape of
    :func:`ivf_topk`."""
    from pyspark.sql.types import NumericType

    # the corpus-side argmax negates seed_id arithmetically (below);
    # with a string id column that negation is null under non-ANSI
    # (silently empty assignment) or an AnalysisException under ANSI.
    # A score-side negation instead would flip NaN ordering (Spark
    # sorts NaN greatest, so a NaN cosine is "best" under the window
    # twin but "worst" under min(-scos)). Numeric ids are the
    # declared contract (seed_ids: list[int]) — enforce it loudly.
    id_type = corpus.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            f"ivf_seeded requires a numeric id column; {id_col!r} is "
            f"{id_type.simpleString()} (the corpus assignment's "
            "tie-break negates the id inside a max(struct) aggregate)"
        )
    seeds = corpus.filter(F.col(id_col).isin(seed_ids)).select(
        F.col(id_col).alias("seed_id"), F.col(vec_col).alias("svec")
    )

    def _scored(df, idname, vecname):
        return df.crossJoin(F.broadcast(seeds)).select(
            F.col(idname),
            F.col(vecname),
            F.col("seed_id"),
            (
                _dot(F.col(vecname), F.col("svec"))
                / (_norm(F.col(vecname)) * _norm(F.col("svec")))
            ).alias("scos"),
        )

    def argmax_cells(df, idname, vecname, n_keep):
        scored = _scored(df, idname, vecname)
        w = Window.partitionBy(idname).orderBy(
            F.col("scos").desc(), F.col("seed_id")
        )
        return (
            scored.withColumn("srn", F.row_number().over(w))
            .filter(F.col("srn") <= n_keep)
            .select(idname, vecname, F.col("seed_id").alias("cell"))
        )

    corpus_scored = _scored(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")),
        "cid", "cvec",
    )
    # all |seeds| cvec copies of a cid are identical — first() is
    # deterministic (same convention as ivf_topk_fitted)
    assigned = (
        corpus_scored.groupBy("cid")
        .agg(
            F.max(
                F.struct(
                    F.col("scos"), (-F.col("seed_id")).alias("nseed")
                )
            ).alias("m"),
            F.first("cvec").alias("cvec"),
        )
        .select("cid", "cvec", (-F.col("m.nseed")).alias("cell"))
    )
    probes = argmax_cells(
        corpus.filter(query_pred).select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
        ),
        "qid", "qvec", n_probe,
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, on="cell")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            (
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec")))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


_IVF_SEED_IDS = [100, 101, 102, 103, 104, 105, 106, 107]


def q_ivf_topk_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_seeded(
        emb, _IVF_SEED_IDS, F.col("vec_id") < 20, k=5, n_probe=4
    )
    return (
        out.select("qid", "rn", "cid", F.round("cos", 4).alias("cos"))
        .orderBy("qid", "rn").drop("rn")
    )


def _sql_dot(a: str, b: str, dim: int = 64) -> str:
    """Left-associated fold matching Spark's F.aggregate order exactly
    (including the 0.0 seed, so a leading -0.0 product cannot flip the
    sign of an all-zero sum)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"(0.0 + {terms})"


def _sql_cos(a: str, b: str, dim: int = 64) -> str:
    return (
        f"({_sql_dot(a, b, dim)} / "
        f"(SQRT({_sql_dot(a, a, dim)}) * SQRT({_sql_dot(b, b, dim)})))"
    )


def sql_ivf_topk_seeded(
    dim: int = 64, k: int = 5, n_probe: int = 4
) -> str:
    ids = ", ".join(str(i) for i in _IVF_SEED_IDS)
    return f"""
WITH seeds AS (
  SELECT vec_id AS seed_id, embedding AS svec
  FROM embeddings WHERE vec_id IN ({ids})
),
assigned AS (
  SELECT cid, cvec, seed_id AS cell FROM (
    SELECT e.vec_id AS cid, e.embedding AS cvec, s.seed_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 's.svec', dim)} DESC,
                      s.seed_id
           ) AS srn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE srn = 1
),
probes AS (
  SELECT qid, qvec, seed_id AS cell FROM (
    SELECT e.vec_id AS qid, e.embedding AS qvec, s.seed_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 's.svec', dim)} DESC,
                      s.seed_id
           ) AS srn
    FROM embeddings e CROSS JOIN seeds s
    WHERE e.vec_id < 20
  ) WHERE srn <= {n_probe}
),
cand AS (
  SELECT p.qid, a.cid,
         {_sql_cos('p.qvec', 'a.cvec', dim)} AS cos
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE p.qid <> a.cid
)
SELECT qid, cid, ROUND(cos, 4) AS cos FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY cos DESC, cid) AS rn
  FROM cand
) WHERE rn <= {k}
ORDER BY qid, rn
"""


# gate parameters for the LSH ANN query: small enough that the DuckDB
# twin's unrolled signature expressions stay tractable, large enough to
# exercise multi-table bucket union + rescore
_LSH_DIM = 64
_LSH_PLANES = 8
_LSH_TABLES = 2
_LSH_SEED = 7


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN gate query: 20 query vectors against
    the full embeddings corpus, 2 tables x 8 planes (seed 7),
    union-of-bucket candidates, exact cosine rescore, top-5.

    The hyperplanes are seeded literals, so the identical pipeline is
    expressible in the DuckDB oracle (:func:`sql_lsh_topk`): signature
    bits come from sign tests on the same left-associated double fold,
    hence are bit-identical across engines, and the rescore reuses the
    proven ``_sql_cos`` fold."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_topk_lsh(
        emb.filter(F.col("vec_id") < 20),
        emb,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        dim=_LSH_DIM,
        n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES,
        seed=_LSH_SEED,
    )
    return (
        out.select("qid", "rn", "cid", F.round("cos", 4).alias("cos"))
        .orderBy("qid", "rn").drop("rn")
    )


def _sql_sig(vec: str, table: int, dim: int, n_planes: int, seed: int) -> str:
    """SQL twin of ``cosine_topk_lsh``'s per-table signature: each bit is
    the sign test of the same 0.0-seeded left fold; the packed integer
    accumulates ``sig*2 + bit`` exactly like the Column expression."""
    planes = _hyperplanes(dim, n_planes, seed + table)
    bits = []
    for plane in planes:
        terms = " + ".join(
            f"CAST({vec}[{i}] AS DOUBLE) * CAST({plane[i - 1]!r} AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        bits.append(f"(CASE WHEN (0.0 + {terms}) >= 0 THEN 1 ELSE 0 END)")
    weighted = " + ".join(
        f"{b} * {1 << (len(bits) - 1 - j)}" for j, b in enumerate(bits)
    )
    return f"({weighted})"


def sql_lsh_topk(
    dim: int = _LSH_DIM,
    n_planes: int = _LSH_PLANES,
    n_tables: int = _LSH_TABLES,
    seed: int = _LSH_SEED,
    k: int = 5,
) -> str:
    sig_cols = ",\n    ".join(
        f"{_sql_sig('embedding', t, dim, n_planes, seed)} AS sig{t}"
        for t in range(n_tables)
    )
    buckets = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS tbl, sig{t} AS sig FROM sigs"
        for t in range(n_tables)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id,
    {sig_cols}
  FROM embeddings
),
buckets AS (
{buckets}
),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.sig = c.sig
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.qid, cand.cid,
         {_sql_cos('qe.embedding', 'ce.embedding', dim)} AS cos
  FROM cand
  JOIN embeddings qe ON cand.qid = qe.vec_id
  JOIN embeddings ce ON cand.cid = ce.vec_id
)
SELECT qid, cid, ROUND(cos, 4) AS cos FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY cos DESC, cid) AS rn
  FROM scored
) WHERE rn <= {k}
ORDER BY qid, rn
"""


# ----------------------------------------------------------------------
# Fitted-codebook IVF gate query with an EXACT oracle
# ----------------------------------------------------------------------
# The production path above (ivf_index/ivf_topk) assigns cells inside a
# numpy pandas-UDF — BLAS summation order is engine-private, so it can
# only ever be a rows-only gate. For the correctness gate the fit is
# made a *pure function of the data*: a deterministic fit sample
# (ORDER BY vec_id LIMIT n — a top-k, not a full sort, at scale), a
# seeded driver-side Lloyd, and then **expression-tier** assignment /
# probing over the fitted centroids as literals: every distance is the
# same 0.0-seeded left fold in Spark and DuckDB, so the whole
# quantize → probe → rescore → top-k pipeline is bit-reproducible —
# the same literal-inlining trick as the LSH hyperplanes and the HP
# spline knots.

_IVF_GATE_CELLS = 8
_IVF_GATE_SEED = 42
_IVF_GATE_FIT_ROWS = 4096


def ivf_fit_centroids(
    sf_dir: str,
    n_cells: int = _IVF_GATE_CELLS,
    seed: int = _IVF_GATE_SEED,
    max_fit_rows: int = _IVF_GATE_FIT_ROWS,
) -> list[list[float]]:
    """Deterministic KMeans codebook for the gate: fit rows are the
    first ``max_fit_rows`` vectors by ``vec_id`` (duckdb read — no
    SparkSession needed, so ``oracle_sql()`` can call this too), Lloyd
    is seeded numpy. Cached: the Spark query and its oracle both see
    the identical centroid floats."""
    key = (sf_dir, n_cells, seed, max_fit_rows)
    if key not in _IVF_FIT_CACHE:
        import duckdb

        con = duckdb.connect()
        sample = con.execute(
            f"SELECT embedding FROM read_parquet("
            f"'{sf_dir}/embeddings.parquet') "
            f"ORDER BY vec_id LIMIT {max_fit_rows}"
        ).fetchdf()
        con.close()
        X = np.vstack(sample["embedding"].to_numpy()).astype(float)
        cent = _lloyd_fit(X, n_cells, seed)
        _IVF_FIT_CACHE[key] = [[float(v) for v in c] for c in cent]
    return _IVF_FIT_CACHE[key]


_IVF_FIT_CACHE: dict[tuple, list[list[float]]] = {}


def _dist2(a, b):
    """Squared Euclidean distance as an explicitly ordered left fold
    (ascending index, 0.0 seed) — the assignment metric of the KMeans
    quantizer, reproducible verbatim in SQL."""
    sq = F.zip_with(
        a, b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)


def ivf_topk_fitted(
    corpus: DataFrame,
    centroids: list[list[float]],
    query_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Probed IVF search against a fitted codebook, expression tier.

    Same plan shape as :func:`ivf_seeded` (broadcast codebook
    crossJoin → per-row arg-best window → equi-join on cell → exact
    cosine rescore → top-k window), but cells come from the *fitted*
    Lloyd centroids and both assignment and probing use Euclidean
    argmin — the KMeans metric. n_cells literal 64-d folds per row run
    inside whole-stage codegen; no Arrow exchange anywhere.

    (A scan-local `array_min` assignment — the semdedup/lloyd_refine
    shape — was A/B-measured here in round 6 and LOST to this form at
    sf0.1: the window over N×k narrow rows is cheap at this k, and
    the fused 8×64-literal fold array pushed the projection out of
    whole-stage codegen. Re-measured in round 11: still loses, 2.77 s
    vs 1.83 s. semdedup keeps the array_min form because its
    assignment feeds a persist consumed three times, where the
    single-pass projection wins.)

    Round 11: the CORPUS assignment (n_keep=1) switched from the
    row_number window to ``groupBy(cid).agg(min(struct(sd, cell)))``
    — hash-identical output (struct ordering = sd asc, cell asc, the
    window's exact sort key), but the partial aggregation collapses
    the 8× crossJoin amplification MAP-SIDE, so the exchange carries
    N one-row groups instead of 8N rows each dragging the 64-double
    vector. 8× less shuffle at any scale; sf0.1 A/B min-of-3
    2.01 → 1.83 s. The PROBE side keeps the window: n_keep>1 has no
    single-struct aggregate twin and the probe set is tiny."""
    spark = corpus.sparkSession
    seeds = spark.createDataFrame(
        [(j, c) for j, c in enumerate(centroids)],
        "cell int, svec array<double>",
    )

    def _cell_scored(df, idname, vecname):
        # shared by corpus assignment and probe selection so the two
        # sides can never drift apart on the distance expression
        return df.crossJoin(F.broadcast(seeds)).select(
            F.col(idname),
            F.col(vecname),
            F.col("cell"),
            _dist2(F.col(vecname), F.col("svec")).alias("sd"),
        )

    def argmin_cells(df, idname, vecname, n_keep):
        scored = _cell_scored(df, idname, vecname)
        w = Window.partitionBy(idname).orderBy(
            F.col("sd").asc(), F.col("cell")
        )
        return (
            scored.withColumn("srn", F.row_number().over(w))
            .filter(F.col("srn") <= n_keep)
            .select(idname, vecname, "cell")
        )

    corpus_scored = _cell_scored(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")),
        "cid", "cvec",
    )
    # all 8 cvec copies of a cid are identical (crossJoin fan-out of
    # one row), so first() is deterministic here
    assigned = (
        corpus_scored.groupBy("cid")
        .agg(
            F.min(F.struct("sd", "cell")).alias("m"),
            F.first("cvec").alias("cvec"),
        )
        .select("cid", "cvec", F.col("m.cell").alias("cell"))
    )
    probes = argmin_cells(
        corpus.filter(query_pred).select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
        ),
        "qid", "qvec", n_probe,
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, on="cell")
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            (
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec")))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the embeddings table: 20 query vectors, 8 fitted
    cells, 4 probes — EXACT gate since round 3: deterministic fit
    sample → cached Lloyd centroids → expression-tier probed search
    (see the module comment above; oracle = :func:`sql_ivf_topk`).
    Recall vs brute force of the production pandas-UDF path is
    asserted separately in tests."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf_fit_centroids(sf_dir)
    out = ivf_topk_fitted(
        emb, centroids, F.col("vec_id") < 20, k=5, n_probe=4
    )
    return (
        out.select("qid", "rn", "cid", F.round("cos", 4).alias("cos"))
        .orderBy("qid", "rn").drop("rn")
    )


def _sql_dist2_lit(vec: str, cent: list[float]) -> str:
    """SQL twin of ``_dist2`` against a literal centroid: identical
    term order and association, centroid components as exact reprs."""
    terms = " + ".join(
        f"(CAST({vec}[{i}] AS DOUBLE) - CAST({cent[i - 1]!r} AS DOUBLE))"
        f" * (CAST({vec}[{i}] AS DOUBLE) - CAST({cent[i - 1]!r} AS DOUBLE))"
        for i in range(1, len(cent) + 1)
    )
    return f"(0.0 + {terms})"


def sql_ivf_topk(
    sf_dir: str | None = None,
    dim: int = 64,
    k: int = 5,
    n_probe: int = 4,
) -> str:
    """DuckDB twin of :func:`q_ivf_topk`. The centroids are inlined as
    literals from the SAME cached deterministic fit the Spark query
    uses; assignment/probing replay the Euclidean-argmin windows and
    the rescore reuses the proven ``_sql_cos`` fold. ``sf_dir``
    defaults to ``$SPARK_GRAFT_SF_DIR`` (the sweep override) and then
    the driver's sf0.01 gate directory."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    centroids = ivf_fit_centroids(sf_dir)
    dist_cases = {
        j: _sql_dist2_lit("e.embedding", c) for j, c in enumerate(centroids)
    }
    seed_rows = " UNION ALL ".join(
        f"SELECT e.vec_id, {j} AS cell, {d} AS sd FROM embeddings e"
        for j, d in dist_cases.items()
    )
    return f"""
WITH dists AS ({seed_rows}),
assigned AS (
  SELECT vec_id AS cid, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY sd ASC, cell) AS srn
    FROM dists
  ) WHERE srn = 1
),
probes AS (
  SELECT vec_id AS qid, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY sd ASC, cell) AS srn
    FROM dists WHERE vec_id < 20
  ) WHERE srn <= {n_probe}
),
cand AS (
  SELECT p.qid, a.cid,
         {_sql_cos('qe.embedding', 'ce.embedding', dim)} AS cos
  FROM probes p
  JOIN assigned a ON p.cell = a.cell AND p.qid <> a.cid
  JOIN embeddings qe ON p.qid = qe.vec_id
  JOIN embeddings ce ON a.cid = ce.vec_id
)
SELECT qid, cid, ROUND(cos, 4) AS cos FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY cos DESC, cid) AS rn
  FROM cand
) WHERE rn <= {k}
ORDER BY qid, rn
"""


# ----------------------------------------------------------------------
# SemDeDup — semantic deduplication via cluster-then-compare (Abbas et
# al. 2023, "SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication"): k-means-cluster the embeddings, compare
# pairs ONLY within a cluster, and keep one representative per
# near-duplicate relation. Clustering is what makes semantic dedup
# scale — O(N²/k) within-cell pairs instead of N² (at 100 TB the cells
# come from write_ivf_index's bucketBy layout, so the self-join is
# co-located and shuffle-free).
# ----------------------------------------------------------------------


#: row-block height of the per-cell Gram kernel: memory per task is
#: bounded to _SEMDEDUP_BLOCK × |group| doubles (plus the group's own
#: vectors) no matter how wide a cell grows
_SEMDEDUP_BLOCK = 4096

#: unguarded-cell loudness bound: with ``max_cell_rows=None`` a whole
#: cell lands on ONE task; past this population the Gram blocks alone
#: are ≥ ~1 GiB (_SEMDEDUP_BLOCK × n doubles) and the executor is on
#: an OOM trajectory — the kernel warns (executor stderr) so the
#: failure mode is named before it kills the worker
_SEMDEDUP_UNSHARDED_WARN_ROWS = 32_768


def semdedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Per-vector SemDeDup verdict against a fitted coarse codebook.

    ``materialize=False`` returns the LAZY verdict plan — no eager
    localCheckpoint AND no persist (a persist with no paired
    unpersist would leak for the session's lifetime; compose into a
    pipeline that manages its own caching, or accept the assignment
    recomputing per consumer). Used by the plan-invariant tests to
    pin the join/aggregation shape, which the default eager
    checkpoint otherwise hides.

    Assignment is a scan-local argmin fold against the literal
    centroids (array_min over (sd, cell) structs — no crossJoin, no
    per-vector window; A/B-measured 2× faster here because the
    persisted assignment feeds three consumers); the within-cell self-join
    compares each pair once (``id_a < id_b``) with the fixed-order
    cosine fold, so the ≥-threshold decision is bit-identical in the
    SQL twin. Keep policy is the deterministic dominated-by-smaller-id
    rule (drop a vector iff SOME smaller-id vector in its cell is
    ≥ threshold similar) — pair-local, one aggregation, no iterative
    transitive closure (chains route through connected_components when
    cluster-exact grouping is needed).

    Scale contract — the within-cell pair space is O(Σ cell²), so the
    codebook must grow with the corpus (the paper's k ∝ N). Because a
    FIXED codebook silently turns linear growth into quadratic pair
    volume, ``max_cell_rows`` bounds it: cells whose population
    exceeds the bound are deterministically split into
    ``ceil(cnt / max_cell_rows)`` sub-cells by a hash of the vector id
    (and a warning names them — the signal to refit with larger k).
    Pairs are then compared within (cell, sub-cell) only: a
    documented approximation that can only MISS duplicate pairs,
    never invent them, so ``keep`` verdicts are a superset of the
    unsharded run's (tests pin this). ``None`` disables the guard for
    exact parity with the full within-cell comparison.

    The within-cell comparison is a per-group dense-block kernel
    (``applyInPandas``): each (cell[, sub]) group stacks its vectors
    into one float64 matrix and accumulates the Gram block
    dimension-by-dimension in ascending-j order — the SAME products
    and the SAME left-associated additions (0.0 seed) as the previous
    ``F.aggregate`` pair fold and as the SQL twin's explicit sum, so
    every ≥-threshold decision is bit-identical (numpy does not fuse
    a separate multiply and add). The neighbor count AND the
    dominance verdict are computed inside the group (a vector's
    neighbors are by construction in its own group), which replaces
    the former pair self-join + union + aggregation + output join
    with a single grouped stage — A/B-measured 3× faster at sf0.1
    with verdict-identical output. Memory per task is bounded to
    ``_SEMDEDUP_BLOCK × |group|`` cos entries regardless of group
    width; pair COMPUTE is still O(|group|²) — that is the guard's
    job (``max_cell_rows`` bounds |group|, and at 100 TB one
    (cell, sub) group per task with many groups is the parallelism).

    Returns (vec_id, cell, n_dup_neighbors, keep) for every corpus
    vector."""
    # Scan-local argmin assignment: distances to the k literal
    # centroids fold inside the scan projection and array_min picks
    # the (sd, cell)-lexicographic minimum — the SAME verdict (values
    # and tie-break) the SQL twin's ROW_NUMBER(ORDER BY sd, cell)
    # computes, with NO crossJoin and NO per-vector sort window (the
    # round-6 rewrite dropped an N×k shuffle+sort from this path; the
    # kmeans.lloyd_refine assignment shape).
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _dist2(
                        F.col("v"),
                        F.array(*[F.lit(float(x)) for x in c]),
                    ).alias("sd"),
                    F.lit(j).alias("cell"),
                )
                for j, c in enumerate(centroids)
            ]
        )
    )
    # The norm is a per-VECTOR quantity — fold it here (N folds), not
    # inside the pair kernel (N²/k folds); same IEEE value either
    # way, so the SQL twin's inline sqrt(dot(b,b)) still matches.
    # Persist only when the plan has TWO consumers (the sharded
    # path's population count + the grouped kernel); the plain path
    # reads base exactly once, inside the group shuffle's map stage.
    base = (
        corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .select("vid", "v", best["cell"].alias("cell"),
                _norm(F.col("v")).alias("nrm"))
    )
    persisted = None
    assigned = base
    join_keys = ["cell"]
    if max_cell_rows is not None:
        import warnings

        from magmapandas_spark.operators.dedup import _md5_60

        if max_cell_rows < 1:
            raise ValueError("max_cell_rows must be ≥ 1")
        if materialize:
            base = persisted = base.persist()
        counts = base.groupBy("cell").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # ≤ n_cells rows — a constant-bounded driver collect (the
        # max_fit_rows discipline), used both for the warning and so
        # the broadcast below is trivially small
        rows = counts.collect()
        over = sorted(
            (r["cell"], r["cnt"]) for r in rows if r["cnt"] > max_cell_rows
        )
        if over:
            warnings.warn(
                "semdedup: cells exceed max_cell_rows="
                f"{max_cell_rows} and were hash-split into sub-cells "
                f"(cell, population): {over} — near-duplicate pairs "
                "across sub-cells of one cell are NOT compared; refit "
                "the codebook with larger k (k ∝ N) to restore full "
                "within-cell coverage",
                stacklevel=2,
            )
        n_sub = F.expr(f"(cnt + {max_cell_rows - 1}) div {max_cell_rows}")
        sub_map = counts.select("cell", n_sub.alias("n_sub"))
        assigned = base.join(F.broadcast(sub_map), on="cell").select(
            "vid", "v", "cell", "nrm",
            F.pmod(
                _md5_60(F.col("vid").cast("string")), F.col("n_sub")
            ).alias("sub"),
        )
        join_keys = ["cell", "sub"]
    thr = float(threshold)

    guarded = max_cell_rows is not None

    def cell_verdict(pdf):
        if not guarded and len(pdf) > _SEMDEDUP_UNSHARDED_WARN_ROWS:
            import warnings as _w

            _w.warn(
                f"semdedup: unguarded cell of {len(pdf)} rows on one "
                "task (max_cell_rows=None disables the hash-split "
                "guard) — set max_cell_rows or refit the codebook "
                "with larger k before this OOMs an executor",
                stacklevel=2,
            )
        # float64 up front: elementwise float32→float64 is exact, so
        # the products below equal Spark's cast-then-multiply
        X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = pdf["nrm"].to_numpy()
        vv = pdf["vid"].to_numpy()
        n, dim = X.shape
        n_dup = np.zeros(n, dtype="int64")
        dominated = np.zeros(n, dtype=bool)
        # dense Gram blocks, accumulated dimension-by-dimension in
        # ascending-j order: each entry is ((0.0 + x0·y0) + x1·y1) + …
        # — the identical product and addition sequence of the old
        # F.aggregate fold and the SQL twin, so every ≥-threshold
        # comparison lands on the same side. Block rows bound memory
        # to _SEMDEDUP_BLOCK × n regardless of group width.
        for start in range(0, n, _SEMDEDUP_BLOCK):
            blk = slice(start, min(start + _SEMDEDUP_BLOCK, n))
            G = np.zeros((blk.stop - start, n))
            for j in range(dim):
                cj = X[:, j]
                G = G + cj[blk][:, None] * cj[None, :]
            cos = G / (nrm[blk][:, None] * nrm[None, :])
            # a partner is any OTHER id in the group (strict id
            # inequality — duplicate-id rows never pair, matching the
            # old id_a < id_b pair construction); dominated iff some
            # strictly-smaller id is ≥ threshold similar
            # NaN (a zero-norm vector's cosine) sorts ABOVE every
            # double in both Spark and DuckDB comparisons — numpy
            # says False; mirror the engines
            hit = (np.isnan(cos) | (cos >= thr)) & (
                vv[None, :] != vv[blk][:, None]
            )
            n_dup[blk] = hit.sum(axis=1)
            dominated[blk] = (
                hit & (vv[None, :] < vv[blk][:, None])
            ).any(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf["vid"],
                "cell": pdf["cell"],
                "n_dup_neighbors": n_dup,
                "keep": ~dominated,
            }
        )

    vid_type = dict(base.dtypes)["vid"]
    out = assigned.groupBy(*join_keys).applyInPandas(
        cell_verdict,
        f"`{id_col}` {vid_type}, cell int, "
        "n_dup_neighbors long, keep boolean",
    )
    # materialize the (narrow, vector-free) verdict relation, sever
    # lineage, release the assignment cache — the dedup.py
    # convention: repeated calls in a long-lived session must not
    # accumulate cached tables until LRU pressure
    if materialize:
        out = out.localCheckpoint(eager=True)
        if persisted is not None:
            persisted.unpersist()
    return out


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: SemDeDup over the embeddings table — 8 fitted
    cells (the cached deterministic Lloyd codebook the IVF gates
    share), cosine ≥ 0.45 within-cell pairs, dominated-by-smaller-id
    keep rule. Cell assignment, neighbor counts, and every keep/drop
    verdict sit under the hash."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf_fit_centroids(sf_dir)
    return semdedup(emb, centroids).orderBy("vec_id")


#: gate bound for the sharded SemDeDup: small enough that the 8-cell
#: codebook OVERFLOWS at every test SF (≈62 rows/cell at sf0.01), so
#: the guard's hash-split actually executes under the hash
_SEMDEDUP_GATE_MCR = 48


def q_semdedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: SemDeDup WITH the cell-population guard active
    (max_cell_rows=48 over the same 8-cell codebook, which every cell
    exceeds) — the deterministic hash-split, the sub-cell-bounded pair
    comparison, and every resulting keep/drop verdict sit under the
    hash. This is the 100 TB posture: pair volume is bounded per
    sub-cell no matter how far the corpus outgrows a fixed codebook."""
    import warnings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf_fit_centroids(sf_dir)
    with warnings.catch_warnings():
        # the overflow warning is the point of this gate — expected
        warnings.simplefilter("ignore")
        out = semdedup(
            emb, centroids, max_cell_rows=_SEMDEDUP_GATE_MCR
        )
    return out.orderBy("vec_id")


def sql_semdedup(
    sf_dir: str | None = None,
    dim: int = 64,
    threshold: float = 0.45,
    max_cell_rows: int | None = None,
) -> str:
    """DuckDB twin of :func:`q_semdedup`: same literal centroids from
    the cached fit, same argmin window, same fixed-order cosine fold,
    same ≥-threshold and dominance aggregation. With ``max_cell_rows``
    it also replays the cell-population guard's deterministic
    hash-split (so the sharded gate verifies the guard itself)."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    centroids = ivf_fit_centroids(sf_dir)
    dist_rows = " UNION ALL ".join(
        f"SELECT e.vec_id, {j} AS cell, "
        f"{_sql_dist2_lit('e.embedding', c)} AS sd FROM embeddings e"
        for j, c in enumerate(centroids)
    )
    if max_cell_rows is None:
        shard_ctes = ""
        pair_src = "assigned"
        sub_cond = ""
    else:
        mcr = int(max_cell_rows)
        shard_ctes = f"""
counts AS (SELECT cell, COUNT(*) AS cnt FROM assigned GROUP BY cell),
sharded AS (
  SELECT a.vec_id, a.cell,
         ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT
           % ((c.cnt + {mcr - 1}) // {mcr}) AS sub
  FROM assigned a JOIN counts c ON a.cell = c.cell
),"""
        pair_src = "sharded"
        sub_cond = " AND a.sub = b.sub"
    return f"""
WITH dists AS ({dist_rows}),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY sd ASC, cell) AS srn
    FROM dists
  ) WHERE srn = 1
),{shard_ctes}
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_sql_cos('ea.embedding', 'eb.embedding', dim)} AS cos
  FROM {pair_src} a
  JOIN {pair_src} b ON a.cell = b.cell{sub_cond} AND a.vec_id < b.vec_id
  JOIN embeddings ea ON a.vec_id = ea.vec_id
  JOIN embeddings eb ON b.vec_id = eb.vec_id
),
dup AS (SELECT id_a, id_b FROM pairs WHERE cos >= {threshold!r}),
nbrs AS (
  SELECT id_a AS vid, id_b AS nb FROM dup
  UNION ALL
  SELECT id_b AS vid, id_a AS nb FROM dup
),
stats AS (
  SELECT vid, COUNT(*) AS n_dup_neighbors,
         MAX(CASE WHEN nb < vid THEN 1 ELSE 0 END) = 1 AS dominated
  FROM nbrs GROUP BY vid
)
SELECT a.vec_id, a.cell,
       COALESCE(s.n_dup_neighbors, 0) AS n_dup_neighbors,
       NOT COALESCE(s.dominated, FALSE) AS keep
FROM assigned a LEFT JOIN stats s ON a.vec_id = s.vid
ORDER BY a.vec_id
"""


# ----------------------------------------------------------------------
# Product quantization (PQ) — the compressed-vector ANN standard at
# 100 TB scale (Jégou et al. 2011): vectors are split into M subspaces,
# each quantized to a small per-subspace codebook, and distances are
# approximated from the M codes via asymmetric distance computation
# (ADC). Storage per vector drops from d floats to M small ints — the
# property that lets a billion-vector index fit in memory.
#
# Two forms, same discipline as IVF:
# - pq_seeded: codebook = corpus rows (literal seed ids), encode and
#   ADC are pure Column expressions with fixed-order left folds → the
#   whole pipeline has an exact DuckDB twin (gate vehicle);
# - pq_encode_arrow: the production encode — one mapInPandas pass with
#   the codebook broadcast as numpy, O(N·M·ksub) vectorized argmin,
#   unit-tested to agree exactly with the relational encode.
# ----------------------------------------------------------------------

def _subdist(a, b, m: int, dsub: int = 8):
    """Squared L2 over subspace m (dims m·dsub+1..(m+1)·dsub, 1-based
    slice) — 0.0-seeded left fold, bit-matching the SQL twin."""
    sa = F.slice(a, m * dsub + 1, dsub)
    sb = F.slice(b, m * dsub + 1, dsub)
    d = F.zip_with(
        sa, sb,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v)


def pq_seeded(
    corpus: DataFrame,
    seed_ids: list[int],
    query_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 8,
    dsub: int = 8,
    k: int = 5,
) -> DataFrame:
    """PQ ANN with a seeded codebook (centroids = the corpus rows in
    ``seed_ids``, shared across subspaces — the sampled-rows bootstrap;
    a Lloyd-fitted codebook improves recall but exercises identical
    search machinery).

    Encode: one crossJoin against the broadcast seed set, exploded over
    subspaces, argmin-window per (vector, subspace) → M codes per
    vector, pivoted to columns. ADC: queries cross the (tiny-per-row)
    code relation; the approximate distance is a FIXED-ORDER sum of M
    subspace lookups, so no float ever sums in partition order.

    Returns (qid, cid, adc, rn ≤ k)."""
    seeds = corpus.filter(F.col(id_col).isin(seed_ids)).select(
        F.col(id_col).alias("seed_id"), F.col(vec_col).alias("svec")
    )
    base = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    long = (
        base.crossJoin(F.broadcast(seeds))
        .select(
            "cid", "seed_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(m).alias("m"),
                        _subdist(
                            F.col("cvec"), F.col("svec"), m, dsub
                        ).alias("sd"),
                    )
                    for m in range(n_sub)
                ])
            ).alias("e"),
        )
        .select("cid", "seed_id", F.col("e.m").alias("m"),
                F.col("e.sd").alias("sd"))
    )
    # Round-11 (the ivf_topk rewrite applied here too): the per-
    # (vector, subspace) argmin is a groupBy min(struct(sd, seed_id))
    # — identical verdict and tie-break as the former
    # row_number-over-(sd, seed_id) window, but the PARTIAL aggregate
    # collapses the |seeds|× crossJoin amplification map-side, so the
    # exchange carries N·M one-row groups instead of N·M·|seeds| rows
    # (16× less at the gate codebook). ONE broadcast join then
    # attaches the winning centroid vector while the relation is
    # still long-form, and a single pivot aggregation produces both
    # the code columns and the centroid-vector columns — exactly one
    # non-null (m == j) row per group feeds each first(when(...)), so
    # the ignorenulls-first is deterministic. (History: pivot first
    # then 8 sequential broadcast joins — 8 extra plan stages — was
    # replaced by the long-form join in r6; the window by this
    # aggregate in r11.)
    winners = (
        long.groupBy("cid", "m")
        .agg(F.min(F.struct("sd", "seed_id")).alias("wmin"))
        .select("cid", "m", F.col("wmin.seed_id").alias("seed_id"))
        .join(F.broadcast(seeds), on="seed_id")
    )
    codes = winners.groupBy("cid").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("seed_id"))).alias(
                f"c{m}"
            )
            for m in range(n_sub)
        ],
        *[
            F.first(
                F.when(F.col("m") == m, F.col("svec")),
                ignorenulls=True,
            ).alias(f"s{m}")
            for m in range(n_sub)
        ],
    )
    q = corpus.filter(query_pred).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    adc = _subdist(F.col("qvec"), F.col("s0"), 0, dsub)
    for m in range(1, n_sub):
        adc = adc + _subdist(F.col("qvec"), F.col(f"s{m}"), m, dsub)
    scored = (
        F.broadcast(q)
        .crossJoin(codes)
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", adc.alias("adc"))
    )
    wk = Window.partitionBy("qid").orderBy("adc", "cid")
    return scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= k
    )


def pq_encode_arrow(
    corpus: DataFrame,
    codebook,  # numpy (ksub, d) — sub-sliced per subspace
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 8,
    dsub: int = 8,
) -> DataFrame:
    """Production PQ encode: one Arrow pass, vectorized argmin against
    the broadcast codebook — the O(N·ksub·d) shape that encodes a
    100 TB corpus scan-locally (codes are M small ints per vector; at
    ksub ≤ 256 that is M bytes). Ties broken toward the lowest
    codebook row, matching the relational encode exactly."""
    from pyspark.sql import types as T

    cb = np.asarray(codebook, dtype=np.float64)
    schema = T.StructType(
        [T.StructField(id_col, T.LongType())]
        + [T.StructField(f"c{m}", T.IntegerType()) for m in range(n_sub)]
    )

    def fn(batches):
        for pdf in batches:
            vecs = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = {id_col: pdf[id_col].to_numpy()}
            for m in range(n_sub):
                sl = slice(m * dsub, (m + 1) * dsub)
                # (N, ksub) squared distances in subspace m
                diff = vecs[:, None, sl] - cb[None, :, sl]
                d2 = (diff * diff).sum(axis=2)
                out[f"c{m}"] = d2.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col).mapInPandas(fn, schema=schema)


_PQ_SEED_IDS = [200 + 7 * i for i in range(16)]


def q_pq_topk_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: PQ/ADC top-5 for the first 20 query vectors, seeded
    16-row codebook — encode, code pivot and the asymmetric distance
    all under the hash."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pq_seeded(emb, _PQ_SEED_IDS, F.col("vec_id") < 20, k=5)
    return (
        out.select("qid", "rn", "cid", F.round("adc", 4).alias("adc"))
        .orderBy("qid", "rn").drop("rn")
    )


def _sql_subdist(a: str, b: str, m: int, dsub: int = 8) -> str:
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(m * dsub + 1, (m + 1) * dsub + 1)
    )
    return f"(0.0 + {terms})"


def sql_pq_topk_seeded(
    n_sub: int = 8, dsub: int = 8, k: int = 5
) -> str:
    ids = ", ".join(str(i) for i in _PQ_SEED_IDS)
    code_blocks = " UNION ALL ".join(
        f"""SELECT cid, {m} AS m, seed_id FROM (
      SELECT e.vec_id AS cid, s.seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_subdist('e.embedding', 's.svec', m, dsub)},
                        s.seed_id
             ) AS rn
      FROM embeddings e CROSS JOIN seeds s
    ) WHERE rn = 1"""
        for m in range(n_sub)
    )
    piv = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN seed_id END) AS c{m}"
        for m in range(n_sub)
    )
    joins = " ".join(
        f"JOIN seeds s{m} ON cp.c{m} = s{m}.seed_id"
        for m in range(n_sub)
    )
    adc = " + ".join(
        _sql_subdist("q.qvec", f"s{m}.svec", m, dsub)
        for m in range(n_sub)
    )
    return f"""
WITH seeds AS (
  SELECT vec_id AS seed_id, embedding AS svec
  FROM embeddings WHERE vec_id IN ({ids})
),
codes AS ({code_blocks}),
cp AS (SELECT cid, {piv} FROM codes GROUP BY cid),
q AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id < 20
),
scored AS (
  SELECT q.qid, cp.cid, ({adc}) AS adc
  FROM q CROSS JOIN cp {joins}
  WHERE q.qid <> cp.cid
),
ranked AS (
  SELECT qid, cid, adc,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn
  FROM scored
)
SELECT qid, cid, ROUND(adc, 4) AS adc
FROM ranked WHERE rn <= {k}
ORDER BY qid, rn
"""


# ----------------------------------------------------------------------
# IVF-PQ: the composed production index (FAISS IVFPQ shape, Jégou et
# al. 2011) — coarse quantizer prunes cells, residual PQ codes score
# candidates from M small ints per vector. This is the memory-bounded
# form a billion-vector deployment actually ships: the probed search
# touches codes (M bytes/vector), never raw vectors.
#
# Correctness posture: the numpy fit/LUT path is engine-specific, so
# this is a bench/recall surface (like minhash_lsh_xxhash) — the
# machinery's exactness is carried by its two relational twins,
# ivf_topk_seeded (probe/rescore) and pq_topk_seeded (encode/ADC),
# both hash-checked against DuckDB.
# ----------------------------------------------------------------------

def ivfpq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_sub: int = 8,
    dsub: int = 8,
    ksub: int = 64,
    seed: int = 42,
    max_fit_rows: int = 100_000,
):
    """Fit coarse + PQ codebooks on a BOUNDED sample (same discipline
    as ivf_index), then one Arrow pass tags every vector with its cell
    and its M residual-PQ codes (code_m quantizes ``(v − centroid)``
    restricted to subspace m — residual encoding, the FAISS default,
    roughly halves quantization error vs raw-vector codes).

    Returns ``(codes_df, centroids, pq_codebooks)`` where codes_df is
    (id, cell, c0..c{M-1}) — M+2 small columns regardless of dim.

    Recall note: near-isotropic random embeddings (the synthetic
    fixtures here) are PQ's hard case — pairwise distances concentrate
    and code-level ranking gets noisy; real embedding manifolds (low
    intrinsic dimension) quantize far better. ``ksub`` is the lever:
    measured top-5 recall on the synthetic table is 0.18/0.37/0.45 at
    ksub 16/64/128 with all cells probed; FAISS defaults to 256."""
    from pyspark.sql import types as T

    # deterministic bounded sample (see ivf_index): TakeOrdered on the
    # id, not a layout-dependent bare limit()
    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max_fit_rows)
        .select(vec_col)
        .toPandas()
    )
    X = np.vstack(sample[vec_col].to_numpy()).astype(float)
    cent = _lloyd_fit(X, n_cells, seed)
    d2 = (
        (X * X).sum(axis=1, keepdims=True)
        + (cent * cent).sum(axis=1)[None, :]
        - 2.0 * X @ cent.T
    )
    resid = X - cent[d2.argmin(axis=1)]
    pq_cbs = [
        _lloyd_fit(resid[:, m * dsub : (m + 1) * dsub], ksub, seed + m)
        for m in range(n_sub)
    ]

    spark = corpus.sparkSession
    b_cent = spark.sparkContext.broadcast(cent)
    b_cbs = spark.sparkContext.broadcast(pq_cbs)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cell", T.IntegerType()),
        ]
        + [T.StructField(f"c{m}", T.IntegerType()) for m in range(n_sub)]
    )

    def encode(batches):
        C = b_cent.value
        cbs = b_cbs.value
        for pdf in batches:
            V = np.vstack(
                [np.asarray(v, dtype=float) for v in pdf[vec_col]]
            )
            d2 = (
                (V * V).sum(axis=1, keepdims=True)
                + (C * C).sum(axis=1)[None, :]
                - 2.0 * V @ C.T
            )
            cells = d2.argmin(axis=1)
            R = V - C[cells]
            out = {
                id_col: pdf[id_col].to_numpy(),
                "cell": cells.astype(np.int32),
            }
            for m in range(n_sub):
                sub = R[:, m * dsub : (m + 1) * dsub]
                cb = cbs[m]
                dm = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    + (cb * cb).sum(axis=1)[None, :]
                    - 2.0 * sub @ cb.T
                )
                out[f"c{m}"] = dm.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    codes = corpus.select(id_col, vec_col).mapInPandas(
        encode, schema=schema
    )
    return codes, cent.tolist(), [cb.tolist() for cb in pq_cbs]


def ivfpq_topk(
    queries: DataFrame,
    codes: DataFrame,
    centroids: list,
    pq_codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    n_sub: int = 8,
    dsub: int = 8,
) -> DataFrame:
    """Probed ADC search over the codes table: each query visits
    ``n_probe`` cells; per (query, cell) an (M × ksub) lookup table of
    residual-subspace distances is built once and every candidate in
    the cell is scored by M table lookups — O(M) per candidate, no
    vector access. The cell equi-join is the same bounded-shuffle
    shape as ivf_topk; the scoring stage is one Arrow pass.

    Returns (qid, cid, adc, rn ≤ k) — approximate distances; compose
    with an exact rescore join on a shortlist when the final ranking
    must be exact."""
    from pyspark.sql import types as T

    cent = np.asarray(centroids, dtype=float)
    cbs = [np.asarray(cb, dtype=float) for cb in pq_codebooks]
    spark = queries.sparkSession
    b_cent = spark.sparkContext.broadcast(cent)
    b_cbs = spark.sparkContext.broadcast(cbs)
    n_probe_eff = min(n_probe, len(centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        drop_zip_finders()
        C = b_cent.value
        Q = np.vstack(vecs.to_numpy()).astype(float)
        d2 = (
            (Q * Q).sum(axis=1, keepdims=True)
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * Q @ C.T
        )
        order = np.argsort(d2, axis=1)[:, :n_probe_eff]
        return pd.Series(list(order.astype(np.int32)))

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    joined = F.broadcast(q).join(codes, on="cell").filter(
        F.col("qid") != F.col(id_col)
    )
    out_schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("cid", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def score(batches):
        C = b_cent.value
        cbs_v = b_cbs.value
        lut_cache: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            qv = {qid: np.asarray(v, dtype=float)
                  for qid, v in zip(pdf["qid"], pdf["qvec"])}
            adc = np.zeros(len(pdf))
            code_cols = [
                pdf[f"c{m}"].to_numpy() for m in range(n_sub)
            ]
            cells = pdf["cell"].to_numpy()
            qids = pdf["qid"].to_numpy()
            for key in set(zip(qids, cells)):
                qid, cell = key
                if key not in lut_cache:
                    r = qv[qid] - C[cell]
                    lut = np.stack([
                        ((r[m * dsub:(m + 1) * dsub][None, :]
                          - cbs_v[m]) ** 2).sum(axis=1)
                        for m in range(n_sub)
                    ])
                    lut_cache[key] = lut
                mask = (qids == qid) & (cells == cell)
                lut = lut_cache[key]
                s = np.zeros(mask.sum())
                for m in range(n_sub):
                    s += lut[m][code_cols[m][mask]]
                adc[mask] = s
            yield pd.DataFrame({
                "qid": qids,
                "cid": pdf[id_col].to_numpy(),
                "adc": adc,
            })

    scored = joined.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("qid").orderBy("adc", "cid")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench entry (rows-only, like minhash_lsh_xxhash): the composed
    IVF-PQ production index over the embeddings table — build + probed
    ADC top-5 for the first 20 queries. Exactness of the machinery is
    carried by the relational twins (ivf_topk_seeded, pq_topk_seeded);
    this entry records what the memory-bounded production path costs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes, cent, cbs = ivfpq_index(emb)
    out = ivfpq_topk(
        emb.filter(F.col("vec_id") < 20), codes, cent, cbs
    )
    return out.select("qid", "rn", "cid").orderBy("qid", "rn")


# ----------------------------------------------------------------------
# gate queries
# ----------------------------------------------------------------------


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors.

    The query side is broadcast; the dot product is an explicitly
    ordered left fold so Spark and DuckDB produce bit-identical doubles
    (both engines: 0.0 + Σ left-to-right over float32→double promoted
    products)."""
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk_bruteforce(
        queries, emb, id_col="vec_id", vec_col="embedding", k=5
    )
    return out.select(
        "qid", "cid", F.round("cos", 6).alias("cos"), "rn"
    ).orderBy("qid", "rn")


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
dots AS (
  SELECT q.vec_id AS qid, e.vec_id AS cid,
    list_reduce(
      list_transform(q.embedding, (x, i) ->
        CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) AS dot,
    sqrt(list_reduce(
      list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS nq,
    sqrt(list_reduce(
      list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS nc
  FROM q, embeddings e
  WHERE e.vec_id != q.vec_id
),
ranked AS (
  SELECT qid, cid, dot / (nq * nc) AS cos,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / (nq * nc) DESC, cid) AS rn
  FROM dots
)
SELECT qid, cid, ROUND(cos, 6) AS cos, rn
FROM ranked WHERE rn <= 5
ORDER BY qid, rn
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-duplicate pairs above 0.45 (the synthetic
    embeddings are near-orthogonal, so 0.45 is the regime with real
    pairs to verify): the oracle-checked baseline for the LSH-bucketed
    scale path (operators.similarity.cosine_topk_lsh)."""
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    out = all_pairs_cosine(emb, threshold=0.45, n_blocks=4)
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim")
    )


SQL_EMBEDDING_NEARDUP = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(
           CAST(a.embedding AS DOUBLE[]),
           CAST(b.embedding AS DOUBLE[])
         ) AS cos
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 4) AS cos_sim
FROM pairs
WHERE cos >= 0.45
ORDER BY id_a, id_b
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "ivf_topk": (q_ivf_topk, sql_ivf_topk),
    "ivf_topk_seeded": (q_ivf_topk_seeded, sql_ivf_topk_seeded),
    "lsh_topk": (q_lsh_topk, sql_lsh_topk),
    "pq_topk_seeded": (q_pq_topk_seeded, sql_pq_topk_seeded),
    # rows-only production probe (DESIGN.md §2): ivf_topk_seeded and
    # pq_topk_seeded verify its pieces under the hash
    "ivfpq_topk": (q_ivfpq_topk, None),
    "semdedup": (q_semdedup, sql_semdedup),
    "semdedup_sharded": (
        q_semdedup_sharded,
        partial(sql_semdedup, max_cell_rows=_SEMDEDUP_GATE_MCR),
    ),
}
