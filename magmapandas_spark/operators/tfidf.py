"""TF-IDF retrieval scoring (beyond-reference surface — the sparse
twin of the embedding-ANN tier: inverted-index-shaped keyword search
over the corpus).

Plan shape (the 100 TB posture): the query-term list is a literal, so
the corpus token explode is filtered to query terms AT THE SCAN
(``isin`` on a tiny literal set — everything else never leaves the
scan stage). Document frequencies and term frequencies both come from
that same filtered (doc, term) relation: one shuffle for the df
aggregate (|query| rows out), one for the per-doc tf aggregate, and
the df/N relation rides a broadcast join. Nothing anywhere is
proportional to corpus width except the scan itself.

Determinism: idf is a per-term double (same ln in both engines — the
lm_quality precedent), each doc's score sums per-term products as
decimal(28,12) so partition order cannot perturb ROUND(score, 6), and
the top-k order is (rounded score desc, doc_id) — fully tie-broken.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import word_tokens
from magmapandas_spark.operators.dedup import fan_out

#: Gate query's literal search — mid-frequency terms of the synthetic
#: vocabulary so scores spread.
DEFAULT_QUERY = ["table", "spark", "merge", "window", "hash"]


def tfidf_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """Score docs against ``query_terms`` with smoothed TF-IDF
    (``idf = ln((N+1)/(df+1)) + 1``); return the top-k.

    Returns (id, n_matched terms, score)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    tok = (
        fan_out(docs)
        .select(F.col(id_col), F.explode(word_tokens(text_col)).alias("term"))
        .filter(F.col("term").isin(list(query_terms)))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("N"))
    df_rel = tok.groupBy("term").agg(
        F.countDistinct(id_col).alias("df")
    )
    idf = df_rel.crossJoin(F.broadcast(n_docs)).select(
        "term",
        (
            F.log((F.col("N") + 1).cast("double") / (F.col("df") + 1))
            + F.lit(1.0)
        ).alias("idf"),
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.join(F.broadcast(idf), on="term")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(
                F.sum(
                    (F.col("tf") * F.col("idf")).cast("decimal(28,12)")
                ).cast("double"),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), id_col)
        .limit(top_k)
    )


def q_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: TF-IDF top-100 for the default query over the
    documents table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_scores(docs, DEFAULT_QUERY)


_SQL_TERMS = ", ".join(f"'{t}'" for t in DEFAULT_QUERY)

SQL_TFIDF_SEARCH = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
           str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
           AS term
  FROM documents
),
qtok AS (
  SELECT doc_id, term FROM tok WHERE term IN ({_SQL_TERMS})
),
n AS (SELECT COUNT(*) AS N FROM documents),
idf AS (
  SELECT term,
         ln(CAST(n.N + 1 AS DOUBLE) / (COUNT(DISTINCT doc_id) + 1)) + 1.0
           AS idf
  FROM qtok, n
  GROUP BY term, n.N
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM qtok GROUP BY doc_id, term
)
SELECT tf.doc_id,
       COUNT(*) AS n_matched,
       ROUND(CAST(SUM(CAST(tf.tf * idf.idf AS DECIMAL(28,12)))
                  AS DOUBLE), 6) AS score
FROM tf JOIN idf ON tf.term = idf.term
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 100
"""


# ---------------------------------------------------------------------
# BM25 (Robertson/Spärck Jones) — the ranking function production
# keyword retrieval actually uses (round 6)
# ---------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k with an even better plan than TF-IDF's: per-term
    ``tf`` comes from ``size(filter(tokens, = term))`` — a pure
    scan-local projection with NO explode and NO (doc, term) shuffle
    at all. The only aggregation is ONE global row (N, avgdl, per-term
    df) that rides a broadcast back; then scoring is a projection and
    the top-k is a TakeOrdered. Nothing is proportional to corpus
    width except the scan — the strongest possible posture for a
    literal query at 100 TB.

    Determinism: the score is a FIXED-ORDER sum of per-term doubles
    (term columns added left-to-right, not a float SUM aggregate), but
    ``ln`` itself differs by 1 ulp between the JVM's Math.log and
    DuckDB's libm on some inputs, so — exactly like ``tfidf_scores``
    above — the score is rounded to 6 decimals in BOTH engines before
    the top-k ordering; ties break on id.
    Returns (id, n_matched, score)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = word_tokens(text_col)

    def tf_col(term: str):
        # NB: a two-arg lambda would make F.filter pass the element
        # INDEX as the second argument — close over the term instead
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[
            tf_col(t).alias(f"tf_{j}")
            for j, t in enumerate(query_terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("N"),
        # integer token counts sum exactly; ONE division makes avgdl
        (
            F.sum("dl").cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{j}") > 0).cast("int")).alias(f"df_{j}")
            for j in range(len(query_terms))
        ],
    )
    j0 = base.crossJoin(F.broadcast(stats))
    dl_ratio = F.col("dl").cast("double") / F.col("avgdl")

    def term_score(j: int):
        tf = F.col(f"tf_{j}").cast("double")
        dfj = F.col(f"df_{j}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("N").cast("double") - dfj + F.lit(0.5))
            / (dfj + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_ratio)
        return idf * (tf * F.lit(k1 + 1.0)) / denom

    score = term_score(0)
    for j in range(1, len(query_terms)):
        score = score + term_score(j)
    matched = (F.col("tf_0") > 0).cast("int")
    for j in range(1, len(query_terms)):
        matched = matched + (F.col(f"tf_{j}") > 0).cast("int")
    return (
        j0.select(
            id_col,
            matched.alias("n_matched"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), id_col)
        .limit(top_k)
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: BM25 top-100 for the default query — idf, length
    normalization, and the fixed-order score chain all under the hash
    (rounded to 6 decimals in both engines: JVM Math.log and libm ln
    disagree by 1 ulp on some inputs, the tfidf precedent)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_scores(docs, DEFAULT_QUERY)


def _bm25_sql_parts(
    terms: list[str], k1: float, b: float
) -> tuple[str, str, str, str]:
    """The four generated SQL fragments of the BM25 plan (per-term tf
    projections, per-term df aggregates, the fixed-order score chain,
    the matched-term count) — shared by the standalone BM25 oracle and
    the hybrid-retrieval oracle so both replay the identical arithmetic.
    Float literals are emitted with ``!r`` so both engines parse the
    IDENTICAL doubles (1.2 + 1.0 in Python is not the same double as a
    literal 2.2)."""
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{j}"
        for j, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{j} > 0 THEN 1 ELSE 0 END) AS df_{j}"
        for j in range(len(terms))
    )
    def s(j: int) -> str:
        return (
            f"(ln(1.0 + (CAST(N AS DOUBLE) - CAST(df_{j} AS DOUBLE)"
            f" + 0.5) / (CAST(df_{j} AS DOUBLE) + 0.5))"
            f" * (CAST(tf_{j} AS DOUBLE) * {k1 + 1.0!r})"
            f" / (CAST(tf_{j} AS DOUBLE) + {k1!r} * ({1.0 - b!r}"
            f" + {b!r} * (CAST(dl AS DOUBLE) / avgdl))))"
        )
    score = " + ".join(s(j) for j in range(len(terms)))
    matched = " + ".join(
        f"CASE WHEN tf_{j} > 0 THEN 1 ELSE 0 END"
        for j in range(len(terms))
    )
    return tf_cols, df_cols, score, matched


def _sql_bm25_search(
    query_terms: list[str] | None = None,
    top_k: int = 100,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`bm25_scores`."""
    terms = DEFAULT_QUERY if query_terms is None else query_terms
    tf_cols, df_cols, score, matched = _bm25_sql_parts(terms, k1, b)
    return f"""
WITH base AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM (SELECT doc_id,
               list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks
        FROM documents)
),
stats AS (
  SELECT COUNT(*) AS N,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         {df_cols}
  FROM base
)
SELECT doc_id,
       CAST({matched} AS INT) AS n_matched,
       ROUND({score}, 6) AS score
FROM base, stats
ORDER BY score DESC, doc_id
LIMIT {top_k}
"""


# ---------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine fused by reciprocal rank
# (the canonical RAG retrieval shape — round 6)
# ---------------------------------------------------------------------

#: RRF discount constant (Cormack et al. 2009's k=60).
RRF_K = 60
#: per-list candidate pool depth and fused output depth
HYBRID_POOL_K = 50
HYBRID_TOP_K = 20
#: the gate's dense query: the corpus vector with this id
HYBRID_QUERY_VEC_ID = 0


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    pool_k: int = HYBRID_POOL_K,
    top_k: int = HYBRID_TOP_K,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of a BM25 keyword list and a dense
    cosine list: ``rrf(d) = Σ_lists 1/(k + rank_list(d))``.

    Scale posture: both input lists are already top-``pool_k`` bounded
    (BM25 is a TakeOrdered over a scan-local projection, dense is the
    ANN tier — brute force here, IVF/PQ at corpus scale), so the
    fusion itself joins two CONSTANT-size relations: nothing in this
    operator grows with the corpus. That is the point of RRF — fusion
    happens after per-list truncation, needing only ranks, never
    score calibration across lists.

    Determinism: ranks are integers; each reciprocal is one IEEE
    double division of exact integers and the two-term sum is fixed
    order (sparse + dense), so both engines produce bit-identical
    ``rrf`` before the display rounding. Docs absent from a list
    carry rank 0 (contributing nothing), keeping the output
    null-free. Ties order by doc_id.
    """
    from pyspark.sql import Window

    from magmapandas_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    sparse_top = bm25_scores(docs, query_terms, top_k=pool_k)
    # rank over the already-TakeOrdered pool_k rows: same key as the
    # top-k selection, so this window touches pool_k rows, not the
    # corpus
    w = Window.orderBy(F.desc("score"), "doc_id")
    sparse = sparse_top.select(
        "doc_id", F.row_number().over(w).cast("int").alias("rank_sparse")
    )

    qv = embeddings.filter(F.col("vec_id") == query_vec_id)
    dense = cosine_topk_bruteforce(
        qv, embeddings, id_col="vec_id", vec_col="embedding", k=pool_k
    ).select(
        F.col("cid").alias("doc_id"),
        F.col("rn").cast("int").alias("rank_dense"),
    )

    fused = sparse.join(dense, on="doc_id", how="full_outer")
    recip = lambda c: F.coalesce(  # noqa: E731
        F.lit(1).cast("double") / (F.lit(rrf_k) + F.col(c)),
        F.lit(0.0),
    )
    return (
        fused.select(
            "doc_id",
            F.coalesce("rank_sparse", F.lit(0)).alias("rank_sparse"),
            F.coalesce("rank_dense", F.lit(0)).alias("rank_dense"),
            F.round(recip("rank_sparse") + recip("rank_dense"), 8).alias(
                "rrf"
            ),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(top_k)
    )


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: RRF fusion of BM25 top-50 (default keyword query)
    and dense cosine top-50 (query = embedding of vec_id 0; vec_id is
    doc_id-aligned in the testdata), fused top-20 under the hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return hybrid_search(docs, emb, DEFAULT_QUERY, HYBRID_QUERY_VEC_ID)


def _sql_hybrid_search(
    query_terms: list[str] | None = None,
    query_vec_id: int = HYBRID_QUERY_VEC_ID,
    pool_k: int = HYBRID_POOL_K,
    top_k: int = HYBRID_TOP_K,
    rrf_k: int = RRF_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin: identical BM25 arithmetic (shared fragment
    builder), the embedding_topk ordered-fold dot product, integer
    rank windows, and the same fixed-order two-term RRF sum."""
    terms = DEFAULT_QUERY if query_terms is None else query_terms
    tf_cols, df_cols, score, _ = _bm25_sql_parts(terms, k1, b)
    return f"""
WITH base AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM (SELECT doc_id,
               list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks
        FROM documents)
),
stats AS (
  SELECT COUNT(*) AS N,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         {df_cols}
  FROM base
),
scored AS (
  SELECT doc_id, ROUND({score}, 6) AS score FROM base, stats
),
sparse AS (
  SELECT doc_id, rank_sparse FROM (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS rank_sparse
    FROM scored
  ) WHERE rank_sparse <= {pool_k}
),
dq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_vec_id}),
dots AS (
  SELECT e.vec_id AS doc_id,
    list_reduce(
      list_transform(dq.qe, (x, i) ->
        CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) AS dot,
    sqrt(list_reduce(
      list_transform(dq.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS nq,
    sqrt(list_reduce(
      list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS nc
  FROM dq, embeddings e
  WHERE e.vec_id != {query_vec_id}
),
dense AS (
  SELECT doc_id, rank_dense FROM (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY dot / (nq * nc) DESC, doc_id)
                AS INT) AS rank_dense
    FROM dots
  ) WHERE rank_dense <= {pool_k}
)
SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
       COALESCE(s.rank_sparse, 0) AS rank_sparse,
       COALESCE(d.rank_dense, 0) AS rank_dense,
       ROUND(COALESCE(CAST(1 AS DOUBLE) / ({rrf_k} + s.rank_sparse), 0.0)
           + COALESCE(CAST(1 AS DOUBLE) / ({rrf_k} + d.rank_dense), 0.0),
             8) AS rrf
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {top_k}
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "tfidf_search": (q_tfidf_search, SQL_TFIDF_SEARCH),
    "bm25_search": (q_bm25_search, _sql_bm25_search),
    "hybrid_search": (q_hybrid_search, _sql_hybrid_search),
}
