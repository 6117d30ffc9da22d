"""ANN quality measurement — recall@k of the approximate indexes
against exact brute force.

An approximate index you cannot measure is a liability: production
vector search ships recall dashboards next to latency ones. This
harness computes per-query recall@k of the IVF index against the
exact cosine top-k, entirely in-engine — both sides are deterministic
here (seeded codebook, total tie-breaks), so recall itself is a
cross-engine-reproducible number the DuckDB oracle replays exactly.

Scale posture: the truth side is the brute-force scan (that is the
point — the harness runs on a SAMPLE of queries, not the corpus; its
cost is |sample| · corpus dot products, the standard recall-eval
budget), the approximate side is the bucket-pruned IVF probe, and the
comparison is an equi-join on (qid, cid) followed by a k-bounded
aggregation. Nothing new shuffles the corpus.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.similarity import (
    _sql_cos,
    _sql_dist2_lit,
    cosine_topk_bruteforce,
    ivf_fit_centroids,
    ivf_topk_fitted,
)

_GATE_K = 5
_GATE_NPROBE = 4


def ann_recall(
    emb: DataFrame,
    centroids: list[list[float]],
    query_pred: Column,
    k: int = _GATE_K,
    n_probe: int = _GATE_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query recall@k of the probed IVF search vs exact brute
    force: (qid, n_hits, recall). Queries with zero IVF hits survive
    with recall 0 (left join from the truth's query set)."""
    queries = emb.filter(query_pred)
    truth = cosine_topk_bruteforce(
        queries, emb, id_col=id_col, vec_col=vec_col, k=k
    ).select("qid", "cid")
    approx = ivf_topk_fitted(
        emb, centroids, query_pred, k=k, n_probe=n_probe
    ).select("qid", "cid")
    hits = (
        approx.join(truth, on=["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select(F.col(id_col).alias("qid"))
        .join(hits, on="qid", how="left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(k)),
                4,
            ).alias("recall"),
        )
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: recall@5 of the 8-cell / 4-probe IVF search for the
    first 20 query vectors — the hit counts AND the exact recall
    fractions are under the hash, so an index regression that silently
    drops recall fails the gate, not a dashboard."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_fit_centroids(sf_dir)
    out = ann_recall(emb, cents, F.col("vec_id") < 20)
    return out.orderBy("qid").coalesce(1)


def sql_ann_recall(
    sf_dir: str | None = None,
    dim: int = 64,
    k: int = _GATE_K,
    n_probe: int = _GATE_NPROBE,
) -> str:
    """DuckDB twin: replays the IVF search (literal centroids from the
    SAME cached fit, Euclidean-argmin assignment/probing, cosine
    rescore) and the brute-force truth, joins them, and computes the
    identical recall fractions."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    centroids = ivf_fit_centroids(sf_dir)
    dist_cases = {
        j: _sql_dist2_lit("e.embedding", c)
        for j, c in enumerate(centroids)
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
ivf AS (
  SELECT qid, cid FROM (
    SELECT cand.qid, cand.cid,
           ROW_NUMBER() OVER (
             PARTITION BY cand.qid ORDER BY cand.cos DESC, cand.cid
           ) AS rn
    FROM (
      SELECT p.qid, a.cid,
             {_sql_cos('qe.embedding', 'ce.embedding', dim)} AS cos
      FROM probes p
      JOIN assigned a ON p.cell = a.cell AND p.qid <> a.cid
      JOIN embeddings qe ON p.qid = qe.vec_id
      JOIN embeddings ce ON a.cid = ce.vec_id
    ) cand
  ) WHERE rn <= {k}
),
truth AS (
  SELECT qid, cid FROM (
    SELECT q.vec_id AS qid, e.vec_id AS cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_cos('q.embedding', 'e.embedding', dim)} DESC,
                      e.vec_id
           ) AS rn
    FROM embeddings q, embeddings e
    WHERE q.vec_id < 20 AND e.vec_id <> q.vec_id
  ) WHERE rn <= {k}
),
hits AS (
  SELECT i.qid, COUNT(*) AS n_hits
  FROM ivf i JOIN truth t ON i.qid = t.qid AND i.cid = t.cid
  GROUP BY i.qid
)
SELECT q.vec_id AS qid,
       COALESCE(h.n_hits, 0) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(k)!r}, 4)
         AS recall
FROM embeddings q LEFT JOIN hits h ON q.vec_id = h.qid
WHERE q.vec_id < 20
ORDER BY qid
"""


# ---------------------------------------------------------------------
# Retrieval quality metrics (P@k, MRR, first-relevant rank)
# ---------------------------------------------------------------------


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: label-relevance retrieval metrics for the exact L2
    ranking — per query (a deterministic 1/100 slice of vectors,
    CAPPED at vec_id < 2000 so the query set is at most 20 rows at
    ANY corpus size): rank of the first same-label neighbor, MRR and
    P@10 as integer ppm. The distance is the shared unrolled 64-term
    IEEE tree (see operators/projection.py), so ranks are identical
    cross-engine; only ranks and integer ratios surface, never floats.

    Scale posture: the query side is genuinely constant-size (the
    ``vec_id < 2000`` cap — r7's uncapped ``% 100`` slice grew
    proportionally with the corpus, making the broadcast-crossJoin
    scoring N²/100; fixed r8) and broadcast; at corpus scale the
    exact ranking is replaced by the ANN candidate paths
    (ivf/pq/binary) and this harness scores their output — the
    evaluation shape stays the same.
    """
    from pyspark.sql import Window
    from magmapandas_spark.operators.projection import l2_fold

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.expr("vec_id % 100 = 7 AND vec_id < 2000")).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        F.col("label").alias("clabel"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            l2_fold(F.col("qvec"), F.col("cvec")).alias("d2"),
            F.expr("CASE WHEN qlabel = clabel THEN 1 ELSE 0 END").alias(
                "rel"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    ranked = scored.select(
        "qid", "rel", F.row_number().over(w).alias("rank")
    )
    return (
        ranked.groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_ranked"),
            F.sum("rel").alias("n_relevant"),
            F.min(F.expr("CASE WHEN rel = 1 THEN rank END")).alias(
                "first_rel_rank"
            ),
            F.sum(
                F.expr("CASE WHEN rank <= 10 AND rel = 1 THEN 1 ELSE 0 END")
            ).alias("_hits10"),
        )
        .select(
            "qid",
            "n_ranked",
            "n_relevant",
            "first_rel_rank",
            F.expr("1000000 div first_rel_rank").alias("mrr_ppm"),
            F.expr("_hits10 * 100000").alias("p_at_10_ppm"),
        )
        .orderBy("qid")
    )


def _sql_retrieval_eval() -> str:
    from magmapandas_spark.operators.projection import _l2_full

    l2 = _l2_full("q.embedding", "c.embedding", 1)
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding, label AS qlabel
  FROM embeddings WHERE vec_id % 100 = 7 AND vec_id < 2000
),
scored AS (
  SELECT q.qid, c.vec_id AS cid,
         {l2} AS d2,
         CASE WHEN q.qlabel = c.label THEN 1 ELSE 0 END AS rel
  FROM q JOIN embeddings c ON c.vec_id <> q.qid
),
ranked AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS rank
  FROM scored
)
SELECT qid, COUNT(*) AS n_ranked,
       CAST(SUM(rel) AS BIGINT) AS n_relevant,
       MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
       1000000 // MIN(CASE WHEN rel = 1 THEN rank END) AS mrr_ppm,
       CAST(SUM(CASE WHEN rank <= 10 AND rel = 1 THEN 1 ELSE 0 END)
            * 100000 AS BIGINT) AS p_at_10_ppm
FROM ranked
GROUP BY qid
ORDER BY qid
"""


SQL_RETRIEVAL_EVAL = _sql_retrieval_eval()


# ---------------------------------------------------------------------
# LSH recall/precision vs the exact set-similarity ground truth
# ---------------------------------------------------------------------


def _recall_legs(
    docs: DataFrame, hash_strategy: str
) -> tuple[DataFrame, DataFrame]:
    """The two pair relations a recall measurement compares, each
    eager-checkpointed: ``truth``, every (id1, id2) with word-3-shingle
    Jaccard >= 3/5 from the prefix-filtered set-similarity join, and
    ``cand``, the char-5 MinHash-LSH banding candidates hashed with
    ``hash_strategy``."""
    from magmapandas_spark.operators.dedup import fan_out, minhash_lsh_candidates
    from magmapandas_spark.operators.setjoin import setjoin_jaccard

    # Materialize the document slice ONCE: both shingle pipelines
    # otherwise scan+filter the corpus parquet independently AND each
    # pays its own fan_out round-robin shuffle of the raw text.
    # Checkpointing after fan_out gives both legs the already-spread
    # (doc_id, text) relation from executor memory — one scan, zero
    # fan-out exchanges in the legs (each leg's own fan_out sees
    # parallelism >= target and no-ops). The relation is the
    # measurement slice, recomputed inside every invocation — never a
    # cross-run cache.
    docs = fan_out(
        docs.select("doc_id", "text")
    ).localCheckpoint(eager=True)

    # both pair relations feed two consumers each (a count and the
    # hit join): eager-checkpoint the pair-sized results so the
    # shingle pipelines run once, not twice.
    #
    # The two pipelines are INDEPENDENT (different shingle families:
    # word-3 prefix-filter truth vs char-5 minhash banding) and each
    # is a chain of stage barriers that underfills the cluster on its
    # own — submit them from two driver threads so the scheduler
    # back-fills one pipeline's stragglers with the other's tasks
    # (optimization guide §2.6). Each thread computes its relation
    # exactly once; values are unchanged. Each thread inherits the
    # caller's job group, local properties and job tags.
    def _truth() -> DataFrame:
        return (
            setjoin_jaccard(docs)
            .select(
                F.col("doc_a").alias("id1"), F.col("doc_b").alias("id2")
            )
            .localCheckpoint(eager=True)
        )

    def _cand() -> DataFrame:
        return (
            minhash_lsh_candidates(docs, hash_strategy=hash_strategy)
            .select("id1", "id2")
            .localCheckpoint(eager=True)
        )

    inherit = inheritable_thread_target(docs.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        truth_f = pool.submit(inherit(_truth))
        cand_f = pool.submit(inherit(_cand))
        return truth_f.result(), cand_f.result()


def lsh_recall_eval(
    spark: SparkSession, docs: DataFrame, sample_pred: Column | None = None
) -> DataFrame:
    """Measure MinHash-LSH banding against EXACT ground truth — the
    prefix-filtered set-similarity join (zero false negatives by
    construction) supplies every pair with word-3-shingle Jaccard
    >= 3/5; LSH candidate pairs (char-5-shingle banding) are scored
    against it. Output: one row of exact counts plus recall (truth
    pairs the banding surfaced). Candidate surplus is expected
    (banding also surfaces sub-threshold pairs; the verify stage
    exists for that) and reported as candidate_excess.

    ``sample_pred`` bounds the measurement at scale: both pipelines
    run on the sampled document slice only, so the eval budget is
    |sample|-determined, not corpus-determined — at 100 TB you
    measure recall on a sample, never the full corpus (this is the
    suite's most expensive query when unsampled; see scale_probe's
    ``lsh_recall_sampled`` row)."""
    if sample_pred is not None:
        docs = docs.filter(sample_pred)
    truth, cand = _recall_legs(docs, "md5")
    n_truth = truth.count()
    hit = truth.join(cand, ["id1", "id2"], "left_semi")
    n_hit = hit.count()
    n_cand = cand.count()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_cand,
                n_hit,
                (n_hit * 1_000_000 // n_truth) if n_truth else 0,
                n_cand - n_hit,
            )
        ],
        "n_truth long, n_candidates long, n_hits long,"
        " recall_ppm long, candidate_excess long",
    )


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: full-corpus LSH recall measurement (the gate corpus
    is small; production runs pass ``sample_pred``)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lsh_recall_eval(spark, docs)


# ---------------------------------------------------------------------
# Statistical-oracle twins for the two rows-only production probes
# (r13 verdict item 6): the engine-specific paths (xxhash64 banding,
# IVF-PQ ADC) can never carry a value hash — their hash families /
# float ADC scores are not DuckDB-expressible — but their QUALITY can:
# each twin computes a recall against an exact, engine-neutral truth
# and hashes the BOUND VERDICT (plus the truth-side counts, which the
# oracle recomputes independently). A broken scheme (zero candidates,
# wrong banding, collapsed codebooks) flips the verdict to false and
# fails the gate — the probes stop being unfalsifiable row counts.
# ---------------------------------------------------------------------

#: xxhash banding must surface >= 90% of the exact Jaccard>=0.6 truth
#: (measured 100% at sf0.01 and sf0.1; the margin absorbs hash-family
#: tweaks without letting a broken scheme pass)
_XX_RECALL_FLOOR_PPM = 900_000
#: IVF-PQ ADC top-5 must average >= 10% exact-L2 recall@5 over the 20
#: gate queries (measured 29% at sf0.01, 17% at sf0.1 — the 8x8 PQ
#: grid is a coarse quantizer by design; chance is < 2%)
_IVFPQ_RECALL_FLOOR_PPM = 100_000


def q_minhash_xxhash_recall_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hashed recall-bound twin of ``minhash_lsh_xxhash``: the
    xxhash64 banding's candidates must cover >= 90% of the exact
    prefix-filter Jaccard>=0.6 pair set. Same two-pipeline shape as
    :func:`lsh_recall_eval` (shared doc slice, overlapped legs)."""
    truth, cand = _recall_legs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "xxhash64"
    )
    n_truth = truth.count()
    n_hit = truth.join(cand, ["id1", "id2"], "left_semi").count()
    ok = (
        n_truth == 0
        or n_hit * 1_000_000 // n_truth >= _XX_RECALL_FLOOR_PPM
    )
    return spark.createDataFrame(
        [(n_truth, _XX_RECALL_FLOOR_PPM, bool(ok))],
        "n_truth long, recall_floor_ppm long, recall_ok boolean",
    )


def _sql_minhash_xxhash_recall_bound() -> str:
    """DuckDB twin: recomputes the exact truth-pair count from the
    same prefix-filter CTEs and asserts the bound verdict the Spark
    side must reproduce — TRUE is only correct while the xxhash
    banding genuinely covers the truth set, so a broken scheme fails
    the hash, not a dashboard."""
    from magmapandas_spark.operators.setjoin import _setsim_ctes

    return f"""
WITH {_setsim_ctes("ss_")},
truth AS (
  SELECT i.a AS id1, i.b AS id2
  FROM ss_inter i
  JOIN ss_sz sa ON sa.doc_id = i.a
  JOIN ss_sz sb ON sb.doc_id = i.b
  WHERE i.n_inter * 1000000 // (sa.s + sb.s - i.n_inter) >= 600000
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       CAST({_XX_RECALL_FLOOR_PPM} AS BIGINT) AS recall_floor_ppm,
       TRUE AS recall_ok
"""


SQL_MINHASH_XXHASH_RECALL_BOUND = _sql_minhash_xxhash_recall_bound()


def q_ivfpq_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed recall-bound twin of ``ivfpq_topk``: the probed ADC
    top-5 must average >= 10% recall against the exact L2 top-5 over
    the 20 gate queries (chance < 2% — a collapsed codebook or broken
    probe drops below the floor)."""
    from pyspark.sql import Window

    from magmapandas_spark.operators.projection import l2_fold
    from magmapandas_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes, cent, cbs = ivfpq_index(emb)
    approx = ivfpq_topk(
        emb.filter(F.col("vec_id") < 20), codes, cent, cbs
    ).select("qid", "cid")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    truth = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid", l2_fold(F.col("qvec"), F.col("cvec")).alias("d2")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid")
    )
    row = (
        approx.join(truth, ["qid", "cid"])
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .collect()[0]
    )
    n_queries = q.count()
    mean_recall_ppm = (
        row["n_hits"] * 1_000_000 // (5 * n_queries) if n_queries else 0
    )
    ok = n_queries == 0 or mean_recall_ppm >= _IVFPQ_RECALL_FLOOR_PPM
    return spark.createDataFrame(
        [(n_queries, _IVFPQ_RECALL_FLOOR_PPM, bool(ok))],
        "n_queries long, recall_floor_ppm long, recall_ok boolean",
    )


SQL_IVFPQ_RECALL_BOUND = f"""
SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 20)
         AS n_queries,
       CAST({_IVFPQ_RECALL_FLOOR_PPM} AS BIGINT) AS recall_floor_ppm,
       TRUE AS recall_ok
"""


def _sql_lsh_recall_eval() -> str:
    from magmapandas_spark.operators.dedup import _minhash_pair_ctes
    from magmapandas_spark.operators.setjoin import _setsim_ctes

    # reuse the verified CTE bodies: minhash pairs + the setsim chain
    # from its shared generator, prefixed ss_ (both chains define a
    # CTE named "sh")
    mh = _minhash_pair_ctes()
    return f"""
WITH {_setsim_ctes("ss_")},
truth AS (
  SELECT i.a AS id1, i.b AS id2
  FROM ss_inter i
  JOIN ss_sz sa ON sa.doc_id = i.a
  JOIN ss_sz sb ON sb.doc_id = i.b
  WHERE i.n_inter * 1000000 // (sa.s + sb.s - i.n_inter) >= 600000
),
{mh},
hits AS (
  SELECT t.id1, t.id2 FROM truth t
  WHERE EXISTS (SELECT 1 FROM pairs p
                WHERE p.id1 = t.id1 AND p.id2 = t.id2)
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM pairs) AS n_candidates,
       (SELECT COUNT(*) FROM hits) AS n_hits,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN (SELECT COUNT(*) FROM hits) * 1000000
                   // (SELECT COUNT(*) FROM truth)
            ELSE 0 END AS recall_ppm,
       (SELECT COUNT(*) FROM pairs)
         - (SELECT COUNT(*) FROM hits) AS candidate_excess
"""


SQL_LSH_RECALL_EVAL = _sql_lsh_recall_eval()


# ---------------------------------------------------------------------
# k-NN label-noise detection (round 8)
# ---------------------------------------------------------------------

_NOISE_QUERY_CAP = 50
_NOISE_K = 5


def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: k-NN label-agreement audit — for each of a
    CONSTANT query slice (vec_id < 50), the 5 exact-L2 nearest
    neighbors vote; a row whose majority neighbor label disagrees
    with its own (majority >= 3 of 5) is flagged as probable label
    noise. The standard embedding-space label-QA pass a training-data
    pipeline runs before fine-tuning.

    Scale posture: the query side is constant and broadcast (the
    ann_recall pattern); the rank window partitions by qid over
    |sample| * N scored rows pruned to k. At corpus scale the exact
    ranking is replaced by the IVF/LSH candidate paths — the voting
    shape is unchanged.
    """
    from pyspark.sql import Window

    from magmapandas_spark.operators.projection import l2_fold

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < _NOISE_QUERY_CAP).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        F.col("label").alias("clabel"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            l2_fold(F.col("qvec"), F.col("cvec")).alias("d2"),
        )
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    knn = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _NOISE_K
    )
    votes = knn.groupBy("qid", "qlabel", "clabel").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cnt"), "clabel")
    top = votes.withColumn("vr", F.row_number().over(wv)).filter(
        F.col("vr") == 1
    )
    agree = knn.groupBy("qid").agg(
        F.sum(
            F.expr("CASE WHEN clabel = qlabel THEN 1 ELSE 0 END")
        ).alias("n_agree")
    )
    return (
        top.join(agree, "qid")
        .select(
            "qid",
            "qlabel",
            F.col("clabel").alias("majority_label"),
            F.col("cnt").alias("majority_cnt"),
            F.col("n_agree").cast("long").alias("n_agree"),
            F.expr(
                "CASE WHEN clabel <> qlabel AND cnt >= 3 THEN 1 ELSE 0"
                " END"
            ).alias("noisy"),
        )
        .orderBy("qid")
    )


def _sql_knn_label_noise() -> str:
    from magmapandas_spark.operators.projection import _l2_full

    l2 = _l2_full("q.embedding", "c.embedding", 1)
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding, label AS qlabel
  FROM embeddings WHERE vec_id < {_NOISE_QUERY_CAP}
),
scored AS (
  SELECT q.qid, q.qlabel, c.vec_id AS cid, c.label AS clabel,
         {l2} AS d2
  FROM q JOIN embeddings c ON c.vec_id <> q.qid
),
knn AS (
  SELECT * FROM (
    SELECT qid, qlabel, clabel,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
    FROM scored
  ) WHERE rn <= {_NOISE_K}
),
votes AS (
  SELECT qid, qlabel, clabel, COUNT(*) AS cnt
  FROM knn GROUP BY qid, qlabel, clabel
),
top AS (
  SELECT * FROM (
    SELECT qid, qlabel, clabel, cnt,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cnt DESC, clabel) AS vr
    FROM votes
  ) WHERE vr = 1
),
agree AS (
  SELECT qid,
         CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM knn GROUP BY qid
)
SELECT t.qid, t.qlabel, t.clabel AS majority_label,
       t.cnt AS majority_cnt, a.n_agree,
       CASE WHEN t.clabel <> t.qlabel AND t.cnt >= 3 THEN 1 ELSE 0 END
         AS noisy
FROM top t JOIN agree a ON a.qid = t.qid
ORDER BY t.qid
"""


SQL_KNN_LABEL_NOISE = _sql_knn_label_noise()


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "ann_recall": (q_ann_recall, sql_ann_recall),
    "retrieval_eval": (q_retrieval_eval, SQL_RETRIEVAL_EVAL),
    "lsh_recall_eval": (q_lsh_recall_eval, SQL_LSH_RECALL_EVAL),
    # hashed recall-bound twins of the two rows-only production probes
    # (minhash_lsh_xxhash, ivfpq_topk)
    "minhash_xxhash_recall_bound": (
        q_minhash_xxhash_recall_bound,
        SQL_MINHASH_XXHASH_RECALL_BOUND,
    ),
    "ivfpq_recall_bound": (q_ivfpq_recall_bound, SQL_IVFPQ_RECALL_BOUND),
    "knn_label_noise": (q_knn_label_noise, SQL_KNN_LABEL_NOISE),
}
