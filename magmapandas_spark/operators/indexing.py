"""Grouped top-k and inverted-index construction — two retrieval-side
primitives a training-data pipeline runs constantly.

``group_topk``: the "best k documents per domain/language/source"
selection, WITHOUT a window. ``row_number() OVER (PARTITION BY g ORDER
BY score)`` total-sorts every group at crawl scale; the aggregation
form used here keeps the sort INSIDE bounded arrays (an expression,
not a Sort operator) and truncates to ``k`` at every merge — the same
two-phase bottom-k discipline as :func:`~magmapandas_spark.operators.
sketches.kmv_distinct`. Phase 1 groups by (group, hash-shard) and
keeps each shard's top-k; phase 2 merges ≤ n_shards·k candidates per
group and re-truncates. Honest state bound: a phase-1 partial state is
one shard's collected rows (choose ``n_shards`` ≈ group_size/k at the
target scale); phase-2 state is ≤ n_shards·k structs per group.

``inverted_index``: the classic posting-list build — tokenize in the
scan, explode, ONE map-side-combined shuffle keyed on the term, and
per-term postings assembled as sorted (doc, tf) arrays inside the
aggregation (ObjectHashAggregate, no window/sort operator). At 100 TB
the index persists bucketed by term (``write_inverted_index``) so a
literal-term lookup is a bucket-pruned scan that shuffles nothing —
the IVF-index playbook (similarity.write_ivf_index) applied to text.

Cross-engine determinism: ordering keys are integers/strings with
total (key, id) tie-breaks; posting lists are serialized to
comma-joined strings for the value hash (array columns don't survive
the driver's pandas-side compare).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import word_tokens
from magmapandas_spark.operators.dedup import _md5_60, fan_out


# ---------------------------------------------------------------------
# Grouped top-k without a window
# ---------------------------------------------------------------------

def group_topk(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    payload_cols: list[str],
    descending: bool = True,
    id_col: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """Top-``k`` rows per group by (``order_col``, ``id_col``) as a
    two-phase truncating aggregation — no Window, no Sort operator
    (plan-pinned in tests/test_plan_invariants.py).

    The sort key is packed into a struct whose FIRST fields are the
    ordering columns, so ``array_sort`` (ascending, struct field
    order) yields exactly the (order, id) ranking; descending orders
    negate a numeric key. Ties are totally broken on ``id_col`` so
    the k-boundary is deterministic. Returns the exploded top-k rows
    (group, rank, order, payload...)."""
    key = F.col(order_col).cast("double")
    if descending:
        key = -key
    packed = F.struct(
        key.alias("_k"),
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    shard = F.pmod(_md5_60(F.col(id_col).cast("string")), F.lit(n_shards))
    p1 = (
        df.groupBy(F.col(group_col), shard.alias("_shard"))
        .agg(
            F.slice(F.array_sort(F.collect_list(packed)), 1, k).alias(
                "_top"
            )
        )
    )
    p2 = p1.groupBy(group_col).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("_top"))), 1, k
        ).alias("_top")
    )
    row = F.posexplode("_top")
    out = p2.select(group_col, row.alias("rank", "r"))
    sign = -1.0 if descending else 1.0
    return out.select(
        group_col,
        (F.col("rank") + 1).cast("int").alias("rank"),
        (F.col("r._k") * sign).alias(order_col),
        F.col("r._id").alias(id_col),
        *[F.col(f"r.{c}").alias(c) for c in payload_cols],
    )


def q_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the 5 longest documents per (lang, source) stratum
    — the per-domain "keep the best" selection, ranked without a
    window; ranks, boundaries, and tie-breaks all under the hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat_ws("/", "lang", "source").alias("stratum"),
        "n_chars",
        "lang",
    )
    out = group_topk(
        docs, "stratum", "n_chars", 5, payload_cols=["lang"]
    )
    return out.orderBy("stratum", "rank").coalesce(1)


SQL_DOMAIN_TOPK = """
WITH ranked AS (
  SELECT concat_ws('/', lang, source) AS stratum,
         doc_id, n_chars, lang,
         ROW_NUMBER() OVER (
           PARTITION BY concat_ws('/', lang, source)
           ORDER BY -CAST(n_chars AS DOUBLE), doc_id
         ) AS rank
  FROM documents
)
SELECT stratum, CAST(rank AS INT) AS rank,
       CAST(n_chars AS DOUBLE) AS n_chars, doc_id, lang
FROM ranked WHERE rank <= 5
ORDER BY stratum, rank
"""


# ---------------------------------------------------------------------
# Inverted index
# ---------------------------------------------------------------------

def inverted_index_relation(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 1000,
) -> DataFrame:
    """The MERGEABLE posting-list relation: one row per term with
    (df, tf_total, postings array<struct<doc,tf>> — the
    ``max_postings`` SMALLEST doc ids, sorted).

    Plan: tokenize + per-doc tf in the scan stage (aggregate by
    (term, doc) with map-side combine), then ONE shuffle keyed on the
    term whose aggregation assembles the posting array via
    ``slice(array_sort(collect_list(struct(doc, tf))))`` — sorting
    only inside the bounded array, truncation at every merge. The
    long tail of df=1 terms dominates crawl vocabularies, so partial
    aggregation collapses most of the stream before the exchange.

    Mergeable under the APPEND-ONLY ingest contract (each doc arrives
    in exactly one batch): df/tf_total add, and bottom-k posting
    arrays merge exactly (every globally-smallest doc id is within
    its own batch's bottom-k, so slice(sort(concat)) equals the
    one-pass build — the kmv_distinct bottom-k law)."""
    tf = (
        fan_out(docs)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(word_tokens(text_col)).alias("term"),
        )
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.slice(
            F.array_sort(F.collect_list(F.struct("doc", "tf"))),
            1,
            max_postings,
        ).alias("postings"),
    )


def merge_inverted_index(
    a: DataFrame, b: DataFrame, max_postings: int = 1000
) -> DataFrame:
    """Fold two posting-list relations built from DISJOINT document
    sets: counts add, bottom-k posting arrays concat → re-sort →
    re-truncate (exact — see :func:`inverted_index_relation`)."""
    return (
        a.unionByName(b)
        .groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.sum("tf_total").alias("tf_total"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("postings"))),
                1,
                max_postings,
            ).alias("postings"),
        )
    )


def serialize_postings(rel: DataFrame) -> DataFrame:
    """Render the posting array as ``"doc:tf,doc:tf,..."`` — the
    hash-friendly string form the gate compares (array columns don't
    survive the driver's pandas-side value compare)."""
    return rel.select(
        "term",
        "df",
        "tf_total",
        F.array_join(
            F.transform(
                F.col("postings"),
                lambda s: F.concat_ws(
                    ":", s["doc"].cast("string"), s["tf"].cast("string")
                ),
            ),
            ",",
        ).alias("postings"),
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 1000,
) -> DataFrame:
    """Posting lists in serialized form: one row per term with
    document frequency, total term frequency, and the first
    ``max_postings`` (doc, tf) postings sorted by doc id as
    ``"doc:tf,doc:tf,..."`` (see :func:`inverted_index_relation` for
    the plan shape and merge law)."""
    return serialize_postings(
        inverted_index_relation(docs, id_col, text_col, max_postings)
    )


def write_inverted_index(
    index: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Persist the index bucketed by term: a literal-term lookup then
    scans only the matching buckets and shuffles nothing (the
    write_ivf_index playbook)."""
    (
        index.write.mode("overwrite")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .saveAsTable(table)
    )


def lookup_terms(spark: SparkSession, table: str, terms: list[str]) -> DataFrame:
    """Point lookup against a persisted index — the IN-list filter
    prunes buckets at the scan; no exchange, no join."""
    return spark.table(table).filter(F.col("term").isin(terms))


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: posting lists for every term with df ≥ 5 — df,
    total tf, and the serialized (doc, tf) postings (doc-id order)
    all under the hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        inverted_index(docs)
        .filter(F.col("df") >= 5)
        .orderBy("term")
        .coalesce(1)
    )


SQL_INVERTED_INDEX = """
WITH tok AS (
  SELECT doc_id AS doc,
         unnest(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT term, doc, COUNT(*) AS tf FROM tok GROUP BY term, doc
),
totals AS (
  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
  FROM tf GROUP BY term HAVING COUNT(*) >= 5
),
-- the Spark side truncates postings to the max_postings SMALLEST doc
-- ids (slice(array_sort(...), 1, 1000)); replay the same bottom-k
kept AS (
  SELECT term, doc, tf FROM (
    SELECT term, doc, tf,
           ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc) AS prn
    FROM tf
  ) WHERE prn <= 1000
)
SELECT t.term, t.df, t.tf_total,
       (SELECT string_agg(k.doc || ':' || k.tf, ',' ORDER BY k.doc)
        FROM kept k WHERE k.term = t.term) AS postings
FROM totals t
ORDER BY t.term
"""


# ---------------------------------------------------------------------
# Query-side retrieval over the persisted index
# ---------------------------------------------------------------------

def write_search_index(
    docs: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    max_postings: int = 1_000_000,
) -> None:
    """Persist everything BM25 needs to answer queries WITHOUT the
    corpus: ``{name}_postings`` (term → df, tf_total, (doc, tf) list;
    bucketed by term for pruned lookups), ``{name}_doclen`` (doc →
    length; bucketed by doc so the postings⋈doclen join co-locates),
    and ``{name}_stats`` (ONE row: N, avgdl). At crawl scale each is
    an incremental-maintenance target (`streaming_index_ingest` for
    postings; doclen appends; stats recomputes from doclen)."""
    spark = docs.sparkSession
    rel = inverted_index_relation(
        docs, id_col, text_col, max_postings=max_postings
    )
    (
        rel.write.mode("overwrite")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .saveAsTable(f"{name}_postings")
    )
    dl = docs.select(
        F.col(id_col).alias("doc"),
        F.size(word_tokens(text_col)).alias("dl"),
    )
    (
        dl.write.mode("overwrite")
        .bucketBy(n_buckets, "doc")
        .sortBy("doc")
        .saveAsTable(f"{name}_doclen")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    stats.write.mode("overwrite").saveAsTable(f"{name}_stats")


def bm25_from_index(
    spark: SparkSession,
    name: str,
    query_terms: list[str],
    top_k: int = 100,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k answered ENTIRELY from the persisted index — the
    corpus is never scanned. The literal-term filter prunes postings
    buckets; the exploded (term, doc, tf) relation is bounded by the
    query terms' posting sizes and BROADCASTS onto the bucketed
    doclen table (the big side streams, plan-testable); the one-row
    stats relation rides a broadcast. Per-doc scores sum per-term
    contributions as decimal(28,12) (order-independent — the index
    path has no fixed term order to replay), rounded to 6.

    Returns (doc, n_matched, score) — only documents containing at
    least one query term (the others score 0 by definition)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    p = spark.table(f"{name}_postings").filter(
        F.col("term").isin(query_terms)
    )
    exploded = p.select(
        "term",
        F.col("df"),
        F.explode("postings").alias("e"),
    ).select(
        "term", "df", F.col("e.doc").alias("doc"), F.col("e.tf").alias("tf")
    )
    stats = spark.table(f"{name}_stats")
    dl = spark.table(f"{name}_doclen")
    j = (
        F.broadcast(exploded)
        .join(dl, on="doc")
        .crossJoin(F.broadcast(stats))
    )
    tf = F.col("tf").cast("double")
    dfj = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("N").cast("double") - dfj + F.lit(0.5))
        / (dfj + F.lit(0.5))
    )
    denom = tf + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    contrib = (idf * (tf * F.lit(k1 + 1.0)) / denom).cast(
        "decimal(28,12)"
    )
    return (
        j.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_matched"),
            F.round(F.sum(contrib).cast("double"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "doc")
        .limit(top_k)
    )


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "domain_topk": (q_domain_topk, SQL_DOMAIN_TOPK),
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
}
