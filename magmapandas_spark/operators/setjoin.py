"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin
family; beyond-reference surface).

The OTHER exact dedup join beside brute force: for Jaccard >= tau,
order every document's shingle set by GLOBAL rarity (document
frequency ascending) and keep only the first
``s - ceil(tau * s) + 1`` elements as its prefix. Two sets with
Jaccard >= tau MUST share a prefix element (pigeonhole on the
rarest-first order), so candidates come from one equi-join on the
prefix token — zero false negatives, unlike MinHash-LSH banding
(whose recall is probabilistic). Verification computes exact
intersection counts over candidates only.

Everything is integer/string exact: ceil(tau*s) is computed in
integer arithmetic with tau as a rational (3/5), Jaccard as integer
ppm — the whole pipeline hashes.

Scale posture: document frequencies and ranks form a vocabulary-sized
dictionary (broadcast at crawl scale); prefix explode emits
O(0.4 * |set|) rows per doc; the candidate join is keyed on the
prefix rank whose fan-out the rarity order minimizes (the AllPairs
guarantee: rarest tokens have the smallest posting lists); the verify
join touches candidates only. The global rank window over the
vocabulary is dictionary-sized, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import word_ngrams, word_tokens

__all__ = ["setjoin_jaccard", "q_setsim_join", "SQL_SETSIM_JOIN"]

#: tau = NUM/DEN (rational so prefix lengths are exact integers)
_TAU_NUM, _TAU_DEN = 3, 5
_TAU_PPM = 600_000


def setjoin_jaccard(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """All pairs of documents with shingle-set Jaccard >= 3/5, found
    by prefix filtering and verified exactly. Returns
    (doc_a, doc_b, n_inter, s_a, s_b, jaccard_ppm)."""
    from magmapandas_spark.operators.dedup import fan_out

    # fan_out before tokenize/shingle: the explode amplifies inside
    # the scan stage (see dedup.fan_out docstring)
    toks = fan_out(docs).select("doc_id", word_tokens("text").alias("t"))
    sh = toks.select(
        "doc_id", F.explode(word_ngrams("t", ngram)).alias("g")
    )
    # per-doc rarity order comes from sorting by (df, g) DIRECTLY —
    # a dense global rank over the vocabulary would add a single-
    # partition window over |vocab| rows for no semantic gain (the
    # rank is order-isomorphic to (df, g), so prefixes, candidates,
    # and intersections are identical joining on the raw shingle)
    df_rel = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # (doc, shingle, df) feeds five consumers (sizes, prefixes, both
    # sides of the intersection join): eager-checkpoint the narrow
    # relation so the tokenize/shingle/df pipeline runs once
    tr = (
        sh.join(df_rel, "g")
        .select("doc_id", "g", "df")
        .localCheckpoint(eager=True)
    )
    sz = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    w_pos = Window.partitionBy("doc_id").orderBy("df", "g")
    pfx = (
        tr.select(
            "doc_id", "g", F.row_number().over(w_pos).alias("pos")
        )
        .join(sz, "doc_id")
        .filter(
            F.expr(
                f"pos <= s - ({_TAU_NUM} * s + {_TAU_DEN - 1})"
                f" div {_TAU_DEN} + 1"
            )
        )
        .select("doc_id", "g", "pos", "s")
    )
    # PPJoin pruning on top of the prefix equi-join — both filters are
    # SOUND (they only drop pairs that cannot reach tau), so the final
    # verified pair set is unchanged and the oracle needs no twin:
    #   size filter:      tau*s_a <= s_b (and symmetrically)
    #   positional bound: the overlap can't exceed 1 + min remaining
    #     suffix, and J >= tau  <=>  inter >= tau/(1+tau)*(s_a+s_b)
    cand = (
        pfx.alias("pa")
        .join(
            pfx.alias("pb"),
            F.expr(
                "pa.g = pb.g AND pa.doc_id < pb.doc_id"
                f" AND {_TAU_NUM} * pa.s <= {_TAU_DEN} * pb.s"
                f" AND {_TAU_NUM} * pb.s <= {_TAU_DEN} * pa.s"
                f" AND {_TAU_DEN + _TAU_NUM} * "
                "(1 + least(pa.s - pa.pos, pb.s - pb.pos))"
                f" >= {_TAU_NUM} * (pa.s + pb.s)"
            ),
        )
        .select(
            F.col("pa.doc_id").alias("a"), F.col("pb.doc_id").alias("b")
        )
        .distinct()
    )
    ta = tr.select(F.col("doc_id").alias("a"), F.col("g").alias("ga"))
    tb = tr.select(F.col("doc_id").alias("b2"), F.col("g").alias("gb"))
    inter = (
        cand.join(ta, "a")
        .join(
            tb,
            (F.col("b") == F.col("b2")) & (F.col("ga") == F.col("gb")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sz.select(F.col("doc_id").alias("a"), F.col("s").alias("s_a"))
    sb = sz.select(F.col("doc_id").alias("b"), F.col("s").alias("s_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "n_inter",
            "s_a",
            "s_b",
            F.expr(
                "n_inter * 1000000 div (s_a + s_b - n_inter)"
            ).alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= _TAU_PPM)
        .orderBy("doc_a", "doc_b")
    )


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: exact Jaccard >= 0.6 document pairs via prefix
    filtering over 3-word shingles — the zero-false-negative dedup
    join, every column an exact integer."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return setjoin_jaccard(docs)


def _setsim_ctes(p: str = "") -> str:
    """The set-similarity CTE chain (no final SELECT), every CTE name
    prefixed with ``p`` — shared by ``SQL_SETSIM_JOIN`` (p='') and the
    ``lsh_recall_eval`` oracle (p='ss_', composed beside the minhash
    chain, which also defines a CTE named ``sh``). One generator
    instead of post-hoc regex surgery on the finished SQL string, so
    an edit here cannot silently desynchronize the spliced oracle."""
    return f"""{p}toks AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
{p}sh AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
  FROM {p}toks WHERE len(t) >= 3
),
{p}df AS (SELECT g, COUNT(*) AS df FROM {p}sh GROUP BY g),
{p}rk AS (SELECT g, ROW_NUMBER() OVER (ORDER BY df, g) AS r FROM {p}df),
{p}tr AS (SELECT doc_id, r FROM {p}sh JOIN {p}rk USING (g)),
{p}sz AS (SELECT doc_id, COUNT(*) AS s FROM {p}tr GROUP BY doc_id),
{p}pfx AS (
  SELECT p.doc_id, p.r FROM (
    SELECT doc_id, r,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY r) AS pos
    FROM {p}tr) p JOIN {p}sz ON {p}sz.doc_id = p.doc_id
  WHERE p.pos <= {p}sz.s - ({_TAU_NUM} * {p}sz.s + {_TAU_DEN - 1})
                   // {_TAU_DEN} + 1
),
{p}cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM {p}pfx a JOIN {p}pfx b ON a.r = b.r AND a.doc_id < b.doc_id
),
{p}inter AS (
  SELECT c.a, c.b, COUNT(*) AS n_inter
  FROM {p}cand c
  JOIN {p}tr t1 ON t1.doc_id = c.a
  JOIN {p}tr t2 ON t2.doc_id = c.b AND t2.r = t1.r
  GROUP BY c.a, c.b
)"""


SQL_SETSIM_JOIN = f"""
WITH {_setsim_ctes()}
SELECT i.a AS doc_a, i.b AS doc_b, i.n_inter, sa.s AS s_a, sb.s AS s_b,
       i.n_inter * 1000000 // (sa.s + sb.s - i.n_inter) AS jaccard_ppm
FROM inter i
JOIN sz sa ON sa.doc_id = i.a
JOIN sz sb ON sb.doc_id = i.b
WHERE i.n_inter * 1000000 // (sa.s + sb.s - i.n_inter) >= {_TAU_PPM}
ORDER BY doc_a, doc_b
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "setsim_join": (q_setsim_join, SQL_SETSIM_JOIN),
}
