"""Bloom-filter benchmark decontamination (beyond-reference surface).

``contamination_pairs`` (curation.py) answers *which benchmark doc* a
corpus doc leaks — a broadcast equi-join on the n-gram STRING. At
100 TB you usually only need the boolean ("does this doc share any
n-gram with the eval set?"), and for that a Bloom filter is the
canonical cheaper shape: the benchmark side is compressed to ``m``
BITS (not strings), the corpus side probes ``k`` hash positions per
n-gram, and a doc is flagged when any n-gram has all ``k`` bits set.
False positives only (inherent to Bloom; decontamination errs toward
dropping), never false negatives.

Hashing is the repo's standard portable family: one md5 digest per
n-gram, two 60-bit slices, Kirsch–Mitzenmacher combinations
``p_j = ((h1 + j*h2) mod P) mod m`` — bit-identical in DuckDB, so the
*whole filter* (build + probe + false-positive set) is exactly
oracle-checkable. Two physical forms, one semantics:

- :func:`bloom_flag_docs` — relational form: the benchmark's set-bit
  positions are a tiny int relation, broadcast; corpus n-gram probes
  are a broadcast semi-join per position. This is the gate/oracle
  vehicle, and also the form you would use when the filter must stay
  a DataFrame (e.g. persisted and re-joined incrementally).
- :func:`build_bloom_bits` + :func:`bloom_flag_docs_bitset` — the
  production form: positions packed into ``m/64`` int64 words ON THE
  DRIVER (bounded by ``m``, corpus-size-independent — same class as
  the IVF fit sample), shipped as ONE array literal, probed with two
  integer ops per hash. No join at all: the corpus scan never
  shuffles and the filter costs O(words) memory per executor. Unit
  tests pin both forms to identical output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import word_ngrams, word_tokens
from magmapandas_spark.operators.dedup import _KM_PRIME, _md5_60, fan_out

#: Default geometry: m = 2^17 bits (16 KiB bitset, 2048 int64 words),
#: k = 3 probes. For a real eval suite (~1e6 distinct n-grams) the
#: false-positive rate at this load is ~what a 100 TB run would size
#: for; both are constructor arguments.
M_BITS = 1 << 17
K_HASHES = 3


def _position(ng: Column, j: int, m_bits: int) -> Column:
    """j-th Bloom position of an n-gram — md5 + KM double hashing,
    identical arithmetic in the SQL oracle."""
    h1 = _md5_60(ng) % _KM_PRIME
    h2 = _md5_60(ng, offset=17) % _KM_PRIME
    return ((h1 + F.lit(j) * h2) % _KM_PRIME) % m_bits


def _ngram_relation(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, distinct word n-gram) rows, built array-locally."""
    toks = (
        fan_out(docs)
        .select(F.col(id_col), word_tokens(text_col).alias("t"))
    )
    return toks.select(
        id_col, F.explode(word_ngrams("t", n)).alias("ng")
    )


def bench_bit_positions(
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = M_BITS,
    k: int = K_HASHES,
) -> DataFrame:
    """Distinct set-bit positions of the benchmark's Bloom filter —
    a ≤ min(k·|ngrams|, m) row int relation (tiny: bounded by ``m``
    regardless of benchmark size)."""
    ng = _ngram_relation(bench, id_col, text_col, n).select("ng").distinct()
    pos = ng.select(
        F.explode(
            F.array(*[_position(F.col("ng"), j, m_bits) for j in range(k)])
        ).alias("p")
    )
    return pos.distinct()


def bloom_flag_docs(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = M_BITS,
    k: int = K_HASHES,
) -> DataFrame:
    """Relational Bloom probe: flag corpus docs with ≥1 n-gram whose
    ``k`` positions are all set in the benchmark filter.

    Plan shape: benchmark → positions (tiny, broadcast); corpus →
    (id, p_0..p_{k-1}) one row per n-gram → k CHAINED broadcast
    left-semi joins (one per probe position) → per-doc count. The
    chain is the Bloom AND: an n-gram survives only if every p_j is
    in the set, and each semi join short-circuits the misses before
    the next probe — no explode, no (id, ngram-string) shuffle; the
    only corpus-side shuffle is the final per-doc count of (id) rows.

    Returns (id, n_flagged) for flagged docs only."""
    # Materialize the (≤ m-row) position set ONCE: each of the k semi
    # joins broadcasts it, and without a checkpoint every broadcast
    # build re-runs the whole benchmark tokenize→ngram→md5 pipeline
    # (the plan showed k copies of the bench subtree — guide §3.3,
    # materialize an intermediate to truncate the plan). The relation
    # is bounded by m_bits regardless of benchmark size.
    positions = bench_bit_positions(
        bench, id_col, text_col, n, m_bits, k
    ).localCheckpoint(eager=True)
    cng = _ngram_relation(corpus, id_col, text_col, n)
    survivors = cng.select(
        id_col,
        *[
            _position(F.col("ng"), j, m_bits).alias(f"p{j}")
            for j in range(k)
        ],
    )
    for j in range(k):
        survivors = survivors.join(
            F.broadcast(positions.withColumnRenamed("p", f"p{j}")),
            on=f"p{j}",
            how="left_semi",
        )
    return (
        survivors.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


def build_bloom_bits(
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = M_BITS,
    k: int = K_HASHES,
) -> list[int]:
    """Materialize the benchmark Bloom filter as ``m_bits/64`` int64
    words (driver-side, bounded by ``m_bits`` — NOT by benchmark or
    corpus size: the collect is the ≤ m-row distinct-position
    relation)."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    rows = bench_bit_positions(
        bench, id_col, text_col, n, m_bits, k
    ).collect()
    words = [0] * (m_bits // 64)
    for r in rows:
        p = r[0]
        words[p >> 6] |= 1 << (p & 63)
    # pack into signed int64 range for the Spark literal
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_flag_docs_bitset(
    corpus: DataFrame,
    words: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = M_BITS,
    k: int = K_HASHES,
) -> DataFrame:
    """Production Bloom probe: the packed filter rides the plan as one
    array<bigint> literal; each probe is an element_at + shift + mask.
    Zero joins — the only shuffle is the final per-doc count, and even
    that disappears when the caller only wants the boolean filter
    (compose ``.filter`` on ``n_flagged`` upstream instead)."""
    lit_words = F.lit(words)
    cng = _ngram_relation(corpus, id_col, text_col, n)
    probes = cng.select(
        id_col,
        *[
            _position(F.col("ng"), j, m_bits).alias(f"p{j}")
            for j in range(k)
        ],
    )
    looked = probes.select(
        id_col,
        *[F.col(f"p{j}") for j in range(k)],
        *[
            F.get(lit_words, (F.col(f"p{j}") / 64).cast("int")).alias(
                f"w{j}"
            )
            for j in range(k)
        ],
    )
    # SQL-form shiftrightunsigned accepts a column shift count (the
    # Python builtin wrapper requires a literal)
    cond = " AND ".join(
        f"((shiftrightunsigned(w{j}, CAST(p{j} % 64 AS INT)) & 1) = 1)"
        for j in range(k)
    )
    return (
        looked.filter(F.expr(cond))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


# ---------------------------------------------------------------------
# Gate query + oracle
# ---------------------------------------------------------------------

def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: Bloom-filter decontamination of the documents table
    against its own held-out slice (doc_id % 11 = 0 plays the eval
    set, mirroring ngram_contamination) — flagged docs + flagged
    n-gram counts, exact including any Bloom false positives."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    corpus = docs.filter(F.col("doc_id") % 11 != 0)
    out = bloom_flag_docs(corpus, bench)
    return out.orderBy("doc_id").coalesce(1)


SQL_BLOOM_DECONTAMINATE = """
WITH tok AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
ng AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS ng
  FROM tok, UNNEST(range(1, len(t) - 3)) AS r(i)
  WHERE len(t) >= 5
),
hashed AS (
  SELECT doc_id, ng,
         (('0x' || substr(md5(ng), 1, 15))::BIGINT % 2147483647) AS h1,
         (('0x' || substr(md5(ng), 17, 15))::BIGINT % 2147483647) AS h2
  FROM ng
),
bench_pos AS (
  SELECT DISTINCT ((b.h1 + j.j * b.h2) % 2147483647) % 131072 AS p
  FROM (SELECT DISTINCT ng, h1, h2 FROM hashed WHERE doc_id % 11 = 0) b,
       (SELECT UNNEST([0, 1, 2]) AS j) j
),
probes AS (
  SELECT doc_id, ng, ((h1 + j.j * h2) % 2147483647) % 131072 AS p
  FROM hashed, (SELECT UNNEST([0, 1, 2]) AS j) j
  WHERE doc_id % 11 <> 0
),
flagged AS (
  SELECT doc_id, ng
  FROM probes
  WHERE p IN (SELECT p FROM bench_pos)
  GROUP BY doc_id, ng
  HAVING COUNT(*) = 3
)
SELECT doc_id, COUNT(*) AS n_flagged
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "bloom_decontaminate": (q_bloom_decontaminate, SQL_BLOOM_DECONTAMINATE),
}
