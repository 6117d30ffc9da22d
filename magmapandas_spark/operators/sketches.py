"""Deterministic cardinality sketches (beyond-reference surface).

KMV (k-minimum-values) distinct-count estimation — the classic
bottom-k sketch (Bar-Yossef et al. 2002; the estimator HLL replaced
in practice but with two properties that matter here):

- it is EXACTLY reproducible cross-engine (the sketch is "the k
  smallest md5 hashes", pure order statistics — no engine-specific
  register layout like HLL), so the gate can hash-compare estimates;
- it is mergeable (union of bottom-k sets, re-truncated to k), the
  property that makes sketches work at 100 TB — realized here as a
  TRUE two-phase bottom-k aggregation (no per-group sort window):
  phase 1 builds per-(group, hash-shard) sorted distinct-hash arrays
  truncated to k, phase 2 merges ≤ k values per shard and
  re-truncates. See :func:`kmv_distinct` for the honest state-bound
  statement; ``hll_distinct`` below is the constant-state alternative
  when ±6.5 % error is acceptable.

Estimator: with h normalized to [0,1) and h_(k) the k-th smallest
distinct hash, E[distinct] = (k-1)/h_(k); groups with fewer than k
distinct values report their exact count (the sketch degenerates to
an exact set).

``approx_count_distinct`` (HyperLogLog++) remains the right call when
cross-engine reproducibility doesn't matter; this module exists
because a correctness-gated pipeline needs the deterministic twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import SQL_WORD_TOKENS
from magmapandas_spark.operators.dedup import _md5_60

#: 2^60 — _md5_60 yields uniform integers in [0, 2^60).
_H_SCALE = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
    n_shards: int = 32,
) -> DataFrame:
    """Per-group KMV distinct-count estimate beside the exact count,
    as a TRUE two-phase bottom-k aggregation — no per-group sort
    window anywhere in the plan (tests/test_plan_invariants.py pins
    this).

    Phase 1 groups by (group, ``pmod(h, n_shards)``) and aggregates
    ``slice(array_sort(collect_set(h)), 1, k)``: map-side partial
    aggregation dedups hashes before the shuffle, and sorting happens
    only INSIDE bounded per-shard arrays (an expression, not a Sort
    operator). Phase 2 merges ≤ k hashes per shard per group and
    re-truncates — the bottom-k union/re-truncate merge that makes
    the sketch composable. Shards partition the hash space (same
    value → same hash → same shard), so per-shard distinct counts sum
    to the group's exact distinct-hash count with no cross-shard
    dedup.

    Honest state bound: phase-1 partial state is a shard's distinct-
    hash set (≈ D/n_shards per group, bounded by CHOOSING n_shards ≈
    D/k at the target scale), phase-2 state is ≤ n_shards·k hashes
    per group. For truly constant per-group state use
    :func:`hll_distinct` (m registers, elementwise-max mergeable).

    NULL values are excluded (standard distinct-count semantics).
    Returns (group, n_exact, kmv_estimate, rel_error)."""
    if k < 2:
        raise ValueError("k must be ≥ 2")
    if n_shards < 1:
        raise ValueError("n_shards must be ≥ 1")
    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col),
        _md5_60(F.col(value_col).cast("string")).alias("h"),
    )
    p1 = (
        d.groupBy(group_col, F.pmod("h", F.lit(n_shards)).alias("shard"))
        .agg(F.array_sort(F.collect_set("h")).alias("hs"))
        .select(
            group_col,
            F.size("hs").cast("long").alias("n_shard"),
            F.slice("hs", 1, k).alias("hs"),
        )
    )
    p2 = p1.groupBy(group_col).agg(
        F.sum("n_shard").alias("n_exact"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("hs"))), 1, k
        ).alias("bk"),
    )
    # k-th smallest hash, normalized to [0,1) — casting the INTEGER
    # order statistic to double commutes with the old sort-the-doubles
    # formulation (rounding to double is monotone)
    hk = F.get("bk", k - 1).cast("double") / F.lit(_H_SCALE)
    est = F.when(
        F.col("n_exact") >= k, F.lit(float(k - 1)) / hk
    ).otherwise(F.col("n_exact").cast("double"))
    return p2.select(
        group_col,
        "n_exact",
        F.round(est, 4).alias("kmv_estimate"),
        F.round(
            (est - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_error"),
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: KMV (k=256) distinct-user estimate per event type
    vs the exact count — estimate, exact, and relative error all under
    the hash (the estimator itself is what's being verified)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(events, "event_type", "user_id").orderBy(
        "event_type"
    )


#: the oracle mirrors the two-phase semantics (distinct HASHES, k-th
#: smallest integer hash normalized at the end) — the row_number here
#: is oracle-side convenience only; the engine plan has no window
SQL_KMV_DISTINCT = """
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM events WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY h
         ) AS r
  FROM d
),
agg AS (
  SELECT event_type,
         COUNT(*) AS n_exact,
         MAX(CASE WHEN r = 256
                  THEN CAST(h AS DOUBLE) / 1152921504606846976.0 END)
           AS hk
  FROM ranked GROUP BY event_type
)
SELECT event_type,
       n_exact,
       ROUND(CASE WHEN n_exact >= 256 THEN 255.0 / hk
                  ELSE CAST(n_exact AS DOUBLE) END, 4) AS kmv_estimate,
       ROUND((CASE WHEN n_exact >= 256 THEN 255.0 / hk
                   ELSE CAST(n_exact AS DOUBLE) END - n_exact)
             / n_exact, 6) AS rel_error
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# HyperLogLog — deterministic, integer-exact register arithmetic
# ---------------------------------------------------------------------

#: register-count exponent: m = 2^8 = 256 registers, ±1.04/√m ≈ 6.5%
_HLL_P = 8
_HLL_M = 1 << _HLL_P
#: md5-hash width 60 bits → 52 bits left for the rho pattern
_HLL_WBITS = 60 - _HLL_P
#: harmonic-sum scale exponent: rho (and so a register M) ranges up to
#: WBITS + 1 = 53 (the all-low-bits-zero hash), so terms are
#: 2^(53 - M) ∈ [2^0, 2^52] — scaling by 2^52 instead would make the
#: M = 53 term 2^-1: a negative shift that Spark silently wraps to
#: Long.MIN_VALUE and DuckDB rejects outright
_HLL_SCALE = _HLL_WBITS + 1
#: alpha_m · m² · 2^53 — the estimator numerator as ONE Python float
#: literal inlined verbatim on both engines, so E = C / S_int is a
#: single identical IEEE division
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_C = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)


def hll_register_relation(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """The HLL sketch STATE as a relation: (group, idx, m_reg) with
    ≤ m rows per group. max(rho) is idempotent under duplicates (no
    distinct shuffle needed) and the relation merges with any other
    register relation by elementwise ``max`` — the property both the
    100 TB batch plan and the cross-micro-batch streaming ingest
    (streaming/streams.py) rely on."""
    vals = df.filter(F.col(value_col).isNotNull())
    h = _md5_60(F.col(value_col).cast("string"))
    w = h % F.lit(1 << _HLL_WBITS).cast("long")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    return (
        vals.select(
            F.col(group_col).alias("g"),
            F.shiftrightunsigned(h, _HLL_WBITS).alias("idx"),
            rho.alias("rho"),
        )
        .groupBy("g", "idx")
        .agg(F.max("rho").alias("m_reg"))
        .withColumnRenamed("g", group_col)
    )


def merge_hll_registers(a: DataFrame, b: DataFrame, group_col: str) -> DataFrame:
    """Union + elementwise max — the sketch merge (associative,
    commutative, idempotent), usable across partitions, days, tables,
    or micro-batches."""
    return (
        a.unionByName(b)
        .groupBy(group_col, "idx")
        .agg(F.max("m_reg").alias("m_reg"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_col: str
) -> DataFrame:
    """Finalize a register relation into (group, est): the scaled
    integer harmonic sum, the single-division estimator, and the
    small-range correction (see :func:`hll_distinct` for why every
    step is cross-engine exact)."""
    s = regs.groupBy(group_col).agg(
        # python shiftleft() wants a literal int shift; the SQL form
        # takes an expression
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - m_reg)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    s_int = F.col("s_present") + (
        F.lit(_HLL_M) - F.col("n_regs")
    ) * F.lit(1 << _HLL_SCALE).cast("long")
    zeros = F.lit(_HLL_M) - F.col("n_regs")
    e_raw = F.lit(_HLL_C) / s_int.cast("double")
    est = F.when(
        (zeros > 0) & (e_raw <= F.lit(2.5 * _HLL_M)),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(e_raw)
    return s.select(group_col, est.alias("est"))


def hll_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate beside the exact
    count — the engine's own deterministic twin of
    ``approx_count_distinct`` (whose HLL++ register layout is
    engine-private and so can never sit under a cross-engine hash).

    Determinism design (Flajolet et al. 2007, exact-arithmetic
    variant): md5-60 hash → top 8 bits pick the register, rho = count
    of leading zeros in the remaining 52 bits + 1 (via
    ``length(bin(w))`` — identical in Spark and DuckDB). The harmonic
    sum Σ 2^-M[j] is computed SCALED BY 2^53 so every term
    ``2^(53 - M)`` is an exact BIGINT (M ≤ 53 → terms 2^0 … 2^52;
    absent registers contribute 2^53 each) — an
    order-independent integer sum where the textbook float sum would
    be partition-order-dependent (61-bit dynamic range > a double's 53
    bits). The only float ops are the final C/S division and the
    small-range ``m·ln(m/zeros)`` correction, single identical IEEE
    expressions on identical integers.

    Scale posture: unlike KMV's distinct+window, HLL needs NO distinct
    shuffle — max(rho) is idempotent under duplicates, so the register
    table builds with map-side partial max into ≤ m rows per group.
    The register relation is mergeable (elementwise max), the property
    that makes the sketch work at 100 TB.

    Returns (group, n_exact, hll_estimate, rel_error); the exact
    branch exists for the gate's comparison and would be dropped at
    scale."""
    vals = df.filter(F.col(value_col).isNotNull())
    regs = hll_register_relation(df, group_col, value_col)
    sketch = hll_estimate_from_registers(regs, group_col)
    exact = vals.groupBy(group_col).agg(
        F.countDistinct(value_col).alias("n_exact")
    )
    return exact.join(sketch, on=group_col).select(
        group_col,
        "n_exact",
        F.round("est", 4).alias("hll_estimate"),
        F.round(
            (F.col("est") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_error"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: HLL (m=256) distinct-user estimate per event type
    vs exact — registers, estimator, and small-range correction all
    under the hash, beside the KMV gate so both classic sketches are
    verified."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hll_distinct(events, "event_type", "user_id").orderBy(
        "event_type"
    )


SQL_HLL_DISTINCT = f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM events WHERE user_id IS NOT NULL
),
b AS (
  SELECT event_type, h >> {_HLL_WBITS} AS idx,
         h % {1 << _HLL_WBITS} AS w
  FROM h
),
r AS (
  SELECT event_type, idx,
         MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS m_reg
  FROM b GROUP BY event_type, idx
),
s AS (
  SELECT event_type,
         SUM((1::BIGINT << ({_HLL_SCALE} - m_reg)))::BIGINT AS s_present,
         COUNT(*) AS n_regs
  FROM r GROUP BY event_type
),
e AS (
  SELECT event_type,
         CAST({_HLL_C!r} AS DOUBLE)
           / CAST(s_present + ({_HLL_M} - n_regs)
                  * {1 << _HLL_SCALE} AS DOUBLE) AS e_raw,
         {_HLL_M} - n_regs AS zeros
  FROM s
),
est AS (
  SELECT event_type,
         CASE WHEN zeros > 0 AND e_raw <= {2.5 * _HLL_M!r}
              THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / zeros)
              ELSE e_raw END AS est
  FROM e
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
  FROM events WHERE user_id IS NOT NULL GROUP BY event_type
)
SELECT ex.event_type, ex.n_exact,
       ROUND(est.est, 4) AS hll_estimate,
       ROUND((est.est - ex.n_exact) / ex.n_exact, 6) AS rel_error
FROM ex JOIN est ON ex.event_type = est.event_type
ORDER BY ex.event_type
"""


# ---------------------------------------------------------------------
# Count-min sketch — deterministic heavy-hitter frequency estimation
# ---------------------------------------------------------------------

#: depth (independent hash rows) × width (buckets per row). Width is
#: sized to the GATE's 31-token synthetic vocabulary so collisions —
#: the phenomenon the sketch bounds — actually occur and the
#: overestimate column is non-vacuous; production would size w ≫
#: vocabulary of heavy hitters (w = ⌈e/ε⌉).
_CMS_D = 4
_CMS_W = 8


def _cms_bucket_pairs(df: DataFrame) -> DataFrame:
    """(token, tf) → one (token, tf, r, b) row per hash row."""
    return df.select(
        "token",
        "tf",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (
                            _md5_60(
                                F.concat(
                                    F.lit(f"cms{r}:"), F.col("token")
                                )
                            )
                            % _CMS_W
                        ).alias("b"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("token", "tf", "rb.r", "rb.b")


def cms_counter_relation(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The CMS sketch STATE as a relation: (r, b, c) — at most d·w
    rows no matter the corpus size. Built with one map-side-combined
    aggregation over the token stream; mergeable by elementwise sum
    (:func:`merge_cms_counters`)."""
    from magmapandas_spark.operators.curation import word_tokens

    tf = (
        docs.select(F.explode(word_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _cms_bucket_pairs(tf).groupBy("r", "b").agg(
        F.sum("tf").alias("c")
    )


def merge_cms_counters(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union + elementwise sum — the CMS merge (associative and
    commutative; exact integer arithmetic, so merge order is
    irrelevant bit-for-bit)."""
    return a.unionByName(b).groupBy("r", "b").agg(
        F.sum("c").alias("c")
    )


def cms_token_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 30,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus
    token stream, reported for the ``top_k`` exact heavy hitters so
    the gate verifies estimate AND guaranteed-overestimate property.

    The sketch is d×w integer counters: every token occurrence
    increments one counter per hash row; estimate = min over the d
    counters. All arithmetic is integer (portable md5 bucket hashes,
    exact sums) — there is nothing to drift cross-engine.

    Scale posture: the counter table is d·w rows TOTAL regardless of
    corpus size (the point of the sketch), built with one map-side-
    combined agg from the token-frequency relation and broadcast back
    for the min-lookup. Counter relations merge by elementwise sum
    (:func:`merge_cms_counters`), so per-partition — or per-micro-
    batch, see streaming/streams.py — sketches compose; the 100 TB
    deployment keeps one d×w array per executor and merges at the
    end."""
    from magmapandas_spark.operators.curation import word_tokens
    from magmapandas_spark.operators.dedup import fan_out

    bucket_pairs = _cms_bucket_pairs

    tok = fan_out(docs).select(
        F.explode(word_tokens(text_col)).alias("token")
    )
    # tf feeds both the counter build (all tokens) and the top-k
    # selection; persist so the tokenize+agg runs once
    tf = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist()
    counters = bucket_pairs(tf).groupBy("r", "b").agg(
        F.sum("tf").alias("c")
    )
    # the min-lookup only needs the top_k heavy hitters — probing the
    # counters with the WHOLE vocabulary would do |V|/top_k times more
    # join+agg work to keep top_k rows
    top = tf.orderBy(F.desc("tf"), "token").limit(top_k)
    est = (
        bucket_pairs(top)
        .join(F.broadcast(counters), on=["r", "b"])
        .groupBy("token", "tf")
        .agg(F.min("c").alias("cms_estimate"))
    )
    out = est.orderBy(F.desc("tf"), "token").select(
        "token",
        "tf",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("tf")).alias("overestimate"),
    )
    # materialize the (top_k-bounded) result, sever lineage, release
    # the cache — the dedup.py convention: repeated calls in a
    # long-lived session must not accumulate cached tables
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    return out


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: count-min estimates for the 30 most frequent corpus
    tokens — every counter collision (overestimate) is deterministic,
    so the sketch itself sits under the hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cms_token_counts(docs).orderBy(F.desc("tf"), "token")


SQL_CMS_TOPK = f"""
WITH tok AS (
  SELECT unnest({SQL_WORD_TOKENS}) AS token FROM documents
),
tf AS (
  SELECT token, COUNT(*) AS tf FROM tok GROUP BY token
),
pairs AS (
  SELECT token, tf, r.r AS r,
         ('0x' || substr(md5('cms' || r.r || ':' || token), 1, 15))
           ::BIGINT % {_CMS_W} AS b
  FROM tf, (SELECT UNNEST(range({_CMS_D})) AS r) r
),
counters AS (
  SELECT r, b, SUM(tf) AS c FROM pairs GROUP BY r, b
),
est AS (
  SELECT p.token, p.tf, MIN(c.c) AS cms_estimate
  FROM pairs p JOIN counters c ON p.r = c.r AND p.b = c.b
  GROUP BY p.token, p.tf
)
SELECT token,
       CAST(tf AS BIGINT) AS tf,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(cms_estimate - tf AS BIGINT) AS overestimate
FROM est
ORDER BY tf DESC, token
LIMIT 30
"""


# ---------------------------------------------------------------------
# HLL join-cardinality estimation — the CBO primitive
# ---------------------------------------------------------------------

def hll_join_cardinality(
    a: DataFrame, a_key: str, b: DataFrame, b_key: str
) -> DataFrame:
    """Estimate the distinct-key overlap |keys(A) ∩ keys(B)| — the
    number a join-size/selectivity model needs — from HLL sketches
    alone, via inclusion-exclusion: est(A∩B) = est(A) + est(B) −
    est(A∪B), where the UNION sketch is the elementwise max of the
    two register relations (the merge HLL gets for free).

    This is how a cost-based optimizer sizes joins at 100 TB: each
    table's key sketch is ≤ m rows, maintained incrementally
    (streaming_hll_ingest), and the estimate costs one register merge
    — the tables themselves are never rescanned, let alone joined.
    The exact counts computed alongside are the gate's comparison and
    would be dropped at scale.

    Returns ONE row: (n_exact_a, n_exact_b, n_exact_common, est_a,
    est_b, est_union, est_common) — estimates rounded to 4, the
    inclusion-exclusion arithmetic written as the identical
    fixed-order expression in the SQL twin."""
    ka = a.select(F.col(a_key).alias("v")).filter(F.col("v").isNotNull())
    kb = b.select(F.col(b_key).alias("v")).filter(F.col("v").isNotNull())
    # materialize the ≤m-row-per-side register relations ONCE: ru's
    # merge and the per-side estimates each re-built the registers
    # from a fresh table scan when left lazy (8 parquet scans in the
    # plan — guide §3.3). The register relation IS the maintained
    # sketch state the docstring describes, so materializing it is
    # the operator's own contract. Both sides are built in ONE
    # union-with-side-tag aggregation (one driver-synchronous job,
    # not two sequential ones): register values per side are
    # identical to two separate builds — the group key only routes
    # rows, max(rho) within (side, idx) sees the same inputs.
    # Deterministic, hash unchanged.
    tagged = ka.select(F.lit("a").alias("tag"), "v").unionByName(
        kb.select(F.lit("b").alias("tag"), "v")
    )
    regs = hll_register_relation(tagged, "tag", "v").localCheckpoint(
        eager=True
    )
    side = F.lit("k").alias("side")
    ra = regs.filter(F.col("tag") == "a").select(side, "idx", "m_reg")
    rb = regs.filter(F.col("tag") == "b").select(side, "idx", "m_reg")
    ru = merge_hll_registers(ra, rb, "side")

    def est_of(regs, name):
        return hll_estimate_from_registers(regs, "side").select(
            F.col("est").alias(name)
        )

    ests = (
        est_of(ra, "est_a")
        .crossJoin(est_of(rb, "est_b"))
        .crossJoin(est_of(ru, "est_union"))
    )
    exact_a = ka.agg(F.countDistinct("v").alias("n_exact_a"))
    exact_b = kb.agg(F.countDistinct("v").alias("n_exact_b"))
    exact_common = (
        ka.distinct()
        .join(kb.distinct(), on="v")
        .agg(F.count(F.lit(1)).alias("n_exact_common"))
    )
    return (
        exact_a.crossJoin(exact_b)
        .crossJoin(exact_common)
        .crossJoin(F.broadcast(ests))
        .select(
            "n_exact_a",
            "n_exact_b",
            "n_exact_common",
            F.round("est_a", 4).alias("est_a"),
            F.round("est_b", 4).alias("est_b"),
            F.round("est_union", 4).alias("est_union"),
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_common"),
        )
    )


def q_hll_join_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: sketch-estimated vs exact key overlap between
    orders.o_custkey and the EVEN-keyed customer slice (a genuine
    partial overlap, so inclusion-exclusion has real work to do) —
    the register merge, all three estimators, and the
    inclusion-exclusion arithmetic under the hash."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_custkey") % 2 == 0
    )
    return hll_join_cardinality(orders, "o_custkey", cust, "c_custkey")


def _sql_hll_est(src: str) -> str:
    """DuckDB CTE chain computing the scalar HLL estimate of the
    distinct values of relation ``src`` (one column ``v``)."""
    return f"""(
  WITH h AS (
    SELECT ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM {src}
  ),
  b AS (
    SELECT h >> {_HLL_WBITS} AS idx, h % {1 << _HLL_WBITS} AS w FROM h
  ),
  r AS (
    SELECT idx,
           MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                    ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS m_reg
    FROM b GROUP BY idx
  ),
  s AS (
    SELECT SUM((1::BIGINT << ({_HLL_SCALE} - m_reg)))::BIGINT
             AS s_present,
           COUNT(*) AS n_regs
    FROM r
  )
  SELECT CASE WHEN ({_HLL_M} - n_regs) > 0
              AND CAST({_HLL_C!r} AS DOUBLE)
                  / CAST(s_present + ({_HLL_M} - n_regs)
                         * {1 << _HLL_SCALE} AS DOUBLE)
                  <= {2.5 * _HLL_M!r}
         THEN {float(_HLL_M)!r}
              * ln({float(_HLL_M)!r} / ({_HLL_M} - n_regs))
         ELSE CAST({_HLL_C!r} AS DOUBLE)
              / CAST(s_present + ({_HLL_M} - n_regs)
                     * {1 << _HLL_SCALE} AS DOUBLE) END AS est
  FROM s
)"""


SQL_HLL_JOIN_CARD = f"""
WITH ka AS (SELECT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL),
kb AS (SELECT c_custkey AS v FROM customer
      WHERE c_custkey IS NOT NULL AND c_custkey % 2 = 0),
ku AS (SELECT v FROM ka UNION ALL SELECT v FROM kb),
ea AS (SELECT est AS est_a FROM {_sql_hll_est('ka')}),
eb AS (SELECT est AS est_b FROM {_sql_hll_est('kb')}),
eu AS (SELECT est AS est_union FROM {_sql_hll_est('ku')}),
xa AS (SELECT COUNT(DISTINCT v) AS n_exact_a FROM ka),
xb AS (SELECT COUNT(DISTINCT v) AS n_exact_b FROM kb),
xc AS (
  SELECT COUNT(*) AS n_exact_common FROM (
    SELECT DISTINCT ka.v FROM ka JOIN kb ON ka.v = kb.v
  )
)
SELECT n_exact_a, n_exact_b, n_exact_common,
       ROUND(est_a, 4) AS est_a,
       ROUND(est_b, 4) AS est_b,
       ROUND(est_union, 4) AS est_union,
       ROUND(est_a + est_b - est_union, 4) AS est_common
FROM xa, xb, xc, ea, eb, eu
"""


# ---------------------------------------------------------------------
# KMV / theta-sketch set operations: intersection & union estimation
# ---------------------------------------------------------------------

#: bottom-k size for the set-operation gate (binds at every SF: even
#: sf0.001 has ~130 distinct users per event type)
KMV_SETOPS_K = 64


def kmv_setops(
    events: DataFrame,
    type_a: str = "view",
    type_b: str = "purchase",
    k: int = KMV_SETOPS_K,
) -> DataFrame:
    """Theta-sketch set operations over two md5-hashed user sets.

    Builds the bottom-``k`` hash sketch of each side's distinct users
    (deterministic: the k SMALLEST 60-bit md5 values), takes
    ``theta`` = the k-th smallest of the two sketches' union, and
    estimates ``|A ∪ B| ≈ (k−1)·2⁶⁰ div theta`` (the KMV estimator)
    and ``|A ∩ B| ≈ |{h ∈ S_A ∩ S_B : h < theta}|·2⁶⁰ div theta``
    (the theta-sketch intersection). Exact counts ride along so the
    gate hashes estimator AND ground truth.

    Scale posture: each sketch is a TakeOrdered bottom-k (per-
    partition k candidates, merged on the driver-side take — O(k)
    state, never a global sort); the set algebra then runs on ≤ 2k
    rows. This is the sketch-tier answer to "how many users did both"
    without a distinct-join: at 100 TB the two scans are the cost and
    the sketches are constant-size, mergeable, and persistable. When
    a side has < k distinct values theta degrades to the observed
    maximum and the estimators fall back to near-exact counts.
    """
    spark = events.sparkSession
    two60 = 1 << 60

    def side(t: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == t)
            .select(
                _md5_60(F.col("user_id").cast("string")).alias("h")
            )
            .distinct()
        )

    # the distinct-hash relations are user-set-sized; caching them
    # collapses five downstream consumers (sketch takes, exact counts,
    # exact intersection) onto ONE events scan per side
    ha, hb = side(type_a).persist(), side(type_b).persist()
    sa = ha.orderBy("h").limit(k).persist()
    sb = hb.orderBy("h").limit(k).persist()
    union_k = (
        sa.unionAll(sb).distinct().orderBy("h").limit(k)
    )
    urows = union_k.agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("kth")
    ).collect()[0]
    n_union_sketch, theta = int(urows["n"]), int(urows["kth"])
    exact_a = ha.count()
    exact_b = hb.count()
    exact_inter = ha.join(hb, on="h").count()
    w = (
        sa.join(sb, on="h")
        .filter(F.col("h") < theta)
        .count()
    )
    if n_union_sketch < k:
        # sketches saw everything: estimators degrade to exact
        est_union = exact_a + exact_b - exact_inter
        est_inter = exact_inter
    else:
        # cap: with a sane hash the estimate is ~|A∪B|, but guard the
        # int64 range anyway (theta=1 would put (k−1)·2⁶⁰ over it)
        est_union = min((k - 1) * two60 // theta, 1 << 62)
        est_inter = min(w * two60 // theta, 1 << 62)
    row = [(
        k,
        theta,
        exact_a,
        exact_b,
        exact_a + exact_b - exact_inter,
        exact_inter,
        est_union,
        est_inter,
    )]
    for cached in (sa, sb, ha, hb):
        cached.unpersist()
    return spark.createDataFrame(
        row,
        "k long, theta long, exact_a long, exact_b long,"
        " exact_union long, exact_inter long, est_union long,"
        " est_inter long",
    )


def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: theta-sketch union/intersection estimation between
    the viewer and purchaser user sets — the estimators AND the exact
    ground truth under one hash."""
    from magmapandas_spark.relational.suite import _t

    ev = spark.read.parquet(_t(sf_dir, "events"))
    return kmv_setops(ev)


SQL_KMV_SETOPS = f"""
WITH ha AS (
  SELECT DISTINCT
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      AS h
  FROM events WHERE event_type = 'view'
),
hb AS (
  SELECT DISTINCT
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      AS h
  FROM events WHERE event_type = 'purchase'
),
sa AS (SELECT h FROM ha ORDER BY h LIMIT {KMV_SETOPS_K}),
sb AS (SELECT h FROM hb ORDER BY h LIMIT {KMV_SETOPS_K}),
uk AS (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
  ORDER BY h LIMIT {KMV_SETOPS_K}
),
stats AS (
  SELECT (SELECT COUNT(*) FROM uk) AS n_u,
         (SELECT MAX(h) FROM uk) AS theta,
         (SELECT COUNT(*) FROM ha) AS exact_a,
         (SELECT COUNT(*) FROM hb) AS exact_b,
         (SELECT COUNT(*) FROM ha JOIN hb USING (h)) AS exact_inter,
         (SELECT COUNT(*) FROM sa JOIN sb USING (h)
          WHERE h < (SELECT MAX(h) FROM uk)) AS w
)
SELECT
  CAST({KMV_SETOPS_K} AS BIGINT) AS k,
  theta,
  CAST(exact_a AS BIGINT) AS exact_a,
  CAST(exact_b AS BIGINT) AS exact_b,
  CAST(exact_a + exact_b - exact_inter AS BIGINT) AS exact_union,
  CAST(exact_inter AS BIGINT) AS exact_inter,
  CAST(CASE WHEN n_u < {KMV_SETOPS_K}
       THEN exact_a + exact_b - exact_inter
       ELSE LEAST(({KMV_SETOPS_K} - 1)::HUGEINT * {1 << 60}
                  // theta, {1 << 62}) END
    AS BIGINT) AS est_union,
  CAST(CASE WHEN n_u < {KMV_SETOPS_K}
       THEN exact_inter
       ELSE LEAST(w::HUGEINT * {1 << 60} // theta, {1 << 62}) END
    AS BIGINT) AS est_inter
FROM stats
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "kmv_distinct": (q_kmv_distinct, SQL_KMV_DISTINCT),
    "hll_distinct": (q_hll_distinct, SQL_HLL_DISTINCT),
    "cms_topk": (q_cms_topk, SQL_CMS_TOPK),
    "hll_join_card": (q_hll_join_card, SQL_HLL_JOIN_CARD),
    "kmv_setops": (q_kmv_setops, SQL_KMV_SETOPS),
}
