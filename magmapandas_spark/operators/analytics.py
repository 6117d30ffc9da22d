"""Event-log / warehouse analytics operators (beyond-reference
surface): SCD type-2 dimension building, ordered funnel analysis,
bigram-PMI collocation mining, and incremental materialized-view
maintenance.

Each operator is the Spark-first form of a pipeline every large
warehouse runs daily; all four keep their entire output in exact
integer / fixed-order arithmetic so the gate can hash them directly.

Scale postures:

- :func:`scd2_build` — one shuffle on the entity key, then two window
  passes over the same partitioning (change detection, interval
  close). No self-join: ``lag``/``lead`` do the adjacency. At 100 TB
  the cost is the one entity-keyed exchange.
- :func:`funnel_steps` — one shuffle into per-user full-partition
  windows; each successive step is a conditional MIN over the user's
  own rows referencing the previous step's time. Output is one
  summary row: counts and integer per-mille conversions.
- :func:`token_pmi` — two word-count-shaped aggregations (unigrams,
  adjacent bigrams, both built scan-locally from the token array) and
  two equi-joins of bigram counts against the vocabulary-sized
  unigram relation (broadcast at crawl scale). Scores are exact
  integer ppm ratios — no cross-engine ``ln`` one-ulp risk. The
  ``c_ab·N·10⁶`` product fits BIGINT through ~1e12-token corpora;
  beyond that move the score to DECIMAL(38,0) (same expression).
- :func:`incremental_agg` — the mergeable-state contract made
  executable: partial aggregation states from a base slice and a
  delta slice are MERGED (sums of exact decimal sums, min of mins,
  max of maxes) and the gate hashes the merged result against the
  oracle's direct full recompute — merge == recompute, on every
  engine. This is the maintenance shape that turns a 100 TB nightly
  re-aggregation into a delta-sized job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import SQL_WORD_TOKENS
from magmapandas_spark.relational.suite import SQL_DSUM, _t, dsum

# ---------------------------------------------------------------------
# SCD type-2 dimension build
# ---------------------------------------------------------------------


def scd2_build(
    changes: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Build SCD type-2 validity intervals from a CDC-style change log.

    Rows are ordered per entity by ``(ts, seq)`` (the sequence column
    makes equal-timestamp changes totally ordered, so every engine
    sees the same history). Consecutive duplicate states collapse —
    a no-op update extends the current interval instead of opening a
    new version. Returns one row per version: entity key, ``version``
    (1-based), ``state``, ``valid_from_us`` / ``valid_to_us`` (epoch
    microseconds; open interval end is NULL) and ``is_current``.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, seq_col)
    changed = changes.withColumn(
        "_prev", F.lag(state_col).over(w)
    ).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col(state_col))
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col, seq_col)
    return (
        changed.select(
            F.col(key_col),
            F.row_number().over(w2).alias("version"),
            F.col(state_col).alias("state"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias(
                "valid_from_us"
            ),
            F.lead(
                F.unix_micros(F.col(ts_col).cast("timestamp"))
            ).over(w2).alias(
                "valid_to_us"
            ),
            F.lead(F.col(ts_col)).over(w2).isNull().alias("is_current"),
        )
    )


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: SCD2 history of each user's event_type state over
    the events change log — versioned validity intervals with no-op
    collapse, every column an exact integer/string/bool."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return scd2_build(ev).orderBy("user_id", "version")


SQL_SCD2_BUILD = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER w AS prev_state
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changed AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered
  WHERE prev_state IS NULL OR prev_state <> event_type
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
       event_type AS state,
       epoch_us(ts) AS valid_from_us,
       LEAD(epoch_us(ts)) OVER w AS valid_to_us,
       (LEAD(ts) OVER w IS NULL) AS is_current
FROM changed
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


# ---------------------------------------------------------------------
# Ordered funnel analysis
# ---------------------------------------------------------------------

FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


def funnel_steps(
    events: DataFrame,
    steps: list[str] | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered multi-step funnel: per user, step k counts only if an
    event of its type happened STRICTLY after the user's step-(k-1)
    time (each step time is the MIN qualifying timestamp — a pure
    set-min, deterministic without any tie-break column).

    Returns ONE summary row: total users, per-step reached counts,
    per-step conversion in ppm of the previous step (integer div),
    and the mean signup→purchase latency in microseconds over
    converted users (integer div of exact sums).
    """
    steps = steps or FUNNEL_STEPS
    w = Window.partitionBy(user_col)
    df = events.select(
        F.col(user_col), F.col(type_col), F.col(ts_col)
    )
    prev = None
    tcols = []
    for k, step in enumerate(steps):
        name = f"_t{k}"
        if prev is None:
            expr = F.min(
                F.when(F.col(type_col) == step, F.col(ts_col))
            ).over(w)
        else:
            expr = F.min(
                F.when(
                    (F.col(type_col) == step)
                    & (F.col(ts_col) > F.col(prev)),
                    F.col(ts_col),
                )
            ).over(w)
        df = df.withColumn(name, expr)
        tcols.append(name)
        prev = name
    per_user = df.groupBy(user_col).agg(
        *[F.min(c).alias(c) for c in tcols]
    )
    aggs = [F.count(F.lit(1)).alias("n_users")]
    for k, step in enumerate(steps):
        aggs.append(
            F.count(F.col(f"_t{k}")).alias(f"n_{step}")
        )
    aggs.append(
        F.sum(
            F.when(
                F.col(tcols[-1]).isNotNull(),
                F.unix_micros(F.col(tcols[-1]).cast("timestamp"))
                - F.unix_micros(F.col(tcols[0]).cast("timestamp")),
            )
        ).alias("_lat_sum")
    )
    out = per_user.agg(*aggs)
    convs = []
    for k in range(1, len(steps)):
        convs.append(
            F.expr(
                f"(n_{steps[k]} * 1000000)"
                f" div (n_{steps[k - 1]})"
            ).alias(f"conv_{steps[k]}_ppm")
        )
    last = steps[-1]
    return out.select(
        "n_users",
        *[F.col(f"n_{s}") for s in steps],
        *convs,
        F.expr(f"_lat_sum div n_{last}").alias("mean_funnel_us"),
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: signup→view→click→purchase funnel over events —
    strictly-ordered step semantics, integer ppm conversions and mean
    end-to-end latency under the cross-engine hash."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return funnel_steps(ev)


SQL_FUNNEL_CONVERSION = """
WITH t0 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
  FROM events GROUP BY user_id
),
t1 AS (
  SELECT e.user_id,
         MIN(CASE WHEN event_type = 'view' AND e.ts > t0.t0
                  THEN e.ts END) AS t1
  FROM events e JOIN t0 ON t0.user_id = e.user_id
  GROUP BY e.user_id
),
t2 AS (
  SELECT e.user_id,
         MIN(CASE WHEN event_type = 'click' AND e.ts > t1.t1
                  THEN e.ts END) AS t2
  FROM events e JOIN t1 ON t1.user_id = e.user_id
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id,
         MIN(CASE WHEN event_type = 'purchase' AND e.ts > t2.t2
                  THEN e.ts END) AS t3
  FROM events e JOIN t2 ON t2.user_id = e.user_id
  GROUP BY e.user_id
),
u AS (
  SELECT t0.user_id, t0.t0, t1.t1, t2.t2, t3.t3
  FROM t0
  LEFT JOIN t1 ON t1.user_id = t0.user_id
  LEFT JOIN t2 ON t2.user_id = t0.user_id
  LEFT JOIN t3 ON t3.user_id = t0.user_id
)
SELECT
  COUNT(*) AS n_users,
  COUNT(t0) AS n_signup,
  COUNT(t1) AS n_view,
  COUNT(t2) AS n_click,
  COUNT(t3) AS n_purchase,
  COUNT(t1) * 1000000 // COUNT(t0) AS conv_view_ppm,
  COUNT(t2) * 1000000 // COUNT(t1) AS conv_click_ppm,
  COUNT(t3) * 1000000 // COUNT(t2) AS conv_purchase_ppm,
  CAST(SUM(CASE WHEN t3 IS NOT NULL
                THEN epoch_us(t3) - epoch_us(t0) END)
       // COUNT(t3) AS BIGINT) AS mean_funnel_us
FROM u
"""


# ---------------------------------------------------------------------
# Bigram PMI collocation mining
# ---------------------------------------------------------------------


def token_pmi(
    docs: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
    eager: bool = True,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by an integer PMI score.

    ``pmi_ratio_ppm = (c_ab · N · 10⁶) div (c_a · c_b)`` — the inside
    of the PMI logarithm, scaled to exact ppm integers, so ranking
    and values are engine-independent (taking the actual log would
    put a last-ulp ``ln`` divergence under the hash for zero ranking
    benefit: log is monotone).
    """
    from magmapandas_spark.operators.curation import word_tokens

    toks = docs.select(word_tokens().alias("t"))
    # the unigram relation is vocabulary-sized: persist it and derive
    # the corpus token total from it (Σc) — the corpus is tokenized
    # exactly twice (unigram pass, bigram pass) instead of four times
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                    ),
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_tokens = int(
        uni.agg(F.sum("c")).collect()[0][0] or 0
    )
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    scored = (
        bi.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(
            F.broadcast(uni.withColumnsRenamed({"w": "w1", "c": "c_a"})),
            on="w1",
        )
        .join(
            F.broadcast(uni.withColumnsRenamed({"w": "w2", "c": "c_b"})),
            on="w2",
        )
        .select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                f"(c_ab * {n_tokens}L * 1000000L) div (c_a * c_b)"
            ).alias("pmi_ratio_ppm"),
        )
    )
    out = scored.orderBy(
        F.desc("pmi_ratio_ppm"), "bigram"
    ).limit(top_k)
    if eager:
        # materialize before dropping the vocabulary cache (the
        # bigram side still streams; only uni was cached)
        out = out.localCheckpoint(eager=True)
        uni.unpersist()
    return out


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: top-50 bigram collocations over documents by
    exact-integer PMI ratio — two word-count aggregations plus two
    broadcast joins against the vocabulary relation."""
    from magmapandas_spark.operators.dedup import fan_out

    docs = fan_out(spark.read.parquet(_t(sf_dir, "documents")))
    return token_pmi(docs)


SQL_TOKEN_PMI = f"""
WITH toks AS (
  SELECT {SQL_WORD_TOKENS} AS t FROM documents
),
n AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n_tokens FROM toks),
uni AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w
),
bi AS (
  SELECT bigram, COUNT(*) AS c_ab
  FROM (
    SELECT unnest(
      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
    ) AS bigram
    FROM toks
  )
  GROUP BY bigram
  HAVING COUNT(*) >= 5
)
SELECT bi.bigram, bi.c_ab, u1.c AS c_a, u2.c AS c_b,
       (bi.c_ab * n.n_tokens * 1000000) // (u1.c * u2.c)
         AS pmi_ratio_ppm
FROM bi
CROSS JOIN n
JOIN uni u1 ON u1.w = string_split(bi.bigram, ' ')[1]
JOIN uni u2 ON u2.w = string_split(bi.bigram, ' ')[2]
ORDER BY pmi_ratio_ppm DESC, bi.bigram
LIMIT 50
"""


# ---------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------


def agg_state(li: DataFrame) -> DataFrame:
    """Mergeable per-(returnflag, linestatus) aggregation state:
    exact-decimal sums, count, integer min/max epoch-days."""
    days = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sq"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
        ).alias("sp"),
        F.min(days).alias("min_ship_day"),
        F.max(days).alias("max_ship_day"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Merge agg states: sum counts and decimal sums, min/max
    extremes — the algebraic-aggregate merge every distributed engine
    performs between partial and final aggregation, here made an
    explicit operator over persisted state relations."""
    u = states[0]
    for s in states[1:]:
        u = u.unionAll(s)
    return u.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sq").alias("sq"),
        F.sum("sp").alias("sp"),
        F.min("min_ship_day").alias("min_ship_day"),
        F.max("max_ship_day").alias("max_ship_day"),
    )


#: base/delta split point for the gate query
INCR_CUTOFF = "1999-01-01"


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: build the aggregation state on the pre-cutoff base
    slice and the post-cutoff delta slice SEPARATELY, merge the two
    states, and finalize (double averages from exact decimal sums).
    The oracle recomputes directly over the full table — the hash
    passing IS the merge==recompute proof."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    base = agg_state(li.filter(F.col("l_shipdate") < INCR_CUTOFF))
    delta = agg_state(li.filter(F.col("l_shipdate") >= INCR_CUTOFF))
    merged = merge_states(base, delta)
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.col("sq").cast("double").alias("sum_qty"),
        F.col("sp").cast("double").alias("sum_price"),
        (F.col("sq").cast("double") / F.col("n_rows").cast("double"))
        .alias("avg_qty"),
        "min_ship_day",
        "max_ship_day",
    ).orderBy("l_returnflag", "l_linestatus")


SQL_INCREMENTAL_AGG = f"""
SELECT
  l_returnflag, l_linestatus,
  COUNT(*) AS n_rows,
  {SQL_DSUM.format(x='l_quantity')} AS sum_qty,
  {SQL_DSUM.format(x='l_extendedprice')} AS sum_price,
  {SQL_DSUM.format(x='l_quantity')}
    / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
  CAST(date_diff('day', DATE '1970-01-01', MIN(l_shipdate))
       AS INTEGER) AS min_ship_day,
  CAST(date_diff('day', DATE '1970-01-01', MAX(l_shipdate))
       AS INTEGER) AS max_ship_day
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------
# Cohort retention analysis
# ---------------------------------------------------------------------


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix in long form.

    Cohort = the user's first-activity epoch week (``days div 7``);
    activity = the distinct (user, week) pairs. One row per
    (cohort_week, week_offset): active users, cohort size, and
    ``retention_ppm`` as an exact integer division.

    Scale posture: first-week aggregation and the (user, week)
    distinct both shuffle on the user key (the second reuses the
    first's partitioning); the cohort join is user-co-partitioned;
    the final (cohort, offset) aggregate is weeks² rows. Nothing
    touches raw-event pairs.
    """
    uw = events.select(
        F.col(user_col).alias("u"),
        F.expr(
            f"datediff(cast({ts_col} as date), date'1970-01-01') div 7"
        ).alias("week"),
    )
    active = uw.distinct()
    cohort = active.groupBy("u").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    joined = active.join(cohort, on="u").select(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias(
            "week_offset"
        )
    )
    ret = joined.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return (
        ret.join(F.broadcast(sizes), on="cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.expr("(n_active * 1000000) div n_cohort").alias(
                "retention_ppm"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: weekly cohort retention over events — long-form
    cohort × offset matrix, exact integer counts and ppm shares."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return cohort_retention(ev)


SQL_COHORT_RETENTION = """
WITH uw AS (
  SELECT DISTINCT user_id AS u,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
           AS week
  FROM events
),
cohort AS (
  SELECT u, MIN(week) AS cohort_week FROM uw GROUP BY u
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS n_cohort FROM cohort GROUP BY 1
),
ret AS (
  SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
         COUNT(*) AS n_active
  FROM uw JOIN cohort c ON c.u = uw.u
  GROUP BY 1, 2
)
SELECT r.cohort_week, r.week_offset, r.n_active, s.n_cohort,
       r.n_active * 1000000 // s.n_cohort AS retention_ppm
FROM ret r JOIN sizes s ON s.cohort_week = r.cohort_week
ORDER BY r.cohort_week, r.week_offset
"""


# ---------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts between event types.

    Per user, events are ordered by ``(ts, seq)`` and each adjacent
    pair contributes one (from_state, to_state) transition. Output:
    counts plus ``prob_ppm``, the integer row-normalized transition
    probability. One user-keyed shuffle for the lag window, one
    states²-sized aggregation, and a window over the states²-row
    result for the row totals — nothing scales beyond the event scan.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    pairs = (
        events.select(
            F.lag(type_col).over(w).alias("from_state"),
            F.col(type_col).alias("to_state"),
        )
        .filter(F.col("from_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = Window.partitionBy("from_state")
    return pairs.select(
        "from_state",
        "to_state",
        "n_trans",
        F.expr("n_trans * 1000000").alias("_num"),
        F.sum("n_trans").over(tot).alias("_den"),
    ).select(
        "from_state",
        "to_state",
        "n_trans",
        F.expr("_num div _den").alias("prob_ppm"),
    ).orderBy("from_state", "to_state")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: event-type Markov transition matrix over events —
    per-user (ts, event_id)-ordered adjacency, integer ppm rows."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return event_transitions(ev)


SQL_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS from_state,
         event_type AS to_state
  FROM events
),
counts AS (
  SELECT from_state, to_state, COUNT(*) AS n_trans
  FROM pairs WHERE from_state IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_state, to_state, n_trans,
       CAST(n_trans * 1000000 // SUM(n_trans) OVER (
         PARTITION BY from_state
       ) AS BIGINT) AS prob_ppm
FROM counts
ORDER BY from_state, to_state
"""


# ---------------------------------------------------------------------
# A/B experiment analysis: exact-integer chi-square
# ---------------------------------------------------------------------


def ab_chi2(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    success_type: str = "purchase",
    baseline_type: str = "error",
) -> DataFrame:
    """2×2 chi-square test of a deterministic user split vs
    conversion, in EXACT integer arithmetic.

    Treatment = ``user_id % 2``; conversion = the user emitted MORE
    ``success_type`` than ``baseline_type`` events (a scale-free
    criterion: "at least one purchase" saturates to all-converted on
    any corpus where per-user activity grows with corpus size,
    degenerating a chi-square margin to zero). The statistic
    ``n·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))`` is computed in
    DECIMAL(38,0) and emitted as ``chi2_micro`` (×10⁶, integer div) —
    no sqrt, no float, so the full test statistic sits under the
    cross-engine hash; degenerate margins yield NULL rather than a
    division error. One user-keyed aggregation then a single
    4-counter reduce: the experimentation-analytics shape at any
    scale.
    """
    per_user = events.groupBy(user_col).agg(
        F.when(
            F.sum(
                F.when(F.col(type_col) == success_type, 1).otherwise(0)
            )
            > F.sum(
                F.when(F.col(type_col) == baseline_type, 1).otherwise(0)
            ),
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    cells = per_user.agg(
        F.sum(
            F.when(
                (F.col(user_col) % 2 == 0) & (F.col("conv") == 1), 1
            ).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when(
                (F.col(user_col) % 2 == 0) & (F.col("conv") == 0), 1
            ).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when(
                (F.col(user_col) % 2 == 1) & (F.col("conv") == 1), 1
            ).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when(
                (F.col(user_col) % 2 == 1) & (F.col("conv") == 0), 1
            ).otherwise(0)
        ).alias("d"),
    )
    dec = "decimal(38,0)"
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.expr("(a * 1000000) div (a + b)").alias("conv_treat_ppm"),
        F.expr("(c * 1000000) div (c + d)").alias("conv_ctrl_ppm"),
        F.expr(
            f"CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) <> 0"
            f" THEN (cast(a + b + c + d as {dec})"
            f" * cast(a * d - b * c as {dec})"
            f" * cast(a * d - b * c as {dec}) * 1000000)"
            f" div (cast(a + b as {dec}) * cast(c + d as {dec})"
            f" * cast(a + c as {dec}) * cast(b + d as {dec})) END"
        ).alias("chi2_micro"),
    )


def q_ab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: chi-square independence test of the user_id-parity
    split vs purchase conversion — the full statistic in exact
    integer micro-units."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return ab_chi2(ev)


SQL_AB_CHI2 = """
WITH per_user AS (
  SELECT user_id,
         CASE WHEN
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           > SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
cells AS (
  SELECT
    SUM(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS a,
    SUM(CASE WHEN user_id % 2 = 0 AND conv = 0 THEN 1 ELSE 0 END) AS b,
    SUM(CASE WHEN user_id % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END) AS c,
    SUM(CASE WHEN user_id % 2 = 1 AND conv = 0 THEN 1 ELSE 0 END) AS d
  FROM per_user
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       CAST(a * 1000000 // (a + b) AS BIGINT) AS conv_treat_ppm,
       CAST(c * 1000000 // (c + d) AS BIGINT) AS conv_ctrl_ppm,
       CAST(
         CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) <> 0 THEN
           ((a + b + c + d)::HUGEINT
            * (a * d - b * c)::HUGEINT
            * (a * d - b * c)::HUGEINT * 1000000)
           // ((a + b)::HUGEINT * (c + d)::HUGEINT
               * (a + c)::HUGEINT * (b + d)::HUGEINT)
         END
       AS BIGINT) AS chi2_micro
FROM cells
"""


# ---------------------------------------------------------------------
# Session path mining
# ---------------------------------------------------------------------

#: inactivity gap that closes a session (matches ``user_sessions``)
SESSION_GAP_US = 30 * 60 * 1_000_000


def session_paths(
    events: DataFrame,
    max_steps: int = 5,
    top_k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Top-k behavioral session paths.

    Sessions split on >30-minute inactivity (the ``user_sessions``
    convention, here via an explicit lag-gap running sum so the
    session id is a plain column); a session's path is its first
    ``max_steps`` event types in (ts, seq) order joined with ``>``.
    Returns the ``top_k`` paths with session counts and integer ppm
    share of all sessions.

    Scale posture: one user-keyed shuffle feeds both windows (gap
    flag, running session id); the per-session path is an ordered
    array aggregation truncated to ``max_steps`` (ObjectHashAggregate
    state bounded per session); path counting is a word-count over
    short strings, TakeOrdered top-k. The total-session count rides
    in as a one-row broadcast.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    flagged = events.select(
        F.col(user_col),
        F.col(type_col),
        F.col(ts_col),
        F.col(seq_col),
        us.alias("_us"),
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    run = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, seq_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = flagged.withColumn("_sid", F.sum("_new").over(run))
    paths = (
        sessions.groupBy(user_col, "_sid")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("_us", seq_col, type_col)
                            )
                        ),
                        lambda x: x[type_col],
                    ),
                    1,
                    max_steps,
                ),
            ).alias("path")
        )
    )
    tot = paths.agg(F.count(F.lit(1)).alias("_total"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n_sessions",
            F.expr("(n_sessions * 1000000) div _total").alias(
                "share_ppm"
            ),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(top_k)
    )


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: top-20 five-step session paths over events —
    lag-gap sessionization, ordered path assembly, integer ppm
    shares."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return session_paths(ev)


SQL_SESSION_PATHS = f"""
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                   > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS newflag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(newflag) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING
  ) AS sid
  FROM flagged
),
paths AS (
  SELECT user_id, sid,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:5], '>'
         ) AS path
  FROM s GROUP BY user_id, sid
),
tot AS (SELECT COUNT(*) AS total FROM paths)
SELECT path, COUNT(*) AS n_sessions,
       CAST(COUNT(*) * 1000000 // MAX(tot.total) AS BIGINT)
         AS share_ppm
FROM paths CROSS JOIN tot
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


# ---------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta-join identity)
# ---------------------------------------------------------------------


def _join_agg(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The maintained view: revenue per order priority across the
    orders ⋈ lineitem join, as mergeable state (decimal revenue sums +
    row counts)."""
    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1).cast("decimal(18,6)")
           - F.col("l_discount").cast("decimal(18,6)"))
    )
    return (
        orders.join(lineitem,
                    F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(rev).alias("rev"),
        )
    )


def incremental_join_state(
    orders_base: DataFrame,
    orders_delta: DataFrame,
    li_base: DataFrame,
    li_delta: DataFrame,
) -> DataFrame:
    """Maintain the join view under inserts on BOTH sides via the
    delta-join identity::

        Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

    so the refresh never rejoins base-with-base — at 100 TB that is
    the difference between a delta-sized maintenance job and a full
    recompute. The three delta terms aggregate into the same
    mergeable state as the base view (decimal sums + counts) and
    merge additively. The gate hashes the merged state against the
    oracle's direct recompute over the full inputs: identity ==
    recompute, on every engine.
    """
    parts = [
        _join_agg(orders_base, li_base),
        _join_agg(orders_delta, li_base),
        _join_agg(orders_base, li_delta),
        _join_agg(orders_delta, li_delta),
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("o_orderpriority").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("rev").alias("rev"),
    )


#: delta split point: orders after this date are "new" (and their
#: lineitems ship after it too, so both sides have real deltas)
INCR_JOIN_CUTOFF = "2000-01-01"


def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: incremental maintenance of the orders ⋈ lineitem
    revenue view under two-sided inserts — the base⋈base term is the
    PRE-SPLIT aggregation state (never recomputed); the three delta
    terms merge into it. Hash equals the oracle's direct recompute."""
    o = spark.read.parquet(_t(sf_dir, "orders"))
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    ob = o.filter(F.col("o_orderdate") < INCR_JOIN_CUTOFF)
    od = o.filter(F.col("o_orderdate") >= INCR_JOIN_CUTOFF)
    lb = li.filter(F.col("l_shipdate") < INCR_JOIN_CUTOFF)
    ld = li.filter(F.col("l_shipdate") >= INCR_JOIN_CUTOFF)
    state = incremental_join_state(ob, od, lb, ld)
    # scale-12 sum -> exact scale-6 downscale (revenue terms carry
    # <= 4 true fractional digits) -> double: the dsum-proven regime;
    # the raw scale-12 decimal->double cast double-rounds in DuckDB
    return state.select(
        "o_orderpriority",
        "n_rows",
        F.col("rev").cast("decimal(28,6)").cast("double").alias(
            "revenue"
        ),
    ).orderBy("o_orderpriority")


SQL_INCREMENTAL_JOIN = """
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                * (CAST(1 AS DECIMAL(28,6))
                   - CAST(l_discount AS DECIMAL(28,6))))
            AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------
# Marketing attribution (first-touch / last-touch)
# ---------------------------------------------------------------------


def attribution(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    conv_type: str = "purchase",
) -> DataFrame:
    """First-touch / last-touch revenue attribution over the event log.

    Per user, events are totally ordered by ``(ts, seq)``. Each
    conversion (``conv_type``) is attributed to the FIRST and the LAST
    non-conversion event that precedes it. The preceding events are
    located as ROW NUMBERS via windowed conditional MIN/MAX (no
    IGNORE NULLS dependence — portable to every engine), then resolved
    with one self-join on ``(user, rn)``, co-partitioned with the
    window's own shuffle. Output is the long-form (model, channel)
    summary: conversions, exact-decimal revenue, integer ppm share.

    Scale posture: one user-keyed exchange feeds the window, the
    rn-resolution join, and (via map-side partials) the final
    channel-sized aggregation — nothing else shuffles.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    idx = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("etype"),
        F.col("value"),
        F.row_number().over(w).alias("rn"),
    )
    # re-derive the conditional min/max over the SAME window spec
    w2 = Window.partitionBy("u").orderBy("rn")
    prev2 = w2.rowsBetween(Window.unboundedPreceding, -1)
    touch = F.when(F.col("etype") != conv_type, F.col("rn"))
    conv = (
        idx.select(
            "u",
            "etype",
            "value",
            "rn",
            F.min(touch).over(prev2).alias("first_rn"),
            F.max(touch).over(prev2).alias("last_rn"),
        )
        .filter(
            (F.col("etype") == conv_type) & F.col("last_rn").isNotNull()
        )
    )
    chan = idx.select(
        "u", F.col("rn").alias("crn"), F.col("etype").alias("channel")
    )
    first = (
        conv.join(
            chan,
            (conv["u"] == chan["u"]) & (conv["first_rn"] == chan["crn"]),
        )
        .select(F.lit("first_touch").alias("model"), "channel", conv["value"])
    )
    last = (
        conv.join(
            chan,
            (conv["u"] == chan["u"]) & (conv["last_rn"] == chan["crn"]),
        )
        .select(F.lit("last_touch").alias("model"), "channel", conv["value"])
    )
    both = first.unionByName(last)
    agg = both.groupBy("model", "channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        dsum(F.col("value")).alias("revenue"),
    )
    tot = Window.partitionBy("model")
    return agg.select(
        "model",
        "channel",
        "n_conversions",
        "revenue",
        F.expr("n_conversions * 1000000").alias("_num"),
        F.sum("n_conversions").over(tot).alias("_den"),
    ).select(
        "model",
        "channel",
        "n_conversions",
        "revenue",
        F.expr("_num div _den").alias("share_ppm"),
    ).orderBy("model", "channel")


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: first/last-touch attribution of purchase events."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return attribution(ev)


SQL_ATTRIBUTION = f"""
WITH idx AS (
  SELECT user_id AS u, event_type AS etype, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
conv AS (
  SELECT u, etype, value, rn,
         MIN(CASE WHEN etype <> 'purchase' THEN rn END) OVER
           (PARTITION BY u ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_rn,
         MAX(CASE WHEN etype <> 'purchase' THEN rn END) OVER
           (PARTITION BY u ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_rn
  FROM idx
),
conv2 AS (SELECT * FROM conv WHERE etype = 'purchase'
          AND last_rn IS NOT NULL),
merged AS (
  SELECT 'first_touch' AS model, c2.etype AS channel, c.value
  FROM conv2 c JOIN idx c2 ON c2.u = c.u AND c2.rn = c.first_rn
  UNION ALL
  SELECT 'last_touch' AS model, c2.etype AS channel, c.value
  FROM conv2 c JOIN idx c2 ON c2.u = c.u AND c2.rn = c.last_rn
),
agg AS (
  SELECT model, channel, COUNT(*) AS n_conversions,
         {SQL_DSUM.format(x="value")} AS revenue
  FROM merged GROUP BY model, channel
)
SELECT model, channel, n_conversions, revenue,
       CAST(n_conversions * 1000000
         // SUM(n_conversions) OVER (PARTITION BY model) AS BIGINT)
         AS share_ppm
FROM agg
ORDER BY model, channel
"""


# ---------------------------------------------------------------------
# RFM (recency / frequency / monetary) customer segmentation
# ---------------------------------------------------------------------


def rfm_segments(orders: DataFrame) -> DataFrame:
    """Classic RFM segmentation: per customer, recency (last order
    epoch), frequency (order count), monetary (exact decimal spend);
    each metric quintile-binned 1-5 by explicit rank arithmetic
    ``1 + (rank - 1) · 5 div n`` under a total order with the customer
    key as tie-break (NTILE's remainder rule spelled out — every
    engine bins identically). Output: distribution of the 3-digit
    RFM segment codes.

    Scale posture: the three rank windows are global sorts — the
    exact-quantile correctness twin. At 100 TB bin edges come from the
    mergeable histogram sketch (operators/quantiles.py) and binning
    becomes a scan-local expression; the gate keeps exact ranks so the
    oracle is plain window SQL.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "r_us"
        ),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("spend"),
    )
    w_r = Window.orderBy("r_us", "o_custkey")
    w_f = Window.orderBy("freq", "o_custkey")
    w_m = Window.orderBy("spend", "o_custkey")
    n = Window.partitionBy()
    binned = per_cust.select(
        "o_custkey",
        F.row_number().over(w_r).alias("rr"),
        F.row_number().over(w_f).alias("rf"),
        F.row_number().over(w_m).alias("rm"),
        F.count(F.lit(1)).over(n).alias("n"),
    ).select(
        F.expr("1 + (rr - 1) * 5 div n").alias("r_bin"),
        F.expr("1 + (rf - 1) * 5 div n").alias("f_bin"),
        F.expr("1 + (rm - 1) * 5 div n").alias("m_bin"),
    )
    return (
        binned.select(
            F.expr("r_bin * 100 + f_bin * 10 + m_bin").alias("segment")
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("segment")
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: RFM segment-code distribution over orders."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return rfm_segments(orders)


SQL_RFM_SEGMENTS = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS r_us,
         COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey,
         ROW_NUMBER() OVER (ORDER BY r_us, o_custkey) AS rr,
         ROW_NUMBER() OVER (ORDER BY freq, o_custkey) AS rf,
         ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS rm,
         COUNT(*) OVER () AS n
  FROM per_cust
),
binned AS (
  SELECT 1 + (rr - 1) * 5 // n AS r_bin,
         1 + (rf - 1) * 5 // n AS f_bin,
         1 + (rm - 1) * 5 // n AS m_bin
  FROM ranked
)
SELECT CAST(r_bin * 100 + f_bin * 10 + m_bin AS BIGINT) AS segment,
       COUNT(*) AS n_customers
FROM binned
GROUP BY 1
ORDER BY segment
"""


def rfm_segments_sketch(orders: DataFrame, n_bins: int = 1000) -> DataFrame:
    """RFM segmentation with SKETCH-fed bin edges — the scale path
    beside the exact global-window twin above (the established
    exact↔mergeable pairing: KMV↔HLL, exact↔histogram quantiles).

    Quintile edges for each metric come from a 1000-bin equi-width
    histogram (operators/quantiles.py's interpolation formula: one
    bounded-state aggregation per metric, ≤ B integer counters, NO
    global sort anywhere); binning is then a scan-local comparison of
    each customer's metric against the four broadcast edge literals.
    Rank error ≤ one bin width — the histogram trade — so segment
    counts differ slightly from the exact twin, but every number is
    deterministic integer/fixed-IEEE arithmetic the DuckDB oracle
    replays bit-for-bit.

    Plan: per-customer agg (1 shuffle) → 3-metric unpivot (scan-local
    stack) → 3-row stats agg → ≤ 3·B-row histogram agg → cumulative
    window over 3 bounded partitions → 12 edge values pivoted into ONE
    broadcast row → scan-local binning of the wide per-customer
    relation → ≤ 125-row segment count agg. Every post-scan relation
    is metric/bin/segment-bounded, never customer-bounded.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "r_us"
        ),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("spend"),
    )
    vals = per_cust.select(
        F.expr(
            "stack(3, 'r', CAST(r_us AS DOUBLE), 'f', CAST(freq AS DOUBLE),"
            " 'm', CAST(spend AS DOUBLE)) AS (g, x)"
        )
    )
    stats = vals.groupBy("g").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = vals.join(F.broadcast(stats), on="g").select(
        "g",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn"))
                    * F.lit(float(n_bins))
                    / (F.col("mx") - F.col("mn"))
                ),
                F.lit(n_bins - 1),
            )
        )
        .cast("long")
        .alias("bin"),
    )
    hist = binned.groupBy("g", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("g")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    qdf = orders.sparkSession.createDataFrame(
        [(200,), (400,), (600,), (800,)], "q_pm long"
    )
    # same integer rank target + within-bin interpolation as
    # histogram_quantiles (quantiles.py:87-126) — the proven
    # cross-engine-deterministic edge formula
    edges = (
        cum.join(F.broadcast(stats), on="g")
        .crossJoin(F.broadcast(qdf))
        .withColumn(
            "rank_q",
            F.greatest(
                F.lit(1).cast("long"), F.expr("(q_pm * n + 999) div 1000")
            ),
        )
        .filter(
            (F.col("cum") >= F.col("rank_q"))
            & (F.col("cum_prev") < F.col("rank_q"))
        )
        .select(
            "g",
            "q_pm",
            (
                F.col("mn")
                + F.col("bin").cast("double")
                * (F.col("mx") - F.col("mn"))
                / F.lit(float(n_bins))
                + (
                    (F.col("rank_q") - F.col("cum_prev")).cast("double")
                    / F.col("cnt").cast("double")
                )
                * (F.col("mx") - F.col("mn"))
                / F.lit(float(n_bins))
            ).alias("edge"),
        )
    )
    edge_row = edges.groupBy().agg(
        *[
            F.max(
                F.when(
                    (F.col("g") == g) & (F.col("q_pm") == q), F.col("edge")
                )
            ).alias(f"{g}_e{q // 200}")
            for g in ("r", "f", "m")
            for q in (200, 400, 600, 800)
        ]
    )

    def _bin(x: str, g: str) -> F.Column:
        return (
            F.lit(1)
            + sum(
                F.when(F.col(x) > F.col(f"{g}_e{i}"), 1).otherwise(0)
                for i in (1, 2, 3, 4)
            )
        ).alias(f"{g}_bin")

    binned_cust = per_cust.select(
        F.col("r_us").cast("double").alias("xr"),
        F.col("freq").cast("double").alias("xf"),
        F.col("spend").cast("double").alias("xm"),
    ).crossJoin(F.broadcast(edge_row)).select(
        _bin("xr", "r"), _bin("xf", "f"), _bin("xm", "m")
    )
    return (
        binned_cust.select(
            F.expr("r_bin * 100 + f_bin * 10 + m_bin")
            .cast("long")
            .alias("segment")
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("segment")
    )


def q_rfm_segments_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: histogram-sketch-binned RFM segment distribution —
    the no-global-sort scale twin of ``rfm_segments``."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return rfm_segments_sketch(orders)


def _sql_rfm_sketch() -> str:
    b = 1000.0
    edge_cols = ",\n         ".join(
        f"MAX(CASE WHEN g = '{g}' AND q_pm = {q} THEN edge END)"
        f" AS {g}_e{q // 200}"
        for g in ("r", "f", "m")
        for q in (200, 400, 600, 800)
    )
    bins = ",\n         ".join(
        f"1 + (CASE WHEN x{g} > e.{g}_e1 THEN 1 ELSE 0 END"
        f" + CASE WHEN x{g} > e.{g}_e2 THEN 1 ELSE 0 END"
        f" + CASE WHEN x{g} > e.{g}_e3 THEN 1 ELSE 0 END"
        f" + CASE WHEN x{g} > e.{g}_e4 THEN 1 ELSE 0 END) AS {g}_bin"
        for g in ("r", "f", "m")
    )
    return f"""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS r_us,
         COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
  FROM orders GROUP BY o_custkey
),
vals AS (
  SELECT 'r' AS g, CAST(r_us AS DOUBLE) AS x FROM per_cust
  UNION ALL
  SELECT 'f' AS g, CAST(freq AS DOUBLE) AS x FROM per_cust
  UNION ALL
  SELECT 'm' AS g, CAST(spend AS DOUBLE) AS x FROM per_cust
),
stats AS (
  SELECT g, MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS n
  FROM vals GROUP BY g
),
binned AS (
  SELECT v.g,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE LEAST(
                CAST(floor((v.x - s.mn) * {b!r} / (s.mx - s.mn))
                     AS BIGINT), 999) END AS bin
  FROM vals v JOIN stats s ON v.g = s.g
),
hist AS (SELECT g, bin, COUNT(*) AS cnt FROM binned GROUP BY g, bin),
cum AS (
  SELECT g, bin, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum
  FROM hist
),
edges AS (
  SELECT c.g, q.q_pm,
         s.mn + CAST(c.bin AS DOUBLE) * (s.mx - s.mn) / {b!r}
              + (CAST(GREATEST(1, (q.q_pm * s.n + 999) // 1000)
                      - (c.cum - c.cnt) AS DOUBLE)
                 / CAST(c.cnt AS DOUBLE))
              * (s.mx - s.mn) / {b!r} AS edge
  FROM cum c
  JOIN stats s ON c.g = s.g
  CROSS JOIN (SELECT UNNEST([200, 400, 600, 800]) AS q_pm) q
  WHERE c.cum >= GREATEST(1, (q.q_pm * s.n + 999) // 1000)
    AND c.cum - c.cnt < GREATEST(1, (q.q_pm * s.n + 999) // 1000)
),
edge_row AS (
  SELECT {edge_cols}
  FROM edges
),
binned_cust AS (
  SELECT {bins}
  FROM (SELECT CAST(r_us AS DOUBLE) AS xr, CAST(freq AS DOUBLE) AS xf,
               CAST(spend AS DOUBLE) AS xm FROM per_cust) p
  CROSS JOIN edge_row e
)
SELECT CAST(r_bin * 100 + f_bin * 10 + m_bin AS BIGINT) AS segment,
       COUNT(*) AS n_customers
FROM binned_cust
GROUP BY 1
ORDER BY segment
"""


SQL_RFM_SEGMENTS_SKETCH = _sql_rfm_sketch()


# ---------------------------------------------------------------------
# Dominant-supplier semi-join chain (the TPC-H Q20 shape)
# ---------------------------------------------------------------------


def dominant_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    name_filter: str = "red",
    share_ppm: int = 100_000,
) -> DataFrame:
    """Suppliers that shipped more than ``share_ppm`` of some filtered
    part's total volume — the nested semi-join reduction shape of
    TPC-H Q20 (filter dim → aggregate fact at two grains → ratio
    predicate → distinct entity → enrich).

    Plan: the part filter is BROADCAST into the lineitem scan (a
    semi-join reduction — lineitem rows for other parts never leave
    the scan stage); both aggregation grains come off that one
    filtered relation; the ratio is integer ppm over exact decimal
    quantity sums; the final supplier enrichment is a broadcast join
    onto a distinct-supplier relation bounded by |suppliers|.
    """
    red = part.filter(
        F.col("p_name").contains(name_filter)
    ).select(F.col("p_partkey").alias("l_partkey"))
    # l_quantity is integral (TPC-H: 1..50) — BIGINT arithmetic
    # sidesteps decimal precision-promotion rules, which differ
    # between engines when a product would exceed precision 38
    li = lineitem.join(F.broadcast(red), "l_partkey").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("q").alias("q_ps")
    )
    per_p = li.groupBy("l_partkey").agg(F.sum("q").alias("q_p"))
    dominant = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.expr(f"q_ps * 1000000 >= {share_ppm} * q_p"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
    )
    return (
        dominant.join(
            F.broadcast(
                supplier.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_name"
                )
            ),
            "l_suppkey",
        )
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_dominant_parts",
        )
        .orderBy("s_suppkey")
    )


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: suppliers shipping >=10% of a red part's volume —
    the Q20 semi-join-reduction shape with exact decimal/integer
    arithmetic."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    part = spark.read.parquet(_t(sf_dir, "part"))
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    return dominant_suppliers(li, part, supp)


SQL_DOMINANT_SUPPLIERS = """
WITH red AS (
  SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
),
li AS (
  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q
  FROM lineitem JOIN red ON red.p_partkey = lineitem.l_partkey
),
per_ps AS (
  SELECT l_partkey, l_suppkey, CAST(SUM(q) AS BIGINT) AS q_ps
  FROM li GROUP BY l_partkey, l_suppkey
),
per_p AS (SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS q_p
          FROM li GROUP BY l_partkey),
dominant AS (
  SELECT ps.l_suppkey, COUNT(*) AS n_dominant_parts
  FROM per_ps ps JOIN per_p p ON p.l_partkey = ps.l_partkey
  WHERE ps.q_ps * 1000000 >= 100000 * p.q_p
  GROUP BY ps.l_suppkey
)
SELECT d.l_suppkey AS s_suppkey, s.s_name, d.n_dominant_parts
FROM dominant d JOIN supplier s ON s.s_suppkey = d.l_suppkey
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------
# Winsorized robust summary
# ---------------------------------------------------------------------


def winsorized_stats(
    events: DataFrame,
    group_col: str = "event_type",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-group winsorized summary: values are clamped to the exact
    p05/p95 order statistics (rank ``ceil(q·n)`` under a (value, id)
    total order — true ceil via add-denominator-minus-one integer
    arithmetic, ``(q·100·n + 99) div 100``, since both Spark ``div``
    and DuckDB ``//`` truncate toward zero; no percentile builtin, no
    interpolation) and summarized with exact decimal sums. Output:
    n, the clamp bounds (raw data values), clip counts, and the
    winsorized mean. The ceil rank is ≥ 1 for every n ≥ 1, so small
    groups keep a real bound row (at n = 1 both bounds are the single
    value and the clamp is a no-op).

    One per-group sort window locates the bounds; the clamp + mean is
    a second scan-local pass over the same partitioning. The exact
    twin of a sketch-based winsorization (histogram_quantiles gives
    the mergeable bounds at 100 TB).
    """
    w = Window.partitionBy(group_col).orderBy(val_col, id_col)
    ranked = events.select(
        F.col(group_col).alias("g"),
        F.col(val_col).alias("x"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy(group_col))
        .alias("n"),
    )
    bounds = ranked.filter(
        F.expr("rn = (5 * n + 99) div 100 OR rn = (95 * n + 99) div 100")
    ).groupBy("g").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    clamped = ranked.join(F.broadcast(bounds), "g").select(
        "g",
        "lo",
        "hi",
        F.expr(
            "CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END"
        ).alias("cx"),
        F.expr("CASE WHEN x < lo THEN 1 ELSE 0 END").alias("clip_lo"),
        F.expr("CASE WHEN x > hi THEN 1 ELSE 0 END").alias("clip_hi"),
    )
    return (
        clamped.groupBy("g", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("clip_lo").alias("n_clip_lo"),
            F.sum("clip_hi").alias("n_clip_hi"),
            F.sum(F.col("cx").cast("decimal(18,6)")).alias("_s"),
        )
        .select(
            F.col("g").alias(group_col),
            "n",
            "lo",
            "hi",
            "n_clip_lo",
            "n_clip_hi",
            (F.col("_s").cast("double") / F.col("n")).alias("wins_mean"),
        )
        .orderBy(group_col)
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: p05/p95-winsorized per-type value summary with
    exact order-statistic bounds."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return winsorized_stats(ev)


SQL_WINSORIZED_STATS = """
WITH ranked AS (
  SELECT event_type AS g, value AS x,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT g, MIN(x) AS lo, MAX(x) AS hi
  FROM ranked
  WHERE rn = (5 * n + 99) // 100 OR rn = (95 * n + 99) // 100
  GROUP BY g
),
clamped AS (
  SELECT r.g, b.lo, b.hi,
         CASE WHEN r.x < b.lo THEN b.lo
              WHEN r.x > b.hi THEN b.hi ELSE r.x END AS cx,
         CASE WHEN r.x < b.lo THEN 1 ELSE 0 END AS clip_lo,
         CASE WHEN r.x > b.hi THEN 1 ELSE 0 END AS clip_hi
  FROM ranked r JOIN bounds b ON b.g = r.g
)
SELECT g AS event_type, COUNT(*) AS n, lo, hi,
       CAST(SUM(clip_lo) AS BIGINT) AS n_clip_lo,
       CAST(SUM(clip_hi) AS BIGINT) AS n_clip_hi,
       CAST(SUM(CAST(cx AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS wins_mean
FROM clamped
GROUP BY g, lo, hi
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# Largest-remainder budget allocation (round 8)
# ---------------------------------------------------------------------


def budget_allocation(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    budget: int = 10_000,
) -> DataFrame:
    """Hamilton / largest-remainder apportionment: allocate an integer
    ``budget`` across nations proportional to their order counts —
    base share ``budget·cnt div total`` per nation, the leftover seats
    to the largest integer remainders (``(budget·cnt) mod total``,
    ties by nation name). Guarantees Σ alloc = budget exactly; every
    number is BIGINT arithmetic under the hash.

    Plan: fact aggregated to the customer grain is joined to the
    broadcast customer→nation dimension, re-aggregated to |nations|
    rows; the remainder rank window runs over those ≤ 25 rows.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dim = customer.select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    ).join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("c_nationkey"), "n_name"
            )
        ),
        "c_nationkey",
    )
    per_nation = (
        per_cust.join(F.broadcast(dim), "o_custkey")
        .groupBy("n_name")
        .agg(F.sum("cnt").alias("cnt"))
        # materialize the ≤|nations|-row aggregate ONCE: the main
        # chain and the tot roll-up each re-ran the fact aggregation
        # + dimension join when left lazy (6 parquet scans in the
        # plan — guide §3.3). Deterministic, hash unchanged.
        .localCheckpoint(eager=True)
    )
    tot = per_nation.agg(F.sum("cnt").alias("total"))
    w = Window.orderBy(
        F.desc(F.expr(f"({budget} * cnt) % total")), "n_name"
    )
    leftover = F.lit(budget) - F.expr(f"sum({budget} * cnt div total) over ()")
    return (
        per_nation.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(f"{budget} * cnt div total"))
        .withColumn("rem_rank", F.row_number().over(w))
        .withColumn("leftover", leftover)
        .select(
            "n_name",
            "cnt",
            "base",
            (
                F.col("base")
                + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(
                    0
                )
            ).alias("alloc"),
        )
        .orderBy("n_name")
    )


def q_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 10000-seat largest-remainder allocation across
    nations by order count; Σ alloc = 10000 exactly."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    customer = spark.read.parquet(_t(sf_dir, "customer"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    return budget_allocation(orders, customer, nation)


SQL_BUDGET_ALLOCATION = """
WITH per_nation AS (
  SELECT n.n_name, COUNT(*) AS cnt
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
),
tot AS (SELECT SUM(cnt) AS total FROM per_nation),
ranked AS (
  SELECT n_name, cnt,
         10000 * cnt // total AS base,
         ROW_NUMBER() OVER (
           ORDER BY (10000 * cnt) % total DESC, n_name) AS rem_rank,
         10000 - SUM(10000 * cnt // total) OVER () AS leftover
  FROM per_nation, tot
)
SELECT n_name, CAST(cnt AS BIGINT) AS cnt, CAST(base AS BIGINT) AS base,
       CAST(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
ORDER BY n_name
"""


# ---------------------------------------------------------------------
# ABC (Pareto) classification (round 8)
# ---------------------------------------------------------------------


def abc_classification(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification: parts ranked by exact revenue
    (decimal micros — BIGINT-exact), cumulative share thresholds at
    70% (A) and 90% (B), C for the tail. Output: per class, part
    count, revenue micros, and share ppm — all integers.

    Scale posture: the cumulative window runs over the PART-grain
    aggregate (the item catalog), not the fact table — the standard
    Pareto assumption that items ≪ facts. For catalogs too large for
    one sort, the histogram-sketch binning of ``rfm_segments_sketch``
    applies to the revenue distribution verbatim (bin edges at the
    70/90 cumulative marks); the exact twin stays the gate so the
    oracle is plain window SQL.
    """
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = lineitem.groupBy("l_partkey").agg(
        (F.sum(rev.cast("decimal(18,6)")) * 1_000_000)
        .cast("bigint")
        .alias("rev_u")
    )
    w = Window.orderBy(F.desc("rev_u"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per_part.agg(F.sum("rev_u").alias("total_u"))
    classed = (
        per_part.withColumn(
            "cum_u", F.sum(F.col("rev_u").cast("decimal(38,0)")).over(w)
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "cls",
            F.when(F.expr("CAST(cum_u AS DECIMAL(38,0)) * 100 <= CAST(total_u AS DECIMAL(38,0)) * 70"), "A")
            .when(F.expr("CAST(cum_u AS DECIMAL(38,0)) * 100 <= CAST(total_u AS DECIMAL(38,0)) * 90"), "B")
            .otherwise("C"),
        )
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_u").alias("rev_micros"),
            # 1e6 · Σrev overflows BIGINT at warehouse totals — the
            # ppm ratio runs in DECIMAL(38,0) integer arithmetic
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * sum(rev_u)"
                " div max(total_u) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("cls")
    )


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: A/B/C revenue classification of the part catalog
    at 70/90% cumulative-share thresholds, BIGINT-exact."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return abc_classification(li)


SQL_ABC_CLASSIFICATION = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_u
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(rev_u) AS total_u FROM per_part),
classed AS (
  SELECT rev_u,
         CASE WHEN SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 100 <= 70 * CAST(total_u AS HUGEINT) THEN 'A'
              WHEN SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 100 <= 90 * CAST(total_u AS HUGEINT) THEN 'B'
              ELSE 'C' END AS cls,
         total_u
  FROM per_part, tot
)
SELECT cls, COUNT(*) AS n_parts,
       CAST(SUM(rev_u) AS BIGINT) AS rev_micros,
       CAST(CAST(1000000 AS HUGEINT) * SUM(rev_u) // MAX(total_u)
            AS BIGINT) AS share_ppm
FROM classed
GROUP BY cls
ORDER BY cls
"""


# ---------------------------------------------------------------------
# Gini revenue concentration (round 8)
# ---------------------------------------------------------------------


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-nation Gini coefficient of customer revenue —
    the inequality/concentration audit a marketplace or data-mixture
    governance pass publishes. Revenue per customer is a DECIMAL-exact
    sum of order totals; within each nation customers are ranked
    ascending (row_number, custkey tiebreak) and
    G = 2·Σ(rank·rev) / (n·Σrev) − (n+1)/n, every Σ order-independent
    (per-row DECIMAL casts of the deterministic rank·rev product).

    Plan: one custkey aggregation, a key-shuffled join to customer,
    one broadcast of the 25-row nation dim, then PER-NATION rank
    windows (the MAD-outliers exact-twin posture — each partition is
    one nation's customers, never a global sort). The mergeable scale
    path for outsized groups is histogram-sketch Lorenz binning, the
    rfm_segments_sketch pairing."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = orders.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("rev")
    )
    cust = (
        rev.join(
            customer.select("c_custkey", "c_nationkey"),
            rev.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_custkey", "rev")
    )
    w = Window.partitionBy("n_name").orderBy("rev", "c_custkey")
    ranked = cust.withColumn("rk", F.row_number().over(w))
    per = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("rev").cast("decimal(18,6)")).cast("double").alias(
            "total_rev"
        ),
        F.sum(
            (F.col("rk") * F.col("rev")).cast("decimal(28,6)")
        ).cast("double").alias("s_ix"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        F.lit(2.0) * F.col("s_ix") / (n * F.col("total_rev"))
        - (n + F.lit(1.0)) / n
    )
    return per.select(
        "n_name",
        "n_customers",
        F.round("total_rev", 2).alias("total_rev"),
        F.round(gini, 6).alias("gini"),
    ).orderBy("n_name")


SQL_GINI_CONCENTRATION = f"""
WITH rev AS (
  SELECT o_custkey, {SQL_DSUM.format(x="o_totalprice")} AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT n.n_name, r.rev,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY r.rev, c.c_custkey) AS rk
  FROM rev r
  JOIN customer c ON c.c_custkey = r.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
per AS (
  SELECT n_name, COUNT(*) AS n_customers,
         CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS total_rev,
         CAST(SUM(CAST(rk * rev AS DECIMAL(28,6))) AS DOUBLE) AS s_ix
  FROM ranked GROUP BY n_name
)
SELECT n_name, n_customers,
       ROUND(total_rev, 2) AS total_rev,
       ROUND(2.0 * s_ix / (CAST(n_customers AS DOUBLE) * total_rev)
             - (CAST(n_customers AS DOUBLE) + 1.0)
               / CAST(n_customers AS DOUBLE), 6) AS gini
FROM per
ORDER BY n_name
"""


def q_gini_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the mergeable scale twin of ``gini_concentration``
    — per-nation Gini from a 1000-bin equi-width Lorenz histogram
    (trapezoid formula G = 1 − Σ cnt_k·(cums_k + cums_{k−1})/(n·S)),
    hashed BESIDE the exact rank-window Gini so the estimator's error
    sits under the gate hash (the histogram_quantiles discipline).
    Revenue is carried as exact BIGINT cents; every Σ is a
    DECIMAL(38,0) sum of exact integer products, order-independent
    under any partitioning; the final 1-ulp-sensitive divisions are
    one shared double chain in both engines.

    Plan: the histogram path is one |nations|-row stats broadcast, a
    scan-local bin assignment, a ≤1000-rows-per-nation histogram with
    map-side combine, and bin-bounded cumulative windows — state is
    B counters per group, mergeable across partitions/days/tables.
    The exact branch (per-nation rank windows) is the measurement
    twin and is dropped at scale."""
    _B = 1000
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = orders.groupBy("o_custkey").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            * F.lit(100)
        ).cast("long").alias("rev_c")
    )
    cust = (
        rev.join(
            customer.select("c_custkey", "c_nationkey"),
            rev.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_custkey", "rev_c")
        # materialize the customer-grain (nation, custkey, rev_c)
        # relation ONCE: stats, the binned histogram branch and the
        # exact rank-window twin each re-ran the orders aggregation +
        # both joins when left lazy (9 parquet scans in the plan —
        # guide §3.3). Deterministic, hash unchanged; bounded by the
        # customer dimension, the catalog-not-facts assumption this
        # operator already makes.
        .localCheckpoint(eager=True)
    )
    stats = cust.groupBy("n_name").agg(
        F.min("rev_c").alias("mn"),
        F.max("rev_c").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_c").alias("s"),
    )
    binned = cust.join(F.broadcast(stats), "n_name").select(
        "n_name",
        "n",
        "s",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.expr(f"(rev_c - mn) * {_B} div (mx - mn)"),
                F.lit(_B - 1),
            )
        )
        .cast("long")
        .alias("bin"),
        "rev_c",
    )
    hist = binned.groupBy("n_name", "n", "s", "bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("rev_c").alias("sb"),
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cums", F.sum("sb").over(w)).withColumn(
        "cums_prev", F.col("cums") - F.col("sb")
    )
    sk = cum.groupBy("n_name", "n", "s").agg(
        F.count(F.lit(1)).alias("bins_used"),
        F.sum(
            F.col("cnt").cast("decimal(18,0)")
            * (F.col("cums") + F.col("cums_prev")).cast("decimal(20,0)")
        ).alias("num_sk"),
    )
    we = Window.partitionBy("n_name").orderBy("rev_c", "c_custkey")
    ex = (
        cust.withColumn("rk", F.row_number().over(we))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("rk").cast("decimal(18,0)")
                * F.col("rev_c").cast("decimal(20,0)")
            ).alias("num_ex")
        )
    )
    nd = F.col("n").cast("double")
    ns = nd * F.col("s").cast("double")
    g_sk = F.lit(1.0) - F.col("num_sk").cast("double") / ns
    g_ex = (
        F.lit(2.0) * F.col("num_ex").cast("double") / ns
        - (nd + F.lit(1.0)) / nd
    )
    return (
        sk.join(ex, "n_name")
        .select(
            "n_name",
            F.col("n").alias("n_customers"),
            "bins_used",
            F.round(g_sk, 6).alias("gini_sketch"),
            F.round(g_ex, 6).alias("gini_exact"),
            F.round(g_ex - g_sk, 6).alias("err"),
        )
        .orderBy("n_name")
    )


SQL_GINI_SKETCH = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_c
  FROM orders GROUP BY o_custkey
),
cust AS (
  SELECT n.n_name, c.c_custkey, r.rev_c
  FROM rev r
  JOIN customer c ON c.c_custkey = r.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
stats AS (
  SELECT n_name, MIN(rev_c) AS mn, MAX(rev_c) AS mx,
         COUNT(*) AS n, CAST(SUM(rev_c) AS BIGINT) AS s
  FROM cust GROUP BY n_name
),
binned AS (
  SELECT c.n_name, st.n, st.s,
         CASE WHEN st.mx = st.mn THEN 0
              ELSE LEAST((c.rev_c - st.mn) * 1000 // (st.mx - st.mn),
                         999)
         END AS bin,
         c.rev_c
  FROM cust c JOIN stats st ON st.n_name = c.n_name
),
hist AS (
  SELECT n_name, n, s, bin, COUNT(*) AS cnt,
         CAST(SUM(rev_c) AS BIGINT) AS sb
  FROM binned GROUP BY n_name, n, s, bin
),
cum AS (
  SELECT n_name, n, s, cnt, sb,
         CAST(SUM(sb) OVER (PARTITION BY n_name ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cums
  FROM hist
),
sk AS (
  SELECT n_name, n, s, COUNT(*) AS bins_used,
         SUM(CAST(cnt AS DECIMAL(18,0))
             * CAST(cums + (cums - sb) AS DECIMAL(20,0))) AS num_sk
  FROM cum GROUP BY n_name, n, s
),
ex AS (
  SELECT n_name,
         SUM(CAST(rk AS DECIMAL(18,0)) * CAST(rev_c AS DECIMAL(20,0)))
           AS num_ex
  FROM (
    SELECT n_name, rev_c,
           ROW_NUMBER() OVER (PARTITION BY n_name
                              ORDER BY rev_c, c_custkey) AS rk
    FROM cust
  ) GROUP BY n_name
)
SELECT sk.n_name, sk.n AS n_customers, sk.bins_used,
       ROUND(1.0 - CAST(num_sk AS DOUBLE)
             / (CAST(sk.n AS DOUBLE) * CAST(sk.s AS DOUBLE)), 6)
         AS gini_sketch,
       ROUND(2.0 * CAST(num_ex AS DOUBLE)
             / (CAST(sk.n AS DOUBLE) * CAST(sk.s AS DOUBLE))
             - (CAST(sk.n AS DOUBLE) + 1.0) / CAST(sk.n AS DOUBLE), 6)
         AS gini_exact,
       ROUND((2.0 * CAST(num_ex AS DOUBLE)
              / (CAST(sk.n AS DOUBLE) * CAST(sk.s AS DOUBLE))
              - (CAST(sk.n AS DOUBLE) + 1.0) / CAST(sk.n AS DOUBLE))
             - (1.0 - CAST(num_sk AS DOUBLE)
                / (CAST(sk.n AS DOUBLE) * CAST(sk.s AS DOUBLE))), 6)
         AS err
FROM sk JOIN ex ON ex.n_name = sk.n_name
ORDER BY sk.n_name
"""


# ---------------------------------------------------------------------
# ABC classification — histogram-sketch twin (round 9)
# ---------------------------------------------------------------------


def abc_classification_sketch(
    lineitem: DataFrame, with_exact: bool = True
) -> DataFrame:
    """The mergeable scale twin of ``abc_classification`` — Pareto
    A/B/C classes from a 1000-bin equi-width revenue histogram
    (the ``gini_sketch`` Lorenz-binning pairing): whole bins are
    classed by their top-down cumulative revenue share against the
    70/90% marks, so a part's class is its BIN's class — a
    catalog-scale approximation whose error vs the exact rank-window
    classes is hashed BESIDE it (``*_sk`` vs ``*_ex`` columns).

    Plan: one fact-table scan to the part-grain aggregate, a 1-row
    extrema broadcast, scan-local bin assignment, a ≤1000-row
    histogram with map-side combine, bin-bounded cumulative windows —
    sketch state is B counters, mergeable across partitions/days.
    The exact branch (the catalog-grain global sort window) is the
    measurement twin and is dropped at outsized-catalog scale —
    ``with_exact=False`` is that production posture (the scale probe's
    ``abc_sketch_only`` shape runs it at 10x).
    """
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = lineitem.groupBy("l_partkey").agg(
        (F.sum(rev.cast("decimal(18,6)")) * 1_000_000)
        .cast("bigint")
        .alias("rev_u")
    )
    per_part = per_part.localCheckpoint(eager=False)
    stats = per_part.agg(
        F.min("rev_u").alias("mn"),
        F.max("rev_u").alias("mx"),
        F.sum("rev_u").alias("total_u"),
    )
    _B = 1000
    binned = per_part.crossJoin(F.broadcast(stats)).select(
        "rev_u",
        "total_u",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.expr(f"(rev_u - mn) * {_B} div (mx - mn)"),
                F.lit(_B - 1),
            )
        )
        .cast("long")
        .alias("bin"),
    )
    hist = binned.groupBy("total_u", "bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("rev_u").alias("sb"),
    )
    # top-down (descending revenue) cumulative share classes the bin
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sk = (
        hist.withColumn(
            "cum", F.sum(F.col("sb").cast("decimal(38,0)")).over(w)
        )
        .withColumn(
            "cls",
            F.when(F.expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(total_u AS DECIMAL(38,0)) * 70"), "A")
            .when(F.expr("CAST(cum AS DECIMAL(38,0)) * 100 <= CAST(total_u AS DECIMAL(38,0)) * 90"), "B")
            .otherwise("C"),
        )
        .groupBy("cls")
        .agg(
            F.sum("cnt").alias("n_parts_sk"),
            F.sum("sb").alias("rev_micros_sk"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * sum(sb)"
                " div max(total_u) AS BIGINT)"
            ).alias("share_ppm_sk"),
        )
    )
    if not with_exact:
        return sk.orderBy("cls")
    we = Window.orderBy(F.desc("rev_u"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ex = (
        per_part.crossJoin(F.broadcast(stats))
        .withColumn(
            "cum_u", F.sum(F.col("rev_u").cast("decimal(38,0)")).over(we)
        )
        .withColumn(
            "cls",
            F.when(F.expr("CAST(cum_u AS DECIMAL(38,0)) * 100 <= CAST(total_u AS DECIMAL(38,0)) * 70"), "A")
            .when(F.expr("CAST(cum_u AS DECIMAL(38,0)) * 100 <= CAST(total_u AS DECIMAL(38,0)) * 90"), "B")
            .otherwise("C"),
        )
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_parts_ex"),
            F.sum("rev_u").alias("rev_micros_ex"),
        )
    )
    return (
        sk.join(ex, "cls", "full")
        .select(
            "cls",
            "n_parts_sk",
            "rev_micros_sk",
            "share_ppm_sk",
            "n_parts_ex",
            "rev_micros_ex",
            (F.col("n_parts_sk") - F.col("n_parts_ex")).alias(
                "n_parts_err"
            ),
        )
        .orderBy("cls")
    )


def q_abc_classification_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gate query: histogram-binned ABC classes beside the exact
    rank-window classes, estimator error under the hash."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return abc_classification_sketch(li)


SQL_ABC_CLASSIFICATION_SKETCH = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_u
  FROM lineitem GROUP BY l_partkey
),
stats AS (
  SELECT MIN(rev_u) AS mn, MAX(rev_u) AS mx,
         CAST(SUM(rev_u) AS BIGINT) AS total_u
  FROM per_part
),
binned AS (
  SELECT p.rev_u, st.total_u,
         CASE WHEN st.mx = st.mn THEN 0
              ELSE LEAST((p.rev_u - st.mn) * 1000 // (st.mx - st.mn),
                         999)
         END AS bin
  FROM per_part p, stats st
),
hist AS (
  SELECT total_u, bin, COUNT(*) AS cnt, CAST(SUM(rev_u) AS BIGINT) AS sb
  FROM binned GROUP BY total_u, bin
),
sk AS (
  SELECT cls, CAST(SUM(cnt) AS BIGINT) AS n_parts_sk,
         CAST(SUM(sb) AS BIGINT) AS rev_micros_sk,
         CAST(CAST(1000000 AS HUGEINT) * SUM(sb) // MAX(total_u)
              AS BIGINT) AS share_ppm_sk
  FROM (
    SELECT cnt, sb, total_u,
           CASE WHEN SUM(sb) OVER (ORDER BY bin DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * 100 <= 70 * CAST(total_u AS HUGEINT) THEN 'A'
                WHEN SUM(sb) OVER (ORDER BY bin DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * 100 <= 90 * CAST(total_u AS HUGEINT) THEN 'B'
                ELSE 'C' END AS cls
    FROM hist
  ) GROUP BY cls
),
ex AS (
  SELECT cls, COUNT(*) AS n_parts_ex,
         CAST(SUM(rev_u) AS BIGINT) AS rev_micros_ex
  FROM (
    SELECT rev_u,
           CASE WHEN SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * 100 <= 70 * CAST(st.total_u AS HUGEINT) THEN 'A'
                WHEN SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * 100 <= 90 * CAST(st.total_u AS HUGEINT) THEN 'B'
                ELSE 'C' END AS cls
    FROM per_part, stats st
  ) GROUP BY cls
)
SELECT COALESCE(sk.cls, ex.cls) AS cls,
       sk.n_parts_sk, sk.rev_micros_sk, sk.share_ppm_sk,
       ex.n_parts_ex, ex.rev_micros_ex,
       sk.n_parts_sk - ex.n_parts_ex AS n_parts_err
FROM sk FULL JOIN ex ON ex.cls = sk.cls
ORDER BY cls
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "scd2_build": (q_scd2_build, SQL_SCD2_BUILD),
    "funnel_conversion": (q_funnel_conversion, SQL_FUNNEL_CONVERSION),
    "token_pmi": (q_token_pmi, SQL_TOKEN_PMI),
    "incremental_agg": (q_incremental_agg, SQL_INCREMENTAL_AGG),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "ab_chi2": (q_ab_chi2, SQL_AB_CHI2),
    "session_paths": (q_session_paths, SQL_SESSION_PATHS),
    "incremental_join": (q_incremental_join, SQL_INCREMENTAL_JOIN),
    "attribution": (q_attribution, SQL_ATTRIBUTION),
    "rfm_segments": (q_rfm_segments, SQL_RFM_SEGMENTS),
    "dominant_suppliers": (q_dominant_suppliers, SQL_DOMINANT_SUPPLIERS),
    "winsorized_stats": (q_winsorized_stats, SQL_WINSORIZED_STATS),
    "rfm_segments_sketch": (q_rfm_segments_sketch, SQL_RFM_SEGMENTS_SKETCH),
    "budget_allocation": (q_budget_allocation, SQL_BUDGET_ALLOCATION),
    "abc_classification": (q_abc_classification, SQL_ABC_CLASSIFICATION),
    "gini_concentration": (q_gini_concentration, SQL_GINI_CONCENTRATION),
    "gini_sketch": (q_gini_sketch, SQL_GINI_SKETCH),
    "abc_classification_sketch": (
        q_abc_classification_sketch,
        SQL_ABC_CLASSIFICATION_SKETCH,
    ),
}
