"""Table statistics collection — the ANALYZE pass that feeds a cost
model (broadcast-vs-shuffle decisions, join ordering, partition-count
sizing all start from per-column null counts / NDVs / ranges).

Spark-first shape: TWO narrow scans. Scan 1 computes every column's
null count and min/max in one aggregation (single result row, pivoted
to row-per-column by a driver-trivial explode). Scan 2 computes every
exact NDV together over the UNPIVOTED (column, rendered-value) pairs:
one Generate, then the standard two-phase distinct (map-side dedup
keyed on (col, value) bounds the shuffle to per-partition distinct
values), then an 11-row count — joined back by a broadcast. Spark's
native multi-DISTINCT aggregate (Expand-based) was measured 10-20×
slower here: 11 distinct aggregates expand every row 11-wide and drag
all the min/max buffers through the wide shuffle, where the unpivoted
relation stays 2 narrow columns end to end.

At 100 TB the exact NDV (`count(distinct)`) is the one knob to turn:
swap it for :func:`~magmapandas_spark.operators.sketches.hll_distinct`
registers (constant state, mergeable across partitions AND across
incremental ingest batches) — the gate keeps exact NDV so the oracle
is a plain COUNT(DISTINCT).

Cross-engine determinism: min/max NEVER surface as rendered strings
for non-string types (Java's Double.toString and DuckDB's float
formatting disagree on exponent notation; timestamp rendering differs
in fractional-second trimming). Numerics surface as ROUND(x, 4)
doubles, timestamps as epoch seconds (bigint), and only VARCHAR
columns use string min/max.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

_TS_TYPES = (TimestampType, TimestampNTZType)


def table_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column (null_count, ndv, min/max) for ``columns`` (default:
    every column of a supported type) in one scan.

    Returns one row per column:
    (col, null_count, ndv, min_num, max_num, min_str, max_str) —
    the numeric pair for numeric/timestamp columns (rounded doubles /
    epoch seconds), the string pair for VARCHAR, NULL otherwise."""
    from magmapandas_spark.operators.dedup import fan_out

    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = columns if columns is not None else list(fields)
    # fan_out: the k-column unpivot explode and the per-column
    # partial distincts run inside the scan stage — single-row-group
    # inputs would serialize the whole ANALYZE onto one core
    df = fan_out(df)
    # exact NDVs over the narrow unpivoted pairs (rendered values:
    # shortest-roundtrip double/timestamp strings are injective, so
    # string-distinct == value-distinct; NULLs excluded per standard
    # count-distinct semantics)
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*").filter(F.col("v").isNotNull())
    ndv_rel = (
        pairs.distinct()
        .groupBy("col")
        .agg(F.count(F.lit(1)).alias("ndv"))
    )
    aggs = []
    for c in cols:
        t = fields[c]
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}")
        )
        if isinstance(t, NumericType):
            aggs.append(
                F.round(F.min(c).cast("double"), 4).alias(f"mn_{c}")
            )
            aggs.append(
                F.round(F.max(c).cast("double"), 4).alias(f"mx_{c}")
            )
        elif isinstance(t, _TS_TYPES):
            aggs.append(
                F.unix_timestamp(F.min(c)).cast("double").alias(f"mn_{c}")
            )
            aggs.append(
                F.unix_timestamp(F.max(c)).cast("double").alias(f"mx_{c}")
            )
        elif isinstance(t, StringType):
            aggs.append(F.min(c).alias(f"ms_{c}"))
            aggs.append(F.max(c).alias(f"xs_{c}"))
    row = df.agg(*aggs)

    def entry(c: str):
        t = fields[c]
        num = isinstance(t, (NumericType,) + _TS_TYPES)
        return F.struct(
            F.lit(c).alias("col"),
            F.col(f"nn_{c}").alias("null_count"),
            (F.col(f"mn_{c}") if num else F.lit(None).cast("double")).alias(
                "min_num"
            ),
            (F.col(f"mx_{c}") if num else F.lit(None).cast("double")).alias(
                "max_num"
            ),
            (
                F.col(f"ms_{c}")
                if isinstance(t, StringType)
                else F.lit(None).cast("string")
            ).alias("min_str"),
            (
                F.col(f"xs_{c}")
                if isinstance(t, StringType)
                else F.lit(None).cast("string")
            ).alias("max_str"),
        )

    base = row.select(
        F.explode(F.array(*[entry(c) for c in cols])).alias("s")
    ).select("s.*")
    return base.join(F.broadcast(ndv_rel), on="col", how="left").select(
        "col",
        "null_count",
        F.coalesce("ndv", F.lit(0)).alias("ndv"),
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: full ANALYZE of the lineitem table — null counts,
    exact NDVs, numeric/timestamp ranges, and string min/max for all
    11 columns, one scan, all under the hash."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return table_stats(li).orderBy("col").coalesce(1)


SQL_TABLE_STATS = """
WITH li AS (SELECT * FROM lineitem)
SELECT col, null_count, ndv, min_num, max_num, min_str, max_str
FROM (
  SELECT 'l_orderkey' AS col,
         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
         COUNT(DISTINCT l_orderkey) AS ndv,
         ROUND(CAST(MIN(l_orderkey) AS DOUBLE), 4) AS min_num,
         ROUND(CAST(MAX(l_orderkey) AS DOUBLE), 4) AS max_num,
         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
  FROM li
  UNION ALL
  SELECT 'l_partkey',
         CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_partkey),
         ROUND(CAST(MIN(l_partkey) AS DOUBLE), 4),
         ROUND(CAST(MAX(l_partkey) AS DOUBLE), 4), NULL, NULL
  FROM li
  UNION ALL
  SELECT 'l_suppkey',
         CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_suppkey),
         ROUND(CAST(MIN(l_suppkey) AS DOUBLE), 4),
         ROUND(CAST(MAX(l_suppkey) AS DOUBLE), 4), NULL, NULL
  FROM li
  UNION ALL
  SELECT 'l_linenumber',
         CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_linenumber),
         ROUND(CAST(MIN(l_linenumber) AS DOUBLE), 4),
         ROUND(CAST(MAX(l_linenumber) AS DOUBLE), 4), NULL, NULL
  FROM li
  UNION ALL
  SELECT 'l_quantity',
         CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_quantity),
         ROUND(CAST(MIN(l_quantity) AS DOUBLE), 4),
         ROUND(CAST(MAX(l_quantity) AS DOUBLE), 4), NULL, NULL
  FROM li
  UNION ALL
  SELECT 'l_extendedprice',
         CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_extendedprice),
         ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 4),
         ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 4), NULL, NULL
  FROM li
  UNION ALL
  SELECT 'l_discount',
         CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_discount),
         ROUND(CAST(MIN(l_discount) AS DOUBLE), 4),
         ROUND(CAST(MAX(l_discount) AS DOUBLE), 4), NULL, NULL
  FROM li
  UNION ALL
  SELECT 'l_tax',
         CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_tax),
         ROUND(CAST(MIN(l_tax) AS DOUBLE), 4),
         ROUND(CAST(MAX(l_tax) AS DOUBLE), 4), NULL, NULL
  FROM li
  UNION ALL
  SELECT 'l_returnflag',
         CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_returnflag),
         NULL, NULL, MIN(l_returnflag), MAX(l_returnflag)
  FROM li
  UNION ALL
  SELECT 'l_linestatus',
         CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_linestatus),
         NULL, NULL, MIN(l_linestatus), MAX(l_linestatus)
  FROM li
  UNION ALL
  SELECT 'l_shipdate',
         CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT l_shipdate),
         CAST(epoch(MIN(l_shipdate)) AS DOUBLE),
         CAST(epoch(MAX(l_shipdate)) AS DOUBLE), NULL, NULL
  FROM li
)
ORDER BY col
"""


# ---------------------------------------------------------------------
# Mergeable stats — the incremental / streaming ANALYZE form
# ---------------------------------------------------------------------

def mergeable_stats_relation(
    df: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """The exactly-mergeable subset of :func:`table_stats` as a
    per-column relation: (col, n_rows, null_count, min_num, max_num,
    min_str, max_str). Row counts and null counts merge by integer
    sum, extrema by min/max — so per-batch relations fold into a
    running state whose final value is bit-equal to one batch pass
    over the union, regardless of batch boundaries or order. Exact
    NDV is deliberately absent (not mergeable); layer
    ``hll_register_relation`` per column when an incremental distinct
    estimate is needed."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = columns if columns is not None else list(fields)
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        t = fields[c]
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}")
        )
        if isinstance(t, NumericType):
            aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
        elif isinstance(t, _TS_TYPES):
            aggs.append(
                F.unix_timestamp(F.min(c)).cast("double").alias(f"mn_{c}")
            )
            aggs.append(
                F.unix_timestamp(F.max(c)).cast("double").alias(f"mx_{c}")
            )
        elif isinstance(t, StringType):
            aggs.append(F.min(c).alias(f"ms_{c}"))
            aggs.append(F.max(c).alias(f"xs_{c}"))
    row = df.agg(*aggs)

    def entry(c: str):
        t = fields[c]
        num = isinstance(t, (NumericType,) + _TS_TYPES)
        return F.struct(
            F.lit(c).alias("col"),
            F.col("_n_rows").alias("n_rows"),
            F.col(f"nn_{c}").alias("null_count"),
            (F.col(f"mn_{c}") if num else F.lit(None).cast("double")).alias(
                "min_num"
            ),
            (F.col(f"mx_{c}") if num else F.lit(None).cast("double")).alias(
                "max_num"
            ),
            (
                F.col(f"ms_{c}")
                if isinstance(t, StringType)
                else F.lit(None).cast("string")
            ).alias("min_str"),
            (
                F.col(f"xs_{c}")
                if isinstance(t, StringType)
                else F.lit(None).cast("string")
            ).alias("max_str"),
        )

    return row.select(
        F.explode(F.array(*[entry(c) for c in cols])).alias("s")
    ).select("s.*")


def merge_stats_relations(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two mergeable-stats relations: counts add, extrema
    min/max. Associative and commutative, so any fold order over any
    batching yields the identical state."""
    return (
        a.unionByName(b)
        .groupBy("col")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("null_count").alias("null_count"),
            F.min("min_num").alias("min_num"),
            F.max("max_num").alias("max_num"),
            F.min("min_str").alias("min_str"),
            F.max("max_str").alias("max_str"),
        )
    )


# ---------------------------------------------------------------------
# Zone-map (data-skipping) effectiveness report
# ---------------------------------------------------------------------


def zonemap_report(
    df: DataFrame,
    stat_col: str,
    order_col: str,
    n_files: int = 64,
    lo: int = 150,
    hi: int = 300,
    layout: str = "layout",
) -> DataFrame:
    """Per-layout zone-map pruning statistics for the predicate
    ``stat_col BETWEEN lo AND hi``.

    Rows are packed into ``n_files`` synthetic files in ``order_col``
    order via explicit rank arithmetic ``(rn - 1) * n_files div n``
    (NTILE's remainder rule spelled out, so every engine buckets
    identically); per-file min/max of ``stat_col`` are the zone maps.
    Output: one row — files pruned, rows scanned vs matched, and the
    scan efficiency in ppm. Running it once with ``order_col`` =
    insertion key and once with ``order_col`` = the filter column
    quantifies what clustering buys the scan planner — the
    data-layout decision behind Z-order/compaction at 100 TB.
    """
    from pyspark.sql import Window as W

    filed = df.select(
        F.col(stat_col).alias("x"),
        F.expr(
            f"(ROW_NUMBER() OVER (ORDER BY {order_col}, doc_id) - 1)"
        ).alias("rn0"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    ).select(
        "x", F.expr(f"rn0 * {n_files} div n").alias("file_id")
    )
    zones = filed.groupBy("file_id").agg(
        F.min("x").alias("zmin"),
        F.max("x").alias("zmax"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr(f"CASE WHEN x BETWEEN {lo} AND {hi} THEN 1 ELSE 0 END")
        ).alias("n_match"),
    )
    return zones.select(
        F.lit(layout).alias("layout"),
        F.expr(f"CASE WHEN zmax < {lo} OR zmin > {hi} THEN 0 ELSE 1 END").alias(
            "_scanned"
        ),
        "n_rows",
        "n_match",
    ).groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.expr("1 - _scanned")).alias("files_pruned"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.expr("_scanned * n_rows")).alias("rows_scanned"),
        F.sum("n_match").alias("rows_matched"),
    ).select(
        "layout",
        "n_files",
        "files_pruned",
        "rows_total",
        "rows_scanned",
        "rows_matched",
        F.expr(
            "CASE WHEN rows_scanned > 0"
            " THEN rows_matched * 1000000 div rows_scanned ELSE 0 END"
        ).alias("efficiency_ppm"),
    )


def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: zone-map pruning report over documents for
    ``n_chars BETWEEN 150 AND 300`` under the insertion-ordered layout
    vs the n_chars-clustered layout."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = zonemap_report(docs, "n_chars", "doc_id", layout="insertion")
    b = zonemap_report(docs, "n_chars", "n_chars", layout="clustered")
    return a.unionByName(b).orderBy("layout")


def _sql_zonemap_one(order_col: str, layout: str) -> str:
    return f"""
  SELECT '{layout}' AS layout, n_files, files_pruned, rows_total,
         rows_scanned, rows_matched,
         CASE WHEN rows_scanned > 0
              THEN rows_matched * 1000000 // rows_scanned ELSE 0 END
           AS efficiency_ppm
  FROM (
    SELECT COUNT(*) AS n_files,
           CAST(SUM(1 - scanned) AS BIGINT) AS files_pruned,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(scanned * n_rows) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched
    FROM (
      SELECT CASE WHEN MAX(x) < 150 OR MIN(x) > 300 THEN 0 ELSE 1 END
               AS scanned,
             COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN x BETWEEN 150 AND 300 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_match
      FROM (
        SELECT n_chars AS x,
               (ROW_NUMBER() OVER (ORDER BY {order_col}, doc_id) - 1)
                 * 64 // COUNT(*) OVER () AS file_id
        FROM documents
      ) GROUP BY file_id
    )
  )"""


SQL_ZONEMAP_PRUNE = (
    "SELECT * FROM ("
    + _sql_zonemap_one("doc_id", "insertion")
    + "\nUNION ALL\n"
    + _sql_zonemap_one("n_chars", "clustered")
    + ") ORDER BY layout"
)


# ---------------------------------------------------------------------
# Deterministic Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------

_BOOT_B = 40


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    val_col: str,
    id_col: str,
    n_boot: int = _BOOT_B,
    salt: str = "bs7",
) -> DataFrame:
    """Per-group bootstrap CI for the mean, fully deterministic.

    The classic Poisson bootstrap (each replicate weights every row
    i.i.d. ~Poisson(1) — the streaming-friendly resample that never
    materializes a resampled dataset) with the Poisson draw replaced
    by Binomial(8, 1/8) (mean 1, var 7/8) built from eight 3-bit
    fields of a portable md5 hash — so both engines draw the SAME
    weights and the whole CI hashes exactly. Replicate means are
    decimal-exact weighted sums over doubles; the 95% interval is the
    (2nd, 39th) order statistic of the 40 replicate means.

    Plan: one B-fold scan-local explode (no shuffle), one
    (group, replicate) aggregation with map-side partials, one
    40-row-per-group order-statistic window. At 100 TB the explode
    multiplies the scan, not any shuffle — B caps the cost, and the
    aggregation state is |groups|·B rows.
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt),
                    F.col(id_col).cast("string"),
                    F.lit("_"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    w_terms = " + ".join(
        f"(CASE WHEN (h div {8 ** k}) % 8 = 0 THEN 1 ELSE 0 END)"
        for k in range(8)
    )
    from magmapandas_spark.operators.dedup import fan_out

    # fan_out BEFORE the B-fold explode: the replicate expansion and
    # its per-(row, b) md5 run inside the scan stage, so a single-
    # row-group input would serialize B x |rows| hashes onto one core
    rep = (
        fan_out(df)
        .select(
            F.col(group_col).alias("g"),
            F.col(val_col).alias("x"),
            F.col(id_col),
            b,
        )
        .withColumn("h", h)
        .select("g", "x", "b", F.expr(w_terms).alias("w"))
    )
    means = rep.groupBy("g", "b").agg(
        (
            F.sum(
                F.col("x").cast("decimal(18,6)") * F.col("w")
            ).cast("double")
            / F.sum("w")
        ).alias("mean_b")
    )
    w_rank = Window.partitionBy("g").orderBy("mean_b", "b")
    ranked = means.select(
        "g", "mean_b", F.row_number().over(w_rank).alias("rn")
    )
    ci = ranked.groupBy("g").agg(
        F.max(F.expr("CASE WHEN rn = 2 THEN mean_b END")).alias("ci_lo"),
        F.max(
            F.expr(f"CASE WHEN rn = {_BOOT_B - 1} THEN mean_b END")
        ).alias("ci_hi"),
    )
    est = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col(val_col).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_est"),
    )
    return (
        est.join(ci, "g")
        .select(
            F.col("g").alias(group_col), "n", "mean_est", "ci_lo", "ci_hi"
        )
        .orderBy(group_col)
    )


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: deterministic Poisson-bootstrap 95% CI of the mean
    event value per type — the whole interval under the hash."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return bootstrap_mean_ci(ev, "event_type", "value", "event_id")


def _sql_bootstrap() -> str:
    w_terms = " + ".join(
        f"(CASE WHEN (h // {8 ** k}) % 8 = 0 THEN 1 ELSE 0 END)"
        for k in range(8)
    )
    return f"""
WITH rep AS (
  SELECT event_type AS g, value AS x, b.b,
         ('0x' || substr(md5('bs7' || CAST(event_id AS VARCHAR) || '_'
                              || CAST(b.b AS VARCHAR)), 1, 12))::BIGINT
           AS h
  FROM events, (SELECT UNNEST(range(0, {_BOOT_B})) AS b) b
),
weighted AS (
  SELECT g, b, x, {w_terms} AS w FROM rep
),
means AS (
  SELECT g, b,
         CAST(SUM(CAST(x AS DECIMAL(18,6)) * w) AS DOUBLE) / SUM(w)
           AS mean_b
  FROM weighted GROUP BY g, b
),
ranked AS (
  SELECT g, mean_b,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY mean_b, b) AS rn
  FROM means
),
ci AS (
  SELECT g,
         MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
         MAX(CASE WHEN rn = {_BOOT_B - 1} THEN mean_b END) AS ci_hi
  FROM ranked GROUP BY g
),
est AS (
  SELECT event_type AS g, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           AS mean_est
  FROM events GROUP BY 1
)
SELECT est.g AS event_type, est.n, est.mean_est, ci.ci_lo, ci.ci_hi
FROM est JOIN ci ON ci.g = est.g
ORDER BY event_type
"""


SQL_BOOTSTRAP_CI = _sql_bootstrap()


# ---------------------------------------------------------------------
# Pairwise Pearson correlation matrix (round 8)
# ---------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the numeric-column correlation matrix a profiling
    pass publishes — all 6 pairwise Pearson r's over lineitem's
    measure columns from ONE scan of DECIMAL-exact power sums
    (Σx, Σx², Σxy per pair; per-row DECIMAL(38,6) casts make every
    sum order-independent under any partitioning), assembled with one
    shared closed form so both engines run identical double
    arithmetic. Built-in corr() differs between engines in summation
    order — the power-sum route is the reproducible one.

    Plan: one aggregation producing a single 15-column row (algebraic
    sums -> full map-side combine), then a scan-free explode into the
    6 pair rows. k measures cost k(k+3)/2 scan-local terms — the
    gram_aggregate posture, no extra shuffle, no window."""
    from magmapandas_spark.operators.dedup import fan_out

    # fan_out: the k(k+3)/2 decimal power-sum terms evaluate in the
    # scan stage's partial aggregation — parallelize it before the
    # single 1-row exchange (sums are order-independent by DECIMAL)
    li = fan_out(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))

    def ps(e):
        return F.sum(e.cast("decimal(38,6)")).cast("double")

    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(ps(F.col(c)).alias(f"s_{c}"))
        aggs.append(ps(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            aggs.append(ps(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    g = li.agg(*aggs)

    def r_of(a, b):
        n = F.col("n")
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        da = F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
        db = F.sqrt(n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        return num / (da * db)

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.round(r_of(a, b), 6).alias("pearson_r"),
            )
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i + 1 :]
        ]
    )
    return (
        g.select(F.col("n").cast("bigint").alias("n"), F.explode(pairs).alias("p"))
        .select("p.col_x", "p.col_y", "n", "p.pearson_r")
        .orderBy("col_x", "col_y")
    )


def _sql_corr_matrix() -> str:
    ps = "CAST(SUM(CAST({x} AS DECIMAL(38,6))) AS DOUBLE)"
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        sums.append(f"{ps.format(x=c)} AS s_{c}")
        sums.append(f"{ps.format(x=f'{c} * {c}')} AS ss_{c}")
    pair_rows = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            sums.append(f"{ps.format(x=f'{a} * {b}')} AS sp_{a}_{b}")
            pair_rows.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y,"
                f" CAST(n AS BIGINT) AS n,"
                f" ROUND((n * sp_{a}_{b} - s_{a} * s_{b})"
                f" / (SQRT(n * ss_{a} - s_{a} * s_{a})"
                f" * SQRT(n * ss_{b} - s_{b} * s_{b})), 6) AS pearson_r"
                f" FROM a"
            )
    union = "\nUNION ALL\n".join(pair_rows)
    return (
        "WITH a AS (\n  SELECT " + ",\n    ".join(sums)
        + "\n  FROM lineitem\n)\n" + union + "\nORDER BY col_x, col_y"
    )


SQL_CORR_MATRIX = _sql_corr_matrix()


# ---------------------------------------------------------------------
# Population-stability-index drift report (round 8)
# ---------------------------------------------------------------------


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: PSI drift between two corpus snapshots — the
    distribution-shift monitor every production data pipeline runs
    before accepting a rebuilt corpus. Snapshot A is the documents
    table; snapshot B a deterministic filtered rebuild (docs dropped
    when doc_id % 3 = 0 AND n_chars >= 800 — a length-skewed
    deletion, so the drift is real). n_chars is binned into 10
    equi-width bins from A's extrema; per bin the Laplace-smoothed
    shares give term = (pA − pB)·ln(pA/pB), and PSI = Σ terms (terms
    rounded to 9 decimals then DECIMAL-summed, so the total is
    order-independent; ln agrees across engines at this rounding per
    the dsir/A-ES precedent).

    Plan: one extrema aggregate broadcast back, then ONE bin-count
    aggregation emitting BOTH snapshots' counts (B is a filtered
    subset of A, so c_b is a conditional count in the same pass — not
    a second scan), a 10-row assembly against spark.range(10), one
    1-row total broadcast. Exactly two structural passes over the
    corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    ext = docs.agg(
        F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx")
    )
    in_b = ~((F.col("doc_id") % 3 == 0) & (F.col("n_chars") >= 800))
    counts = (
        docs.crossJoin(F.broadcast(ext))
        .select(
            F.when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.expr("(n_chars - mn) * 10 div (mx - mn)"),
                    F.lit(9),
                )
            )
            .cast("long")
            .alias("bin"),
            in_b.cast("long").alias("in_b"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("c_a"),
            F.sum("in_b").alias("c_b"),
        )
        # materialize the ≤10-row bin-count relation ONCE: the final
        # plan references it through scored/psi/tot, and each lazy
        # reference re-ran the full corpus bin-count scan (plan showed
        # 8 parquet scans — guide §3.3, truncate with an intermediate).
        # Values are deterministic, so the hash is unchanged; now
        # exactly the two structural passes the docstring promises.
        .localCheckpoint(eager=True)
    )
    grid = spark.range(10).select(F.col("id").alias("bin"))
    j = grid.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    tot = j.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    p_a = (F.col("c_a") + F.lit(1.0)) / (F.col("n_a") + F.lit(10.0))
    p_b = (F.col("c_b") + F.lit(1.0)) / (F.col("n_b") + F.lit(10.0))
    term = F.round((p_a - p_b) * F.log(p_a / p_b), 9)
    scored = j.crossJoin(F.broadcast(tot)).select(
        "bin", "c_a", "c_b", term.alias("term9")
    )
    psi = scored.agg(
        F.sum(F.col("term9").cast("decimal(18,9)"))
        .cast("double")
        .alias("psi")
    )
    return (
        scored.crossJoin(F.broadcast(psi))
        .select(
            "bin",
            "c_a",
            "c_b",
            F.round("term9", 6).alias("term"),
            F.round("psi", 6).alias("psi_total"),
        )
        .orderBy("bin")
    )


SQL_PSI_DRIFT = """
WITH docs AS (SELECT doc_id, n_chars FROM documents),
ext AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM docs),
counts AS (
  SELECT CASE WHEN mx = mn THEN 0
              ELSE LEAST((n_chars - mn) * 10 // (mx - mn), 9) END AS bin,
         COUNT(*) AS c_a,
         SUM(CASE WHEN NOT (doc_id % 3 = 0 AND n_chars >= 800)
                  THEN 1 ELSE 0 END) AS c_b
  FROM docs CROSS JOIN ext GROUP BY 1
),
grid AS (
  SELECT g.g AS bin, COALESCE(c.c_a, 0) AS c_a,
         CAST(COALESCE(c.c_b, 0) AS BIGINT) AS c_b
  FROM (SELECT UNNEST(range(10)) AS g) g
  LEFT JOIN counts c ON c.bin = g.g
),
tot AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b FROM grid),
scored AS (
  SELECT bin, c_a, c_b,
         ROUND((CAST(c_a + 1 AS DOUBLE) / (n_a + 10.0)
                - CAST(c_b + 1 AS DOUBLE) / (n_b + 10.0))
               * LN((CAST(c_a + 1 AS DOUBLE) / (n_a + 10.0))
                    / (CAST(c_b + 1 AS DOUBLE) / (n_b + 10.0))), 9)
           AS term9
  FROM grid CROSS JOIN tot
),
psi AS (
  SELECT CAST(SUM(CAST(term9 AS DECIMAL(18,9))) AS DOUBLE) AS psi
  FROM scored
)
SELECT bin, c_a, c_b, ROUND(term9, 6) AS term,
       ROUND(psi, 6) AS psi_total
FROM scored CROSS JOIN psi
ORDER BY bin
"""


# ---------------------------------------------------------------------
# Column-dependency profiling (round 8)
# ---------------------------------------------------------------------


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: mutual information between customer nation and
    market segment — the column-dependency signal a profiling pass
    uses to find redundant or leaking attributes. Contingency and
    marginal counts are exact integers; each cell's term
    (c/N)·ln(c·N/(c_a·c_b)) is one fixed-order double chain rounded
    to 9 decimals, and the total MI is the DECIMAL sum of the rounded
    terms (order-independent; the ln-rounding precedent of
    psi_drift/dsir).

    Plan: one contingency aggregation (|nations|×|segments| rows),
    two marginal roll-ups of it, broadcast assembly — nothing past
    the cell grain."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_nationkey").alias("a"), F.col("c_mktsegment").alias("b")
    )
    cont = (
        cust.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        # materialize the |nations|×|segments| (≈125-row) contingency
        # table ONCE: ma/mb/tot/scored/mi all derive from it and each
        # lazy reference re-scanned customer (8 scans in the plan —
        # guide §3.3). Deterministic counts, hash unchanged.
        .localCheckpoint(eager=True)
    )
    ma = cont.groupBy("a").agg(F.sum("c").alias("ca"))
    mb = cont.groupBy("b").agg(F.sum("c").alias("cb"))
    tot = cont.agg(F.sum("c").alias("n"))
    j = (
        cont.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    c, ca, cb, n = (
        F.col("c").cast("double"),
        F.col("ca").cast("double"),
        F.col("cb").cast("double"),
        F.col("n").cast("double"),
    )
    term = F.round((c / n) * F.log((c * n) / (ca * cb)), 9)
    scored = j.select("a", "b", F.col("c"), term.alias("term9"))
    mi = scored.agg(
        F.sum(F.col("term9").cast("decimal(18,9)"))
        .cast("double")
        .alias("mi")
    )
    return (
        scored.crossJoin(F.broadcast(mi))
        .select(
            "a",
            "b",
            "c",
            F.round("term9", 6).alias("term"),
            F.round("mi", 6).alias("mi_total"),
        )
        .orderBy("a", "b")
    )


SQL_MUTUAL_INFO = """
WITH cont AS (
  SELECT c_nationkey AS a, c_mktsegment AS b, COUNT(*) AS c
  FROM customer GROUP BY 1, 2
),
ma AS (SELECT a, SUM(c) AS ca FROM cont GROUP BY a),
mb AS (SELECT b, SUM(c) AS cb FROM cont GROUP BY b),
tot AS (SELECT SUM(c) AS n FROM cont),
scored AS (
  SELECT cont.a, cont.b, cont.c,
         ROUND((CAST(cont.c AS DOUBLE) / CAST(n AS DOUBLE))
               * LN((CAST(cont.c AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 9)
           AS term9
  FROM cont
  JOIN ma ON ma.a = cont.a
  JOIN mb ON mb.b = cont.b
  CROSS JOIN tot
),
mi AS (
  SELECT CAST(SUM(CAST(term9 AS DECIMAL(18,9))) AS DOUBLE) AS mi
  FROM scored
)
SELECT a, b, c, ROUND(term9, 6) AS term, ROUND(mi, 6) AS mi_total
FROM scored CROSS JOIN mi
ORDER BY a, b
"""


def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: functional-dependency audit — for three candidate
    FDs over orders/lineitem ((l_orderkey → o_custkey),
    (l_orderkey, l_linenumber → l_partkey), (l_partkey →
    l_returnflag)), the exact violation census: determinant groups
    whose dependent has >1 distinct value. The first two hold by
    construction (key and FK integrity); the third genuinely fails —
    the audit's positive AND negative paths are both under the hash.

    Plan: per FD one (determinant → count distinct dependent)
    aggregation and a 1-row roll-up; FDs evaluated independently and
    unioned (3 bounded rows out)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def audit(df, det, dep, name):
        per = df.groupBy(*det).agg(
            F.count_distinct(F.col(dep)).alias("nd")
        )
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(
                F.expr("CASE WHEN nd > 1 THEN 1 ELSE 0 END")
            ).cast("long").alias("n_violating"),
            F.max("nd").alias("max_distinct"),
        )
    lo = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    out = (
        audit(lo, ["l_orderkey"], "o_custkey", "orderkey->custkey")
        .unionByName(
            audit(
                li, ["l_orderkey", "l_linenumber"], "l_partkey",
                "orderkey,line->partkey",
            )
        )
        .unionByName(
            audit(li, ["l_partkey"], "l_returnflag", "partkey->returnflag")
        )
    )
    return out.orderBy("fd")


SQL_FD_CHECK = """
WITH fd1 AS (
  SELECT 'orderkey->custkey' AS fd, COUNT(*) AS n_groups,
         CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         MAX(nd) AS max_distinct
  FROM (
    SELECT l_orderkey, COUNT(DISTINCT o_custkey) AS nd
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY l_orderkey
  )
),
fd2 AS (
  SELECT 'orderkey,line->partkey' AS fd, COUNT(*) AS n_groups,
         CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         MAX(nd) AS max_distinct
  FROM (
    SELECT l_orderkey, l_linenumber, COUNT(DISTINCT l_partkey) AS nd
    FROM lineitem GROUP BY l_orderkey, l_linenumber
  )
),
fd3 AS (
  SELECT 'partkey->returnflag' AS fd, COUNT(*) AS n_groups,
         CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         MAX(nd) AS max_distinct
  FROM (
    SELECT l_partkey, COUNT(DISTINCT l_returnflag) AS nd
    FROM lineitem GROUP BY l_partkey
  )
)
SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL
SELECT * FROM fd3
ORDER BY fd
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "table_stats": (q_table_stats, SQL_TABLE_STATS),
    "zonemap_prune": (q_zonemap_prune, SQL_ZONEMAP_PRUNE),
    "bootstrap_ci": (q_bootstrap_ci, SQL_BOOTSTRAP_CI),
    "mutual_info": (q_mutual_info, SQL_MUTUAL_INFO),
    "fd_check": (q_fd_check, SQL_FD_CHECK),
    "corr_matrix": (q_corr_matrix, SQL_CORR_MATRIX),
    "psi_drift": (q_psi_drift, SQL_PSI_DRIFT),
}
