"""Data-quality expectations — declarative constraint validation for
lake tables (the Deequ / dbt-test shape, Spark-first).

A pipeline that cannot ASSERT its invariants ships corrupt data the
day an upstream change lands. This module evaluates a rule list
against a table and returns one row per rule with its violation
count — never throwing mid-job, never scanning more than needed:

- row-level rules (``not_null``, ``in_range``, ``accepted_values``,
  ``matches_regex``) fold into ONE aggregation over ONE scan — adding
  a rule adds a column to the agg, not a pass over the data;
- ``unique`` counts over-represented keys with a map-side-combined
  groupBy (the shuffle carries distinct keys only);
- ``foreign_key`` is a LEFT ANTI join against the reference keys —
  broadcast when the reference is dimension-sized, the same plan
  discipline as merge_upsert.

Cross-engine determinism: counts are exact integers; rule labels are
literals; no floats anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Rule:
    """One expectation: ``label`` names it in the report, ``kind``
    routes evaluation."""

    label: str
    kind: str
    col: str | None = None
    cols: list[str] = field(default_factory=list)
    lo: float | None = None
    hi: float | None = None
    values: list = field(default_factory=list)
    pattern: str | None = None
    ref: DataFrame | None = None
    ref_col: str | None = None


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", "not_null", col=col)


def in_range(col: str, lo: float, hi: float) -> Rule:
    return Rule(
        f"in_range({col},{lo},{hi})", "in_range", col=col, lo=lo, hi=hi
    )


def accepted_values(col: str, values: list) -> Rule:
    return Rule(
        f"accepted_values({col})", "accepted_values", col=col,
        values=list(values),
    )


def matches_regex(col: str, pattern: str) -> Rule:
    return Rule(
        f"matches_regex({col})", "matches_regex", col=col,
        pattern=pattern,
    )


def unique(*cols: str) -> Rule:
    return Rule(
        f"unique({','.join(cols)})", "unique", cols=list(cols)
    )


def foreign_key(col: str, ref: DataFrame, ref_col: str) -> Rule:
    return Rule(
        f"foreign_key({col})", "foreign_key", col=col, ref=ref,
        ref_col=ref_col,
    )


def _violation_expr(r: Rule) -> Column:
    c = F.col(r.col)
    if r.kind == "not_null":
        return c.isNull()
    if r.kind == "in_range":
        return c.isNull() | (c < F.lit(r.lo)) | (c > F.lit(r.hi))
    if r.kind == "accepted_values":
        return c.isNull() | ~c.isin(r.values)
    if r.kind == "matches_regex":
        return c.isNull() | ~c.rlike(r.pattern)
    raise ValueError(f"not a row-level rule: {r.kind}")


def validate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate every rule; returns (rule, n_violations, passed),
    one row per rule, ordered by rule label.

    Row-level rules share one scan/one aggregation; ``unique`` rules
    count rows beyond the first per key (so the number is "rows that
    would be dropped by a dedup", not "keys with dupes");
    ``foreign_key`` counts child rows whose key has no parent
    (NULL keys are orphans — use not_null beside it if NULLs are
    legal)."""
    spark = df.sparkSession
    parts: list[DataFrame] = []
    row_rules = [
        r for r in rules
        if r.kind in ("not_null", "in_range", "accepted_values",
                      "matches_regex")
    ]
    if row_rules:
        agg = df.agg(
            *[
                F.sum(_violation_expr(r).cast("long")).alias(str(i))
                for i, r in enumerate(row_rules)
            ]
        )
        parts.append(
            agg.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r.label).alias("rule"),
                                F.coalesce(
                                    F.col(str(i)), F.lit(0)
                                ).alias("n_violations"),
                            )
                            for i, r in enumerate(row_rules)
                        ]
                    )
                ).alias("s")
            ).select("s.*")
        )
    for r in rules:
        if r.kind == "unique":
            dup = (
                df.groupBy(*[F.col(c) for c in r.cols])
                .agg(F.count(F.lit(1)).alias("cnt"))
                .agg(
                    F.coalesce(
                        F.sum(F.col("cnt") - 1), F.lit(0)
                    ).cast("long").alias("n_violations")
                )
            )
            parts.append(dup.select(F.lit(r.label).alias("rule"),
                                    "n_violations"))
        elif r.kind == "foreign_key":
            refkeys = r.ref.select(
                F.col(r.ref_col).alias(r.col)
            ).distinct()
            orphans = df.select(r.col).join(
                F.broadcast(refkeys), on=r.col, how="left_anti"
            ).agg(F.count(F.lit(1)).alias("n_violations"))
            parts.append(
                orphans.select(F.lit(r.label).alias("rule"),
                               "n_violations")
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "rule",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule")


def q_validate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: a seven-rule expectation suite over lineitem —
    null/range/enum/regex/uniqueness/referential-integrity verdicts
    all under the hash. ``in_range(l_tax, 0, 0.05)`` is deliberately
    violated by the data so the violation-counting path is
    non-vacuous."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rules = [
        not_null("l_orderkey"),
        not_null("l_shipdate"),
        in_range("l_quantity", 1, 50),
        in_range("l_tax", 0.0, 0.05),
        accepted_values("l_returnflag", ["A", "N", "R"]),
        matches_regex("l_linestatus", "^[FO]$"),
        unique("l_orderkey", "l_linenumber"),
        foreign_key("l_orderkey", orders, "o_orderkey"),
    ]
    return validate(li, rules).coalesce(1)


SQL_VALIDATE_LINEITEM = """
WITH row_rules AS (
  SELECT
    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v_nn_ok,
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v_nn_sd,
    CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                    OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
      AS v_rng_q,
    CAST(SUM(CASE WHEN l_tax IS NULL OR l_tax < 0.0 OR l_tax > 0.05
             THEN 1 ELSE 0 END) AS BIGINT) AS v_rng_t,
    CAST(SUM(CASE WHEN l_returnflag IS NULL
                    OR l_returnflag NOT IN ('A','N','R')
             THEN 1 ELSE 0 END) AS BIGINT) AS v_acc,
    CAST(SUM(CASE WHEN l_linestatus IS NULL
                    OR NOT regexp_matches(l_linestatus, '^[FO]$')
             THEN 1 ELSE 0 END) AS BIGINT) AS v_re
  FROM lineitem
),
uniq AS (
  SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS v FROM (
    SELECT COUNT(*) AS cnt FROM lineitem
    GROUP BY l_orderkey, l_linenumber
  )
),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v
  FROM lineitem l
  WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
  )
)
SELECT rule, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'not_null(l_orderkey)' AS rule, v_nn_ok AS n_violations
  FROM row_rules
  UNION ALL SELECT 'not_null(l_shipdate)', v_nn_sd FROM row_rules
  UNION ALL SELECT 'in_range(l_quantity,1,50)', v_rng_q FROM row_rules
  UNION ALL SELECT 'in_range(l_tax,0.0,0.05)', v_rng_t FROM row_rules
  UNION ALL SELECT 'accepted_values(l_returnflag)', v_acc FROM row_rules
  UNION ALL SELECT 'matches_regex(l_linestatus)', v_re FROM row_rules
  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', v FROM uniq
  UNION ALL SELECT 'foreign_key(l_orderkey)', v FROM fk
)
ORDER BY rule
"""


# ---------------------------------------------------------------------
# Join-key skew diagnostics
# ---------------------------------------------------------------------

def skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """The pre-join skew check: per-key row counts → the ``top_k``
    heaviest keys with their exact per-mille share of the table, plus
    each key's multiple of the mean row-per-key load (the number that
    says "this key lands 40× the average on one reduce task").

    ONE map-side-combined count shuffle (distinct keys cross the
    wire), a 1-row total broadcast back, TakeOrdered for the top-k.
    All arithmetic integer-exact (shares in per-mille via integer
    division; load multiple ×100). NULL keys count as a key — they
    hash to one partition too, which is exactly the skew this report
    exists to surface."""
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            # `div` is integer division on longs — exact floor in both
            # engines (a double divide + cast can round up across an
            # integer boundary and disagree with DuckDB's `//`)
            F.expr("(cnt * 1000) div total").alias("share_permille"),
            F.expr("(cnt * 100 * n_keys) div total").alias("load_x100"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(top_k)
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the 10 heaviest lineitem join keys (l_partkey) —
    counts, per-mille shares, and mean-load multiples all
    integer-exact under the hash."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return skew_report(li, "l_partkey")


SQL_SKEW_REPORT = """
WITH counts AS (
  SELECT CAST(l_partkey AS VARCHAR) AS key, COUNT(*) AS cnt
  FROM lineitem GROUP BY CAST(l_partkey AS VARCHAR)
),
totals AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM counts)
SELECT key, cnt,
       CAST((cnt * 1000) // total AS BIGINT) AS share_permille,
       CAST((cnt * 100 * n_keys) // total AS BIGINT) AS load_x100
FROM counts, totals
ORDER BY cnt DESC, key
LIMIT 10
"""


# ---------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------

#: Benford expected first-digit shares, ppm (log10(1 + 1/d) — computed
#: once offline so neither engine evaluates a log)
BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992,
               51153, 45757]


def benford_audit(
    df: DataFrame, amount_col: str, min_cents: int = 100
) -> DataFrame:
    """First-significant-digit distribution of a monetary column vs
    Benford's law, with an integer chi-square discrepancy score.

    The first digit is extracted in pure integer/string arithmetic —
    ``n div 10^(len(str(n)) - 1)`` over integer cents — because a
    log10-based significand differs cross-engine in the last ulp at
    decade boundaries; both engines render integers identically. The
    expected shares are precomputed ppm literals (no runtime log).
    One scan-local projection + one 9-row aggregation; the fraud/
    data-quality audit shape that runs beside `validate` expectations.
    """
    cents = F.expr(
        f"CAST(FLOOR({amount_col} * 100) AS BIGINT)"
    )
    base = df.select(cents.alias("n")).filter(
        F.col("n") >= min_cents
    )
    digit = F.expr(
        "n div CAST(pow(10, length(CAST(n AS STRING)) - 1) AS BIGINT)"
    )
    counts = base.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot = counts.select(F.sum("n_rows").alias("n_total"))
    exp_rows = ", ".join(
        f"({d + 1}, {p})" for d, p in enumerate(BENFORD_PPM)
    )
    expected = df.sparkSession.sql(
        f"SELECT digit, exp_ppm FROM VALUES {exp_rows} AS t(digit, exp_ppm)"
    )
    return (
        F.broadcast(expected)
        .join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            F.expr(
                "COALESCE(n_rows, 0) * 1000000 div n_total"
            ).alias("obs_ppm"),
            "exp_ppm",
            F.expr(
                "(COALESCE(n_rows, 0) * 1000000 div n_total - exp_ppm)"
                " * (COALESCE(n_rows, 0) * 1000000 div n_total - exp_ppm)"
                " div exp_ppm"
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: Benford first-digit audit of order totals."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return benford_audit(orders, "o_totalprice")


def _sql_benford() -> str:
    exp_rows = ", ".join(
        f"({d + 1}, {p})" for d, p in enumerate(BENFORD_PPM)
    )
    return f"""
WITH base AS (
  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS n
  FROM orders
  WHERE CAST(FLOOR(o_totalprice * 100) AS BIGINT) >= 100
),
counts AS (
  SELECT n // CAST(pow(10, length(CAST(n AS VARCHAR)) - 1) AS BIGINT)
           AS digit,
         COUNT(*) AS n_rows
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM counts),
expected (digit, exp_ppm) AS (VALUES {exp_rows})
SELECT e.digit, COALESCE(c.n_rows, 0) AS n_rows,
       COALESCE(c.n_rows, 0) * 1000000 // t.n_total AS obs_ppm,
       e.exp_ppm,
       (COALESCE(c.n_rows, 0) * 1000000 // t.n_total - e.exp_ppm)
         * (COALESCE(c.n_rows, 0) * 1000000 // t.n_total - e.exp_ppm)
         // e.exp_ppm AS chi2_contrib
FROM expected e
LEFT JOIN counts c ON c.digit = e.digit
CROSS JOIN tot t
ORDER BY e.digit
"""


SQL_BENFORD_AUDIT = _sql_benford()


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "validate_lineitem": (q_validate_lineitem, SQL_VALIDATE_LINEITEM),
    "skew_report": (q_skew_report, SQL_SKEW_REPORT),
    "benford_audit": (q_benford_audit, SQL_BENFORD_AUDIT),
}
