"""Table-maintenance operators: small-file compaction and Z-order
clustering (beyond-reference surface; the operational half of running
a 100 TB parquet lake).

- :func:`compact_parquet` — the small-files problem: streaming /
  per-batch appends leave thousands of KB-sized files whose per-file
  open/footer cost dominates scans. Rewrite to ~target-sized files,
  atomically (write to a side directory, then swap).
- :func:`zvalue` / :func:`write_zordered` — multi-column data
  skipping: interleave the bits of the (rank-normalized) cluster
  columns and range-sort on the interleaved value, so every output
  file covers a narrow range of EVERY cluster column and min/max
  row-group pruning works for predicates on any of them — a linear
  sort gives that only for the leading column. The z-value is a pure
  Column expression (no UDF).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    min_files: int = 1,
) -> dict:
    """Rewrite a parquet directory to ~``target_file_mb`` files.

    File count = clamp(ceil(input_bytes / target), min_files, ∞) —
    sized from the ACTUAL on-disk bytes, not row counts, so heavily
    compressed tables don't explode into tiny files. The rewrite is
    write-to-side-dir + two directory renames: a reader never sees
    half-written data, but the swap is NOT atomic — between the two
    renames there is a brief window where the table path does not
    exist and a concurrent open fails (retryable). A truly atomic
    cutover needs a manifest/symlink flip or a table format (Delta/
    Iceberg); out of scope here. The old directory is removed after
    the swap. Returns {files_before, files_after, bytes}.

    On a real lake this is the nightly OPTIMIZE job; the same sizing
    arithmetic holds at any scale because it derives from bytes."""
    files = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(min_files, -(-total_bytes // (target_file_mb << 20)))
    df = spark.read.parquet(path)
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    n_after = sum(
        1
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    )
    return {
        "files_before": len(files),
        "files_after": n_after,
        "bytes": int(total_bytes),
    }


def _interleave_bits(cols: list[Column], bits: int) -> Column:
    """Morton/Z value: interleave ``bits`` bits of each (already
    0..2^bits-1 ranged) column — pure integer Column arithmetic."""
    z = F.lit(0).cast("long")
    n = len(cols)
    one = F.lit(1).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftrightunsigned(c.cast("long"), b).bitwiseAND(one)
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zvalue(
    df: DataFrame, cols: list[str], bits: int = 12
) -> DataFrame:
    """Add a ``__z`` column: Morton code of the rank-normalized
    cluster columns.

    Each column is rank-normalized into 2^bits buckets via ``ntile``
    (quantile-uniform, so skewed distributions still interleave
    fairly), then bits are interleaved. ``bits``×len(cols) must stay
    ≤ 63.

    The rank pass here uses per-column ``ntile`` windows over the full
    frame — deterministic, which the tests want; at warehouse scale
    replace it with approx-quantile cutpoints broadcast as a literal
    CASE (same z-semantics, no global window)."""
    if bits * len(cols) > 63:
        raise ValueError("bits × len(cols) must fit a signed 64-bit value")
    from pyspark.sql import Window

    ranked = df
    rank_cols = []
    for c in cols:
        rc = f"__zr_{c}"
        ranked = ranked.withColumn(
            rc,
            F.ntile(1 << bits).over(Window.orderBy(F.col(c))) - 1,
        )
        rank_cols.append(rc)
    z = _interleave_bits([F.col(rc) for rc in rank_cols], bits)
    return ranked.withColumn("__z", z).drop(*rank_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 12,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by Z-order
    on ``cols``: range-partition on the z-value (each output file gets
    a contiguous z-range), sort within, drop the helper. Every file
    then covers a narrow range of EVERY cluster column, so parquet
    min/max pruning serves predicates on any of them — a linear sort
    gives that only for its leading column."""
    (
        zvalue(df, cols, bits)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """Lakehouse MERGE semantics without a table format: apply a CDC
    batch to a base relation — matched keys take the update's row,
    unmatched update keys insert, and (optionally) updates flagged in
    ``delete_col`` delete their key.

    Plan shape: ONE left-anti join of the base against the update key
    set plus a union. The update side is the broadcast side by nature
    (a CDC batch is MBs against a 100 TB base), so base rows stream
    through the anti join with no shuffle and the merge costs one scan
    of each side. This is exactly the copy-on-write MERGE a
    Delta/Iceberg engine plans when every base file is touched;
    partition-pruned variants follow by filtering ``base`` first.

    NULL-key semantics: a NULL merge key never matches (SQL equality),
    so NULL-key base rows are always KEPT and NULL-key update rows
    always insert — the Delta/Iceberg MERGE contract. The SQL twin
    uses NOT EXISTS (not NOT IN, whose three-valued logic would drop
    every base row the moment one update key is NULL).

    Returns the merged relation (not written — compose with
    compact_parquet's swap for the read-modify-write cycle)."""
    upd_keys = updates.select(key_col).distinct()
    kept = base.join(F.broadcast(upd_keys), on=key_col, how="left_anti")
    live = (
        # NULL delete flag = not-deleted (Debezium-style feeds leave
        # the flag nullable); a bare ~NULL filter would drop the row
        # AFTER its key was anti-joined out of base — a silent delete.
        updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
        if delete_col
        else updates
    )
    return kept.unionByName(live)


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: apply a formula-derived CDC batch to ``orders``
    (keys %13==0 update with a price bump, %26==0 delete, plus 50
    brand-new keys) and aggregate the merged table per status —
    decimal-exact sums so the full merge result is under the hash."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    updates = (
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("_delete", F.col("o_orderkey") % 26 == 0)
    )
    inserts = spark.range(50).select(
        (F.col("id") + 900_000_000).alias("o_orderkey"),
        F.lit(1).cast("long").alias("o_custkey"),
        F.lit("N").alias("o_orderstatus"),
        (F.col("id").cast("double") * 10.0 + 5.0).alias("o_totalprice"),
        F.lit("1998-01-01 00:00:00").cast("timestamp").alias(
            "o_orderdate"
        ),
        F.lit("3-MEDIUM").alias("o_orderpriority"),
        F.lit(False).alias("_delete"),
    )
    cdc = updates.unionByName(inserts)
    merged = merge_upsert(orders, cdc, "o_orderkey", delete_col="_delete")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


SQL_MERGE_UPSERT = """
WITH upd AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
         o_orderpriority,
         (o_orderkey % 26 = 0) AS _delete
  FROM orders WHERE o_orderkey % 13 = 0
),
ins AS (
  SELECT i + 900000000 AS o_orderkey, CAST(1 AS BIGINT) AS o_custkey,
         'N' AS o_orderstatus,
         CAST(i AS DOUBLE) * 10.0 + 5.0 AS o_totalprice,
         TIMESTAMP '1998-01-01 00:00:00' AS o_orderdate,
         '3-MEDIUM' AS o_orderpriority,
         FALSE AS _delete
  FROM range(50) t(i)
),
cdc AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT o_orderstatus, o_totalprice, o_orderkey FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM cdc WHERE cdc.o_orderkey = o.o_orderkey)
  UNION ALL
  SELECT o_orderstatus, o_totalprice, o_orderkey FROM cdc
  WHERE NOT _delete
)
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------
# Snapshot diff (round 6): what changed between two table versions
# ---------------------------------------------------------------------


def row_digest(df: DataFrame, key_col: str) -> DataFrame:
    """(key, digest) projection: md5 over the canonicalized non-key
    columns ('|'-joined, NULL → a sentinel that cannot collide with a
    real value because the join adds field ordinals). Doubles are
    canonicalized through DECIMAL(18,6) so the digest never depends on
    engine float-to-string formatting."""
    cols = []
    for f in df.schema.fields:
        if f.name == key_col:
            continue
        c = F.col(f.name)
        if f.dataType.simpleString() == "double":
            c = c.cast("decimal(18,6)")
        cols.append(F.coalesce(c.cast("string"), F.lit("\x00null")))
    parts = []
    for i, c in enumerate(cols):
        parts.extend([F.lit(f"{i}|"), c])
    return df.select(
        F.col(key_col), F.md5(F.concat(*parts)).alias("digest")
    )


def table_diff(
    old: DataFrame, new: DataFrame, key_col: str
) -> DataFrame:
    """Classify every key across two snapshots as ``added`` /
    ``removed`` / ``changed`` / ``unchanged``.

    Plan shape (the 100 TB posture): each side reduces to (key,
    digest) AT THE SCAN — 2 narrow columns shuffle instead of the full
    row width, which is the entire point of digest-based diffing; one
    full outer join on the key classifies everything. Consumers that
    need the changed VALUES join the (bounded) changed-key set back to
    the snapshots; this operator never carries payload columns through
    the wide join.

    Returns (key, change) with change ∈ {added, removed, changed,
    unchanged}."""
    o = row_digest(old, key_col).withColumnRenamed("digest", "_od")
    n = row_digest(new, key_col).withColumnRenamed("digest", "_nd")
    j = o.join(n, on=key_col, how="full_outer")
    change = (
        F.when(F.col("_od").isNull(), F.lit("added"))
        .when(F.col("_nd").isNull(), F.lit("removed"))
        .when(F.col("_od") == F.col("_nd"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(key_col, change.alias("change"))


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: diff ``orders`` against a formula-derived next
    snapshot (price bump on %7 keys, status flip on %19, drop %11,
    insert 40 fresh keys), then aggregate per change class with the
    decimal-exact price delta over CHANGED keys (the value fetch that
    joins the bounded changed set back to both snapshots).

    The DuckDB oracle classifies with direct IS DISTINCT FROM column
    compares — no md5 anywhere — so hash equality certifies that the
    digest classification is exactly the semantic row comparison, not
    merely that both engines hash alike."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base_cols = [
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
    ]
    old = orders.select(*base_cols)
    new = (
        old.filter(F.col("o_orderkey") % 11 != 3)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.col("o_totalprice") + 250.0,
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 19 == 0, F.lit("Z")
            ).otherwise(F.col("o_orderstatus")),
        )
        .unionByName(
            spark.range(40).select(
                (F.col("id") + 800_000_000).alias("o_orderkey"),
                F.lit("A").alias("o_orderstatus"),
                (F.col("id").cast("double") * 3.0).alias("o_totalprice"),
                F.lit("2-HIGH").alias("o_orderpriority"),
            )
        )
    )
    # materialize the narrow (key, change) diff ONCE: the per-class
    # census and the changed-value fetch both consume it, and each
    # lazy reference re-ran the digest full-outer join (6 parquet
    # scans in the plan — guide §3.3). Production writes the diff to
    # a table before consuming it twice; localCheckpoint is the
    # in-session equivalent. Deterministic, hash unchanged.
    d = table_diff(old, new, "o_orderkey").localCheckpoint(eager=True)
    changed_keys = d.filter(F.col("change") == "changed").select(
        "o_orderkey"
    )
    delta = (
        changed_keys.join(
            old.select("o_orderkey", F.col("o_totalprice").alias("_p0")),
            "o_orderkey",
        )
        .join(
            new.select("o_orderkey", F.col("o_totalprice").alias("_p1")),
            "o_orderkey",
        )
        .agg(
            F.sum(
                (F.col("_p1") - F.col("_p0")).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("price_delta")
        )
    )
    per_class = (
        d.groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )
    return (
        per_class.crossJoin(F.broadcast(delta))
        .select(
            "change", "n", "min_key", "max_key",
            F.when(F.col("change") == "changed", F.col("price_delta"))
            .otherwise(F.lit(0.0))
            .alias("price_delta"),
        )
        .orderBy("change")
    )


SQL_TABLE_DIFF = """
WITH old_s AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
new_s AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 19 = 0 THEN 'Z' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 250.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 11 != 3
  UNION ALL
  SELECT 800000000 + i AS o_orderkey, 'A' AS o_orderstatus,
         CAST(i AS DOUBLE) * 3.0 AS o_totalprice,
         '2-HIGH' AS o_orderpriority
  FROM range(40) t(i)
),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE
           WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN (CAST(o.o_totalprice AS DECIMAL(18,6))
                   IS DISTINCT FROM CAST(n.o_totalprice AS DECIMAL(18,6)))
             OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
             OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
             THEN 'changed'
           ELSE 'unchanged'
         END AS change,
         o.o_totalprice AS p0, n.o_totalprice AS p1
  FROM old_s o FULL OUTER JOIN new_s n ON o.o_orderkey = n.o_orderkey
),
delta AS (
  SELECT CAST(SUM(CAST(p1 - p0 AS DECIMAL(18,6))) AS DOUBLE)
           AS price_delta
  FROM d WHERE change = 'changed'
)
SELECT change, COUNT(*) AS n,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       CASE WHEN change = 'changed' THEN ANY_VALUE(delta.price_delta)
            ELSE 0.0 END AS price_delta
FROM d, delta
GROUP BY change, delta.price_delta
ORDER BY change
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "merge_upsert": (q_merge_upsert, SQL_MERGE_UPSERT),
    "table_diff": (q_table_diff, SQL_TABLE_DIFF),
}
