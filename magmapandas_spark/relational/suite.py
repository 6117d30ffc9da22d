"""Correctness-gate query suite: paired (Spark query, DuckDB oracle SQL).

Each entry exercises an operator family from SURVEY.md §2 on the
driver-provided parquet tables. Domain (geochemistry) operators run on a
*deterministic synthetic melt table* derived from ``lineitem`` with pure
integer/decimal arithmetic, so Spark and DuckDB compute bit-comparable
inputs; model outputs are rounded to 4-6 decimals on both sides.

Numeric-determinism rules used throughout (so value-hashes match across
engines):
- big SUM/AVG aggregates go through per-row DECIMAL(18,6) casts (exact,
  order-independent summation) and back to DOUBLE;
- closed-form model outputs are ROUNDed on both sides;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import weakref
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame

W = chem.calculate_weight

# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------

# weak, so a new context never inherits a dead one's recycled id()
_shipped_contexts = weakref.WeakSet()


def package_zip(pkg_dir: str, out_dir: str) -> str:
    """Zip ``pkg_dir`` (minus bytecode caches) into ``out_dir``, named by
    the SHA-256 of every zipped file's relative path and bytes.

    Any edit to any shipped file -- code or data, within the same
    second or restored with an older mtime -- yields a new name, so a
    cached zip is never stale. Entries carry a fixed timestamp, so the
    same content always gives the same zip bytes."""
    import hashlib
    import os
    import zipfile

    root = os.path.dirname(pkg_dir)
    files = []
    for dirpath, dirs, names in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.join(dirpath, n) for n in sorted(names)
                  if not n.endswith(".pyc")]
    digest = hashlib.sha256()
    blobs = []
    for path in files:
        rel = os.path.relpath(path, root)
        with open(path, "rb") as fh:
            data = fh.read()
        digest.update(rel.encode() + b"\0" + data + b"\0")
        blobs.append((rel, data))
    name = f"{os.path.basename(pkg_dir)}_pyfiles_{digest.hexdigest()[:16]}"
    zip_path = os.path.join(out_dir, name + ".zip")
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, data in blobs:
                info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
                zf.writestr(info, data, zipfile.ZIP_DEFLATED)
        os.replace(tmp, zip_path)
    return zip_path


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the magmapandas_spark package to executor Python workers.

    The driver harness may run from any cwd with its own SparkSession;
    pandas UDFs cloudpickle references to this package, so workers must
    be able to import it. A zip via ``addPyFile`` works in local and
    cluster mode alike."""
    # keyed by context: a second session on the same context has
    # shipped the zip already
    sc = spark.sparkContext
    if sc in _shipped_contexts:
        return
    import os
    import tempfile

    import magmapandas_spark

    pkg_dir = os.path.dirname(os.path.abspath(magmapandas_spark.__file__))
    sc.addPyFile(package_zip(pkg_dir, tempfile.gettempdir()))
    _shipped_contexts.add(sc)


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def dsum(col: F.Column) -> F.Column:
    """Order-independent exact sum: per-row DECIMAL(18,6) cast → exact
    decimal sum → DOUBLE."""
    return F.sum(col.cast("decimal(18,6)")).cast("double")


def davg(col: F.Column) -> F.Column:
    return (F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)))


def heavy_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministic orderBy for solver/UDF-tier results: hash-
    repartition on the sort key first, so the expensive upstream stage
    (Arrow-vectorized bisection, fixed-point kernels) materializes into
    ONE shuffle that the range-sort's sampling pass and the final sort
    job both read — Spark reuses shuffle stages across jobs. Without
    this, ``orderBy`` alone re-executes the whole solver a second time
    for range-boundary sampling (Python eval nodes don't expose output
    ordering, so the pre-sorted input cache can't elide the sort
    either). Values are unchanged; only the plan shape is."""
    return df.repartition(*[F.col(c) for c in cols]).orderBy(*cols)


SQL_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE)"
SQL_DAVG = "CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"


# ----------------------------------------------------------------------
# synthetic melt table (shared by all domain-model queries)
# ----------------------------------------------------------------------

MELT_SPECIES = [
    "SiO2", "Al2O3", "TiO2", "MgO", "FeO", "CaO", "Na2O", "K2O",
    "MnO", "P2O5", "H2O", "CO2",
]


_melt_cache: dict[tuple[int, str], object] = {}


def synthetic_melt(spark: SparkSession, sf_dir: str) -> GeoFrame:
    """Deterministic basaltic-range compositions derived from lineitem.

    Pure integer-modulo / fixed-point arithmetic so DuckDB reproduces the
    values bit-for-bit (see ``SQL_MELT_CTE``).

    The derived table is persisted once per (session, sf_dir): ~30 gate
    queries all start from this same projection, and re-deriving it per
    query re-pays the lineitem scan each time. This is a shared-input
    cache, not a result cache — values are identical with or without
    it.

    It is persisted ALREADY RANGE-SORTED on ``name``: InMemoryRelation
    retains the cached plan's output partitioning + ordering, so the
    deterministic ``orderBy("name")`` every gate query ends in is
    satisfied for free — EnsureRequirements elides both the range
    exchange and the sort for all narrow (per-row) model queries, which
    also removes the range-sampling pass that would otherwise evaluate
    each query's expression tree twice. One sort at materialization
    replaces ~30 per-query sorts."""
    key = (id(spark), sf_dir)
    cached = _melt_cache.get(key)
    if cached is not None:
        return GeoFrame(
            cached[1], units="wt.%", datatype="oxide", species=MELT_SPECIES
        )
    from magmapandas_spark.operators.dedup import fan_out

    # fan_out: the test parquet is a single row group, so without it
    # the scan+project feeding the range sort runs on one core
    li = fan_out(spark.read.parquet(_t(sf_dir, "lineitem")))
    df = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("name"),
        (F.lit(45.0) + (F.col("l_partkey") % 1000) * F.lit(0.02)).alias("SiO2"),
        (F.lit(12.0) + (F.col("l_suppkey") % 100) * F.lit(0.05)).alias("Al2O3"),
        (F.lit(1.5) + (F.col("l_partkey") % 7) * F.lit(0.1)).alias("TiO2"),
        (F.lit(4.0) + (F.col("l_quantity") % F.lit(10.0))).alias("MgO"),
        (F.lit(8.0) + F.col("l_discount") * F.lit(20.0)).alias("FeO"),
        (F.lit(9.0) + F.col("l_tax") * F.lit(10.0)).alias("CaO"),
        (F.lit(2.0) + F.col("l_discount") * F.lit(10.0)).alias("Na2O"),
        (F.lit(0.5) + F.col("l_tax") * F.lit(5.0)).alias("K2O"),
        F.lit(0.15).alias("MnO"),
        F.lit(0.3).alias("P2O5"),
        ((F.col("l_orderkey") % 40) * F.lit(0.1)).alias("H2O"),
        (F.lit(0.1) + (F.col("l_suppkey") % 5) * F.lit(0.1)).alias("CO2"),
        (F.lit(1000.0) + (F.col("l_orderkey") % 5) * F.lit(1000.0)).alias("P_bar"),
    )
    df = df.orderBy("name").persist()
    # hold the session ref too so a GC'd session can't recycle the id
    _melt_cache[key] = (spark, df)
    return GeoFrame(df, units="wt.%", datatype="oxide", species=MELT_SPECIES)


def reset_melt_cache(spark: SparkSession, sf_dir: str) -> None:
    """Drop the shared synthetic-melt memo for (session, sf_dir) and
    unpersist its blocks, so the next :func:`synthetic_melt` call
    rebuilds from the lineitem scan.

    Public on purpose: measurement harnesses (scale_probe's
    re-adjudication pass) call ``spark.catalog.clearCache()`` between
    timing passes, which drops the persisted BLOCKS but not this memo
    — a model-tier shape timed afterwards would silently recompute
    the unpersisted melt inline, charging the shared build to that
    one shape. This helper keeps the memo and the block cache in
    sync without reaching into the private ``_melt_cache``."""
    cached = _melt_cache.pop((id(spark), sf_dir), None)
    if cached is not None:
        cached[1].unpersist(True)


SQL_MELT_CTE = """
melt AS (
  SELECT
    l_orderkey * 10 + l_linenumber AS name,
    45.0 + (l_partkey % 1000) * 0.02 AS SiO2,
    12.0 + (l_suppkey % 100) * 0.05 AS Al2O3,
    1.5 + (l_partkey % 7) * 0.1 AS TiO2,
    4.0 + (l_quantity % 10.0) AS MgO,
    8.0 + l_discount * 20.0 AS FeO,
    9.0 + l_tax * 10.0 AS CaO,
    2.0 + l_discount * 10.0 AS Na2O,
    0.5 + l_tax * 5.0 AS K2O,
    0.15 AS MnO,
    0.3 AS P2O5,
    (l_orderkey % 40) * 0.1 AS H2O,
    0.1 + (l_suppkey % 5) * 0.1 AS CO2,
    1000.0 + (l_orderkey % 5) * 1000.0 AS P_bar
  FROM lineitem
)
"""


def _sql_mole_fraction_terms(species: list[str]) -> tuple[str, dict[str, str]]:
    """SQL snippets: total-moles expression and per-species mole fraction,
    matching GeoFrame.moles() term order."""
    terms = [f"({s} / {W(s)!r})" for s in species]
    total = " + ".join(terms)
    fracs = {s: f"(({s} / {W(s)!r}) / ({total}))" for s in species}
    return total, fracs


# ----------------------------------------------------------------------
# queries
# ----------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. Partial (map-side) aggregation +
    single shuffle on a low-cardinality key — the canonical scale-safe
    aggregate."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {SQL_DSUM.format(x='l_quantity')} AS sum_qty,
  {SQL_DSUM.format(x='l_extendedprice')} AS sum_base_price,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {SQL_DAVG.format(x='l_quantity')} AS avg_qty,
  {SQL_DAVG.format(x='l_extendedprice')} AS avg_price,
  {SQL_DAVG.format(x='l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_thermometer_putirka15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default melt thermometer (Putirka 2008 eq. 15,
    ``thermometers/melt.py:191-279``) over the synthetic melt table —
    narrow, shuffle-free expression pipeline."""
    from magmapandas_spark.models import thermometers as tm

    gf = synthetic_melt(spark, sf_dir)
    out = tm.putirka2008_15(gf, P_bar="P_bar")
    return out.select("name", F.round("T_K", 4).alias("T_K")).orderBy("name")


def _sql_thermometer_putirka15() -> str:
    anhyd = [s for s in MELT_SPECIES if s != "H2O"]
    _, frac = _sql_mole_fraction_terms(anhyd)
    mg_no = f"({frac['MgO']} / ({frac['MgO']} + {frac['FeO']}))"
    t_k = (
        f"815.3 + 265.5 * {mg_no} + 15.37 * MgO + 8.61 * FeO"
        f" + 6.646 * (Na2O + K2O) + 39.16 * (P_bar / 10000.0)"
        f" - 12.83 * H2O + 273.15"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name, ROUND({t_k}, 4) AS T_K
FROM melt
ORDER BY name
"""


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analytics: per-language doc counts / char sums / mean token
    counts (whitespace tokenizer)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tokens = F.size(F.split(F.col("text"), " "))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(davg(tokens.cast("double")), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


# DuckDB SUM(INTEGER) yields HUGEINT (renders 19525.0) while Spark SUM(INT)
# yields BIGINT — cast the oracle side so the value hashes agree.
SQL_DOC_STATS = f"""
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND({SQL_DAVG.format(x="CAST(len(str_split(text, ' ')) AS DOUBLE)")}, 6) AS avg_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication accounting by source: md5 content hash →
    distinct count. Hash-groupBy is the 100 TB-scale pattern (no sort,
    single shuffle on the hash)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5(F.col("text"))).alias("n_unique"),
        )
        .withColumn("n_dupes", F.col("n_docs") - F.col("n_unique"))
        .orderBy("source")
    )


SQL_DEDUP_EXACT = """
SELECT
  source,
  COUNT(*) AS n_docs,
  COUNT(DISTINCT md5(text)) AS n_unique,
  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
FROM documents
GROUP BY source
ORDER BY source
"""


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------

def _wrap(fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_workers_can_import(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


# The correctness driver hash-verifies only the FIRST 50 entries of
# queries(). Registry order is therefore part of the gate contract
# (size/resolvability pinned by tests/test_registry.py).
# Round-14 rotation — oldest-first, per the r13 verdict's item 8.
# After r13 the staleness profile (latest driver stamp per entry,
# all 247) is r9:48 r10:50 r11:49 r12:50 r13:50. The 50 slots take
# ALL 48 r9-stamped rows (registry order), then the first 2 of the
# r10 cohort alphabetically (`asof_purchase_view`,
# `below_avg_revenue`) to fill the head and start the next wave —
# after this rotation no oracle-bearing entry's latest driver stamp
# is older than r10. Everything past slot 50 stays covered by
# tests/test_oracle.py (the identical rows+schema+values check over
# the whole registry, run at sf0.01 and sf0.1 every session).
_GATE_ORDER = [
    # r9-stamped (all 48, registry order)
    "h264_intra_decode",
    "h264_cavlc_decode",
    "h264_lumadc_decode",
    "h264_plane_decode",
    "h264_gop_decode",
    "h264_mp4_decode",
    "h264_full_decode",
    "h264_multiqp_decode",
    "h264_qptrack_decode",
    "video_fingerprint",
    "ngram_novelty",
    "seasonal_outliers",
    "l_diversity",
    "t_closeness",
    "mutual_info",
    "fd_check",
    "degree_assortativity",
    "length_lognormal",
    "image_fingerprint",
    "null_semantics",
    "date_semantics",
    "balanced_sample",
    "dedup_impact",
    "knn_label_noise",
    "corr_matrix",
    "seasonal_profile",
    "gini_concentration",
    "psi_drift",
    "personalized_pagerank",
    "rolling_range_frame",
    "grouping_sets_revenue",
    "unpivot_profile",
    "gini_sketch",
    "text_hapax",
    "fp_index_probe",
    "h264_ac_decode",
    "h264_i4x4_decode",
    "h264_ladder_decode",
    "crossmodal_dedup",
    "h264_mp4_ac_decode",
    "corpus_build_funnel",
    "h264_p_decode",
    "h264_mp4_p_decode",
    "h264_pparts_decode",
    "h264_p8x8_decode",
    "h264_multiref_decode",
    "h264_weighted_decode",
    "h264_reorder_decode",
    # r10-stamped (head of the next rotation wave, alphabetical)
    "asof_purchase_view",
    "below_avg_revenue",
]


def _gate_sorted(out: dict) -> dict:
    front = {k: out[k] for k in _GATE_ORDER if k in out}
    rest = {k: v for k, v in out.items() if k not in front}
    return {**front, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from magmapandas_spark.relational import (
        suite2,
        suite3,
        suite4,
        suite5,
        suite6,
        suite7,
        suite8,
        suite9,
        suite10,
        suite11,
        suite12,
        suite13,
    )

    out = {
        "pricing_summary": q_pricing_summary,
        "thermometer_putirka2008_15": q_thermometer_putirka15,
        "doc_stats": q_doc_stats,
        "dedup_exact": q_dedup_exact,
    }
    out.update(suite2.queries())
    out.update(suite3.queries())
    out.update(suite4.queries())
    out.update(suite5.queries())
    out.update(suite6.queries())
    out.update(suite7.queries())
    out.update(suite8.queries())
    out.update(suite9.queries())
    out.update(suite10.queries())
    out.update(suite11.queries())
    out.update(suite12.queries())
    out.update(suite13.queries())
    return {k: _wrap(v) for k, v in _gate_sorted(out).items()}


def oracle_sql() -> dict[str, str]:
    from magmapandas_spark.relational import (
        suite2,
        suite3,
        suite4,
        suite5,
        suite6,
        suite7,
        suite8,
        suite9,
        suite10,
        suite11,
        suite12,
        suite13,
    )

    out = {
        "pricing_summary": SQL_PRICING_SUMMARY,
        "thermometer_putirka2008_15": _sql_thermometer_putirka15(),
        "doc_stats": SQL_DOC_STATS,
        "dedup_exact": SQL_DEDUP_EXACT,
    }
    out.update(suite2.oracle_sql())
    out.update(suite3.oracle_sql())
    out.update(suite4.oracle_sql())
    out.update(suite5.oracle_sql())
    out.update(suite6.oracle_sql())
    out.update(suite7.oracle_sql())
    out.update(suite8.oracle_sql())
    out.update(suite9.oracle_sql())
    out.update(suite10.oracle_sql())
    out.update(suite11.oracle_sql())
    out.update(suite12.oracle_sql())
    out.update(suite13.oracle_sql())
    return _gate_sorted(out)
