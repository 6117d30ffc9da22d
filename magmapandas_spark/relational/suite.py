"""Correctness-gate registry: paired (Spark query, DuckDB oracle SQL).

Each module in ``_MODULES`` ends with one ``QUERIES`` dict declaring
its queries and their oracles; :func:`queries` and :func:`oracle_sql`
collect them. The queries exercise the operator families of SURVEY.md
§2 on the driver-provided parquet tables. Domain (geochemistry)
operators run on a *deterministic synthetic melt table* derived from
``lineitem`` with pure integer/decimal arithmetic (:func:`synthetic_melt`),
so Spark and DuckDB compute bit-comparable inputs; model outputs are
rounded to 4-6 decimals on both sides.

Numeric-determinism rules used throughout (so value-hashes match across
engines):
- big SUM/AVG aggregates go through per-row DECIMAL(18,6) casts (exact,
  order-independent summation) and back to DOUBLE;
- closed-form model outputs are ROUNDed on both sides;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import importlib
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

    It is persisted ALREADY RANGE-SORTED on ``name``, in one range
    partition per core (``defaultParallelism``), each sorted within:
    InMemoryRelation retains the cached plan's output partitioning +
    ordering, so the ``orderBy("name")`` the expression-tier gate
    queries end in is satisfied for free — EnsureRequirements elides
    both the range exchange and the sort for all narrow (per-row) model
    queries, which also removes the range-sampling pass that would
    otherwise evaluate each query's expression tree twice. One sort at
    materialization replaces ~30 per-query sorts. Per-row model
    queries (an Arrow-UDF solver stage) read the rows as they lie and
    sort nothing: each row carries its ``name``, and the gate hashes
    rows unordered. One partition per core (not
    ``spark.sql.shuffle.partitions``) makes a narrow model query one
    task per core, so its Arrow-UDF stages pay the fixed Python-worker
    cost per task once per core."""
    key = (id(spark), sf_dir)
    cached = _melt_cache.get(key)
    if cached is not None:
        return GeoFrame(
            cached[1], units="wt.%", datatype="oxide", species=MELT_SPECIES
        )
    df = spark.read.parquet(_t(sf_dir, "lineitem")).select(
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
    n = spark.sparkContext.defaultParallelism
    df = (df.repartitionByRange(n, "name").sortWithinPartitions("name")
          .persist())
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

# The temperature sweep (K) of the model queries that take T_K per row:
# 1400-1499.5 in half-kelvin steps of ``name``, as SQL and as a Column.
T_EXPR = "(1400.0 + (name % 200) / 2.0)"


def t_sweep() -> F.Column:
    return F.lit(1400.0) + (F.col("name") % 200).cast("double") / F.lit(2.0)


def _sql_mole_fraction_terms(species: list[str]) -> tuple[str, dict[str, str]]:
    """SQL snippets: total-moles expression and per-species mole fraction,
    matching GeoFrame.moles() term order."""
    terms = [f"({s} / {W(s)!r})" for s in species]
    total = " + ".join(terms)
    fracs = {s: f"(({s} / {W(s)!r}) / ({total}))" for s in species}
    return total, fracs


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
# queries(), so this head is part of the gate contract (size and
# resolvability pinned by tests/test_registry.py). Rotation policy and
# each round's rotation detail: DESIGN.md §1.
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




# Every module that declares queries, in registry order past the gate
# head. Imported on first use, so operator modules can import the
# helpers above from this module without an import cycle.
_MODULES = (
    "magmapandas_spark.relational.tpch",
    "magmapandas_spark.relational.events",
    "magmapandas_spark.relational.text",
    "magmapandas_spark.relational.geochem",
    "magmapandas_spark.operators.analytics",
    "magmapandas_spark.operators.asof",
    "magmapandas_spark.operators.assoc",
    "magmapandas_spark.operators.binary_ann",
    "magmapandas_spark.operators.bloom",
    "magmapandas_spark.operators.bpe",
    "magmapandas_spark.operators.contrastive",
    "magmapandas_spark.operators.curation",
    "magmapandas_spark.operators.dedup",
    "magmapandas_spark.operators.evaluation",
    "magmapandas_spark.operators.fuzzy",
    "magmapandas_spark.operators.geochem_aux",
    "magmapandas_spark.operators.gif",
    "magmapandas_spark.operators.graph",
    "magmapandas_spark.operators.h264",
    "magmapandas_spark.operators.h264p",
    "magmapandas_spark.operators.html",
    "magmapandas_spark.operators.indexing",
    "magmapandas_spark.operators.jpeg",
    "magmapandas_spark.operators.jsonl",
    "magmapandas_spark.operators.keywords",
    "magmapandas_spark.operators.kmeans",
    "magmapandas_spark.operators.maintenance",
    "magmapandas_spark.operators.model_errors",
    "magmapandas_spark.operators.mp4",
    "magmapandas_spark.operators.multimodal",
    "magmapandas_spark.operators.png",
    "magmapandas_spark.operators.privacy",
    "magmapandas_spark.operators.projection",
    "magmapandas_spark.operators.quantiles",
    "magmapandas_spark.operators.regression",
    "magmapandas_spark.operators.robust",
    "magmapandas_spark.operators.scoring",
    "magmapandas_spark.operators.setjoin",
    "magmapandas_spark.operators.similarity",
    "magmapandas_spark.operators.sketches",
    "magmapandas_spark.operators.skew",
    "magmapandas_spark.operators.skyline",
    "magmapandas_spark.operators.spatial",
    "magmapandas_spark.operators.stats",
    "magmapandas_spark.operators.tfidf",
    "magmapandas_spark.operators.timeseries",
    "magmapandas_spark.operators.validation",
    "magmapandas_spark.operators.warc",
    "magmapandas_spark.operators.wav",
    "magmapandas_spark.operators.webcorpus",
)


def _declarations() -> dict[str, tuple]:
    """Every module's ``QUERIES`` merged, gate head first. Each entry is
    ``name -> (query, oracle)`` where ``oracle`` is the DuckDB SQL, a
    zero-argument builder of it, or None for a rows-only probe
    (DESIGN.md §2). A name declared by two modules raises."""
    out: dict[str, tuple] = {}
    owner: dict[str, str] = {}
    for mod_name in _MODULES:
        for name, decl in importlib.import_module(mod_name).QUERIES.items():
            if name in owner:
                raise ValueError(
                    f"query {name!r} declared in both {owner[name]} "
                    f"and {mod_name}"
                )
            owner[name] = mod_name
            out[name] = decl
    return _gate_sorted(out)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _wrap(fn) for k, (fn, _) in _declarations().items()}


def oracle_sql() -> dict[str, str]:
    """Oracle SQL of every query that has one; builders run here, never
    in :func:`queries`."""
    return {
        k: oracle if isinstance(oracle, str) else oracle()
        for k, (_, oracle) in _declarations().items()
        if oracle is not None
    }
