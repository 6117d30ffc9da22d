"""Sources: CSV / parquet → GeoFrame.

Spark-native re-expression of the reference's ``parse_io/readers.py:18-71``
(``read_file``): the element-name classification of columns is driver-side
metadata work on ``df.columns``; the data path stays in the JVM
(``spark.read`` → ``select`` → derived ``total``).

The reference casts chemical data to float32 (``readers.py:67``); we keep
DOUBLE for solver stability (SURVEY.md §1.2) — golden tests use
tolerances compatible with the reference's float32 inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame, csum


def _to_geoframe(
    df: DataFrame,
    total_col: str | None = None,
    index_col: str | None = None,
    keep_columns: list[str] | None = None,
    units: str | None = None,
    datatype: str | None = None,
) -> GeoFrame:
    keep_columns = list(keep_columns or [])
    if index_col is not None and index_col != "name":
        df = df.withColumnRenamed(index_col, "name")
    if "name" in df.columns:
        keep_columns.append("name")

    species = [c for c in df.columns if c != "name" and chem.is_chemical(c)]

    # normalise any case-variant total column name (``magmaFrame.py:57-62``)
    if total_col is not None and total_col in df.columns:
        df = df.withColumnRenamed(total_col, "total")
    else:
        for c in df.columns:
            if c.lower() == "total" and c != "total":
                df = df.withColumnRenamed(c, "total")

    cols = [F.col(c) for c in df.columns if c in keep_columns and c != "total"]
    cols += [F.col(s).cast(T.DoubleType()).alias(s) for s in species]
    # total is always recomputed from species (``readers.py:58-60``)
    cols.append(
        csum(F.col(s).cast(T.DoubleType()) for s in species).alias("total")
    )
    out = df.select(*cols)
    return GeoFrame(out, units=units, datatype=datatype, species=species)


def read_file(
    spark: SparkSession,
    filepath: str,
    total_col: str | None = None,
    index_col: str | None = None,
    keep_columns: list[str] | None = None,
    units: str | None = None,
    datatype: str | None = None,
) -> GeoFrame:
    """CSV (or parquet) → GeoFrame. ``parse_io/readers.py:18-71``."""
    if filepath.endswith(".parquet"):
        df = spark.read.parquet(filepath)
    else:
        df = spark.read.csv(filepath, header=True, inferSchema=True)
    return _to_geoframe(
        df,
        total_col=total_col,
        index_col=index_col,
        keep_columns=keep_columns,
        units=units,
        datatype=datatype,
    )


def read_melt(spark, filepath, **kw) -> GeoFrame:
    """``parse_io/readers.py:100-125``."""
    kw.setdefault("units", "wt.%")
    kw.setdefault("datatype", "oxide")
    return read_file(spark, filepath, **kw)


def read_olivine(spark, filepath, **kw) -> GeoFrame:
    kw.setdefault("units", "wt.%")
    kw.setdefault("datatype", "oxide")
    return read_file(spark, filepath, **kw)


def read_clinopyroxene(spark, filepath, **kw) -> GeoFrame:
    kw.setdefault("units", "wt.%")
    kw.setdefault("datatype", "oxide")
    return read_file(spark, filepath, **kw)


def read_plagioclase(spark, filepath, **kw) -> GeoFrame:
    kw.setdefault("units", "wt.%")
    kw.setdefault("datatype", "oxide")
    return read_file(spark, filepath, **kw)


def geoframe_from_pandas(
    spark: SparkSession, pdf, units=None, datatype=None, index_name="name"
) -> GeoFrame:
    """Constructor parity with ``MagmaFrame(data, units=, datatype=)``
    (``magmaFrame.py:43-69``)."""
    pdf = pdf.copy()
    if pdf.index.name is not None or not isinstance(
        pdf.index, type(pdf.reset_index(drop=True).index)
    ):
        pdf = pdf.reset_index().rename(columns={pdf.index.name or "index": index_name})
    df = spark.createDataFrame(pdf)
    return _to_geoframe(df, units=units, datatype=datatype)
