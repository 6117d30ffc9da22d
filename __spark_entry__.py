"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (default melt thermometer over
the synthetic melt table at sf0.001). ``queries()`` / ``oracle_sql()``
expose the full correctness suite from
:mod:`magmapandas_spark.relational.suite`.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from magmapandas_spark.relational import geochem, suite  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return geochem.q_thermometer_putirka15(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return suite.queries()


def oracle_sql() -> dict[str, str]:
    return suite.oracle_sql()
