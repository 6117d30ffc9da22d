"""Session defaults that carry a cost or a behaviour of their own.

``get_spark`` turns off PySpark's per-operator call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``): with it on, every
``Column`` operator makes several py4j round trips to record where in
Python it was built. The tripwire counts those round trips while the
``geochem_models`` benchmark queries are rebuilt, so the capture coming
back (or a new per-operator JVM call) fails here, not in a timing. The
second test pins what an error keeps without the capture."""

import threading

import py4j.clientserver
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from magmapandas_spark.relational import suite

from .conftest import sf_dir

SF_DIR = sf_dir("0.001")

#: py4j round trips the building thread may make per warm rebuild,
#: ``local[8]``, sf0.001. Measured with the capture on / off:
#: thermometer_putirka2008_15 991 / 341, unit_conversions 1247 / 297,
#: volatile_saturation_im 613 / 313, kd_toplis_iteration 1480 / 450.
#: Each bound sits about midway (geometrically) between the two.
ROUND_TRIP_BOUNDS = {
    "thermometer_putirka2008_15": 600,
    "unit_conversions": 600,
    "volatile_saturation_im": 450,
    "kd_toplis_iteration": 800,
}


def test_call_site_capture_is_off(spark):
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


@pytest.mark.parametrize("name", list(ROUND_TRIP_BOUNDS))
def test_query_build_round_trips(spark, monkeypatch, name):
    build = suite.queries()[name]
    build(spark, SF_DIR)  # warm: melt cache, worker zip, plan caches

    # py4j's finalizer thread sends object deletes on the same
    # connection class; count only the round trips the build makes
    builder = threading.get_ident()
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == builder:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    build(spark, SF_DIR)
    assert calls[0] <= ROUND_TRIP_BOUNDS[name], (
        f"{name}: {calls[0]} py4j round trips to build, "
        f"bound {ROUND_TRIP_BOUNDS[name]}"
    )


def test_ansi_error_stays_named(spark):
    """Without the capture an ANSI failure is still the named PySpark
    exception with its error condition; only the Python file:line of
    the ``== DataFrame ==`` context is gone."""
    df = spark.range(0, 4, 1, 1).select((F.lit(1) / F.col("id")).alias("x"))
    with pytest.raises(ArithmeticException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
