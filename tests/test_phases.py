"""Config dispatch + phase convenience API (the reference's user
surface: ``configuration.py``, ``core/MagmaFrames/*.py``)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from magmapandas_spark.configuration import Configuration
from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.core.phases import Melt, Olivine, Plagioclase
from magmapandas_spark.parse_io.readers import read_melt

from .conftest import MELTS_CSV


@pytest.fixture(scope="module")
def melt_gf(spark):
    return read_melt(spark, MELTS_CSV, index_col="name")


def test_configuration_validates():
    cfg = Configuration()
    with pytest.raises(ValueError):
        cfg.melt_thermometer = "nope"
    with pytest.raises(ValueError):
        cfg.Fe3Fe2_model = "bogus"
    cfg.melt_thermometer = "putirka2008_13"
    assert cfg.melt_thermometer == "putirka2008_13"
    assert "putirka2008_13" in repr(cfg)
    cfg.reset()
    assert cfg.melt_thermometer == "putirka2008_15"


@pytest.mark.needs_reference(MELTS_CSV)
def test_melt_temperature_config_dispatch(spark, melt_gf):
    """Default thermometer == putirka2008_15; switching the config
    switches the generated plan."""
    from magmapandas_spark.models import thermometers as tm

    default = (
        Melt(melt_gf).temperature(P_bar=4000.0).select("name", "T_K")
        .toPandas().sort_values("name")
    )
    direct = (
        tm.putirka2008_15(melt_gf, P_bar=4000.0).select("name", "T_K")
        .toPandas().sort_values("name")
    )
    assert np.allclose(default["T_K"], direct["T_K"])

    cfg = Configuration(melt_thermometer="putirka2008_13")
    t13 = (
        Melt(melt_gf, config=cfg).temperature().select("name", "T_K")
        .toPandas().sort_values("name")
    )
    d13 = (
        tm.putirka2008_13(melt_gf).select("name", "T_K")
        .toPandas().sort_values("name")
    )
    assert np.allclose(t13["T_K"], d13["T_K"])
    assert not np.allclose(t13["T_K"], default["T_K"])


@pytest.mark.needs_reference(MELTS_CSV)
def test_melt_chain_smoke(spark, melt_gf):
    """temperature → Fe3Fe2 → Kd → density/viscosity composes lazily."""
    m = Melt(melt_gf)
    fe = m.Fe3Fe2(T_K=F.lit(1450.0), P_bar=F.lit(2000.0)).select(
        "name", "Fe3Fe2"
    ).toPandas()
    assert (fe["Fe3Fe2"] > 0).all()
    kd = m.Kd_olivine_FeMg_eq(
        T_K=F.lit(1450.0), P_bar=F.lit(2000.0)
    ).select("name", "Kd").toPandas()
    assert kd["Kd"].between(0.1, 0.6).all()
    rho = m.density(T_K=F.lit(1450.0), P_bar=F.lit(2000.0)).select(
        "density"
    ).toPandas()
    assert rho["density"].between(2000, 3300).all()
    nbo_t = m.NBO_T().select("NBO_T").toPandas()
    assert (nbo_t["NBO_T"] >= 0).all()


def test_olivine_forsterite_and_plag(spark):
    ol = GeoFrame(
        spark.createDataFrame(
            pd.DataFrame(
                {"name": ["o1"], "SiO2": [40.0], "MgO": [45.0],
                 "FeO": [14.0]}
            )
        ),
        units="wt.%", datatype="oxide", species=["SiO2", "MgO", "FeO"],
    )
    fo = Olivine(ol).forsterite().select("Fo").toPandas()["Fo"][0]
    # molar Mg/(Mg+Fe): 45/40.3044 / (45/40.3044 + 14/71.8444) ~ 0.85
    assert 0.80 < fo < 0.90

    plag = GeoFrame(
        spark.createDataFrame(
            pd.DataFrame(
                {"name": ["p1"], "SiO2": [55.0], "Al2O3": [28.0],
                 "CaO": [10.0], "Na2O": [5.0], "K2O": [0.5]}
            )
        ),
        units="wt.%", datatype="oxide",
        species=["SiO2", "Al2O3", "CaO", "Na2O", "K2O"],
    )
    em = Plagioclase(plag).endmembers().toPandas()
    total = em[["anorthite", "albite", "orthoclase"]].sum(axis=1)[0]
    assert abs(total - 100.0) < 1e-9


def test_config_snapshot_preserves_fixed_models():
    """r12 review: snapshot() at query construction must not re-trip
    the sequence-protocol guard when a fixed model is configured
    (dataclasses.replace did — reproduced crash)."""
    from magmapandas_spark.configuration import Configuration

    cfg = Configuration()
    cfg.Kd_model = ("fixed", 0.3, 0.05)
    cfg.Fe3Fe2_model = ("fixed", 0.25, 0.05)
    s = cfg.snapshot()
    assert s.Kd_model == "fixed" and s.Kd_fixed_value == 0.3
    assert s.Fe3Fe2_fixed_error == 0.05
    # the snapshot is an independent copy
    s.Kd_fixed_value = 0.9
    assert cfg.Kd_fixed_value == 0.3


def test_config_tuple_protocol_rejects_malformed():
    """r12 review: non-'fixed' tuples and wrong-length tuples raise
    the instructive protocol error, not unpack errors or silent
    stale-value state."""
    import pytest as _pytest

    from magmapandas_spark.configuration import Configuration

    cfg = Configuration()
    with _pytest.raises(ValueError, match="tuple or list"):
        cfg.Kd_model = ("toplis2005", 0.3, 0.05)
    with _pytest.raises(ValueError, match="tuple or list"):
        cfg.Kd_model = ("fixed", 0.3)
    assert cfg.Kd_fixed_value is None  # nothing leaked
