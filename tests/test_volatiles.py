"""Volatile solubility / saturation tests: solubility↔saturation round
trips (the defining property of the root-finders), published-range
sanity, degenerate-fluid handling, and the Spark UDF surface."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import volatiles as vol
from magmapandas_spark.parse_io.readers import read_melt

from .conftest import MELTS_CSV

BASALT = dict(SiO2=49.4, TiO2=2.5, Al2O3=14.5, FeO=9.8, MgO=6.5,
              CaO=10.1, Na2O=3.7, K2O=0.7, MnO=0.13, P2O5=0.29)


def _wt(n=1):
    return {s: np.full(n, v) for s, v in BASALT.items()}


def test_im_h2o_round_trip():
    wt = _wt()
    T = np.array([1473.15])
    for w_obs in [0.5, 1.0, 2.0, 4.0, 6.0]:
        P = vol.h2o_saturation_np(wt, np.array([w_obs]), T)
        back = vol.h2o_solubility_np(wt, P, T, 1.0)
        assert abs(back[0] - w_obs) < 1e-6, (w_obs, P, back)


def test_im_co2_round_trip():
    wt = _wt()
    T = np.array([1473.15])
    for c_obs in [1e-3, 5e-2, 0.2, 0.5]:
        P = vol.co2_saturation_np(wt, np.array([c_obs]), T)
        back = vol.co2_solubility_np(wt, P, T, 0.0)
        assert abs(back[0] - c_obs) / c_obs < 1e-6


def test_im_mixed_consistency():
    """The mixed-fluid solution satisfies BOTH solubility equations."""
    wt = _wt()
    T = np.array([1473.15])
    P, x = vol.mixed_saturation_np(
        wt, np.array([1.5]), np.array([0.1]), T
    )
    w_chk = vol.h2o_solubility_np(wt, P, T, x)
    c_chk = vol.co2_solubility_np(wt, P, T, x)
    assert abs(w_chk[0] - 1.5) < 1e-9
    assert abs(c_chk[0] - 0.1) < 1e-9
    # mixed pressure exceeds both pure saturation pressures
    P_w = vol.h2o_saturation_np(wt, np.array([1.5]), T)
    P_c = vol.co2_saturation_np(wt, np.array([0.1]), T)
    assert P[0] > P_w[0] and P[0] > P_c[0]


def test_im_degenerate_fluids():
    wt = _wt()
    T = np.array([1473.15])
    P, x = vol.mixed_saturation_np(wt, np.array([0.0]), np.array([0.1]), T)
    P_c = vol.co2_saturation_np(wt, np.array([0.1]), T)
    assert abs(P[0] - P_c[0]) < 1e-9 and x[0] == 0.0
    P, x = vol.mixed_saturation_np(wt, np.array([2.0]), np.array([0.0]), T)
    P_w = vol.h2o_saturation_np(wt, np.array([2.0]), T)
    assert abs(P[0] - P_w[0]) < 1e-9 and x[0] == 1.0


def test_im_published_range():
    """IM2012 basalt: ~3-3.5 wt% H2O at 1 kbar, 1473 K (fig. 4 range)."""
    wt = _wt()
    T = np.array([1473.15])
    w = vol.h2o_solubility_np(wt, np.array([1000.0]), T, 1.0)
    assert 2.5 < w[0] < 4.5, w


def test_shishkina_round_trips():
    wt = _wt()
    for w_obs in [1.5, 3.0]:
        P = vol.shishkina_h2o_saturation_np(wt, np.array([w_obs]))
        back = vol.shishkina_h2o_solubility_np(wt, P, 1.0)
        assert abs(back[0] - w_obs) < 1e-6
    for c_obs in [0.05, 0.3]:
        P = vol.shishkina_co2_saturation_np(wt, np.array([c_obs]))
        back = vol.shishkina_co2_solubility_np(wt, P, 0.0)
        assert abs(back[0] - c_obs) / c_obs < 1e-9
    # mixed decouples: P = P_h2o + P_co2
    P, x = vol.shishkina_mixed_saturation_np(
        wt, np.array([1.5]), np.array([0.05])
    )
    P_w = vol.shishkina_h2o_saturation_np(wt, np.array([1.5]))
    P_c = vol.shishkina_co2_saturation_np(wt, np.array([0.05]))
    assert abs(P[0] - (P_w[0] + P_c[0])) < 1e-9
    assert abs(x[0] - P_w[0] / P[0]) < 1e-12


def test_shishkina_below_intercept_nan():
    """H2O below the model's P=0 intercept → NaN (shishkina2014.py:98-101)."""
    wt = _wt()
    out = vol.shishkina_h2o_saturation_np(wt, np.array([0.2]))
    assert np.isnan(out[0])


@pytest.mark.needs_reference(MELTS_CSV)
def test_saturation_udf_spark(spark):
    melt = read_melt(spark, MELTS_CSV, index_col="name")
    out = vol.volatile_saturation_pressure(melt, T_K=1473.15, species="mixed")
    pdf = out.select("name", "P_bar_sat", "Xfl").toPandas()
    assert np.isfinite(pdf["P_bar_sat"]).all()
    assert pdf["P_bar_sat"].between(10, 1.5e4).all(), pdf.describe()
    assert pdf["Xfl"].between(0, 1).all()
    # cross-check one row against the numpy path
    m = pd.read_csv(MELTS_CSV).set_index("name")
    row = m.iloc[0]
    wt = {
        s: np.array([float(row[s])])
        for s in melt.species
    }
    P, x = vol.mixed_saturation_np(
        wt, np.array([float(row["H2O"])]), np.array([float(row["CO2"])]),
        np.array([1473.15]),
    )
    got = pdf.set_index("name").loc[m.index[0]]
    assert abs(got["P_bar_sat"] - P[0]) < 1e-6
    assert abs(got["Xfl"] - x[0]) < 1e-9


@pytest.mark.needs_reference(MELTS_CSV)
def test_solubility_udf_spark(spark):
    melt = read_melt(spark, MELTS_CSV, index_col="name")
    out = vol.volatile_solubility(melt, P_bar=2000.0, T_K=1473.15, x_fluid=0.5)
    pdf = out.select("H2O_sol", "CO2_sol").toPandas()
    assert np.isfinite(pdf.to_numpy()).all()
    assert (pdf["H2O_sol"] > 0).all() and (pdf["CO2_sol"] > 0).all()


@pytest.mark.needs_reference(MELTS_CSV)
def test_shishkina_udf_spark(spark):
    melt = read_melt(spark, MELTS_CSV, index_col="name")
    out = vol.volatile_saturation_pressure(
        melt, T_K=1473.15, model="shishkina2014", species="co2",
        out_col="P_sat",
    )
    pdf = out.select("P_sat").toPandas()
    assert np.isfinite(pdf["P_sat"]).all()
    assert (pdf["P_sat"] > 0).all()


# ----------------------------------------------------------------------
# Allison et al. (2022) MafiCH
# ----------------------------------------------------------------------

ALLISON_WT = {
    "SiO2": np.array([48.0, 50.0, 52.0]),
    "TiO2": np.array([1.8, 1.2, 1.0]),
    "Al2O3": np.array([16.0, 15.0, 14.0]),
    "FeO": np.array([9.5, 8.5, 8.0]),
    "MgO": np.array([7.5, 6.5, 5.0]),
    "CaO": np.array([11.0, 10.0, 9.0]),
    "Na2O": np.array([2.8, 3.0, 3.4]),
    "K2O": np.array([0.6, 0.9, 1.4]),
}
ALLISON_T = np.array([1473.15, 1448.15, 1423.15])


def test_allison_fugacity_monotonic_and_4kb_switch():
    from magmapandas_spark.models import allison as al

    for sp in ("H2O", "CO2"):
        P = np.array([500.0, 2000.0, 3999.0, 4001.0, 8000.0, 1.4e4])
        f = al.hb_fugacity_np(np.full_like(P, 1473.15), P, sp)
        assert (np.diff(f) > 0).all(), (sp, f)  # increasing in P
        # continuous at the MRK/Saxena switch (CO2 only branches)
        assert f[3] / f[2] < 1.01


def test_allison_h2o_round_trip():
    from magmapandas_spark.models import allison as al

    for P0 in (1000.0, 3000.0, 6000.0):
        P = np.full(3, P0)
        h2o = al.allison_h2o_solubility_np(P, ALLISON_T, 1.0)
        assert np.allclose(
            al.allison_h2o_saturation_np(ALLISON_WT, h2o, ALLISON_T),
            P, rtol=1e-4,
        )


def test_allison_co2_round_trip():
    from magmapandas_spark.models import allison as al

    for P0 in (1000.0, 3000.0, 6000.0):
        P = np.full(3, P0)
        co2 = al.allison_co2_solubility_np(ALLISON_WT, P, ALLISON_T, 0.0)
        # ~CO2wt%/120 asymmetry is inherent to the reference's XCO3
        # inversion (allison2022.py:247 vs :332) — 1% covers < 7 kbar
        assert np.allclose(
            al.allison_co2_saturation_np(ALLISON_WT, co2, ALLISON_T),
            P, rtol=1e-2,
        )


def test_allison_mixed_round_trip():
    from magmapandas_spark.models import allison as al

    for P0, x0 in ((2000.0, 0.3), (4000.0, 0.6), (7000.0, 0.8)):
        P = np.full(3, P0)
        h2o = al.allison_h2o_solubility_np(P, ALLISON_T, x0)
        co2 = al.allison_co2_solubility_np(ALLISON_WT, P, ALLISON_T, x0)
        Pb, xb = al.allison_mixed_saturation_np(
            ALLISON_WT, h2o, co2, ALLISON_T
        )
        assert np.allclose(Pb, P, rtol=1e-3)
        assert np.allclose(xb, x0, atol=1e-3)


def test_allison_spark_saturation(spark):
    pdf = pd.DataFrame(
        {
            "name": ["a", "b", "c"],
            **{k: v for k, v in ALLISON_WT.items()},
            "H2O": [1.0, 2.0, 0.5],
            "CO2": [0.05, 0.1, 0.02],
        }
    )
    gf = GeoFrame(
        spark.createDataFrame(pdf), units="wt.%", datatype="oxide",
        species=list(ALLISON_WT) + ["H2O", "CO2"],
    )
    out = (
        vol.volatile_saturation_pressure(
            gf, T_K=1473.15, model="allison2022", species="mixed"
        )
        .select("name", "P_bar_sat", "Xfl")
        .toPandas()
        .sort_values("name")
    )
    assert np.isfinite(out["P_bar_sat"]).all()
    assert (out["P_bar_sat"] > 0).all()
    assert out["Xfl"].between(0, 1).all()
