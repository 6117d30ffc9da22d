"""GeoFrame unit-conversion tests.

Ground truth: an independent pandas mirror of the published conversion
formulas (wt.% ↔ mol ↔ cation; see reference semantics at
``magmaFrame.py:177-447``), plus the property tests from FIXTURES.md §8.
"""

import numpy as np
import pandas as pd
import pytest

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.parse_io.readers import read_melt

from .conftest import MELTS_CSV

pytestmark = pytest.mark.needs_reference(MELTS_CSV)


@pytest.fixture(scope="module")
def melts_pd():
    return pd.read_csv(MELTS_CSV)


@pytest.fixture(scope="module")
def melt_gf(spark):
    return read_melt(spark, MELTS_CSV, index_col="name")


def species_of(pdf):
    return [c for c in pdf.columns if c not in ("name", "total")]


def test_read_melt_schema(melt_gf, melts_pd):
    assert "name" in melt_gf.df.columns
    assert set(melt_gf.species) == set(species_of(melts_pd))
    out = melt_gf.df.toPandas().set_index("name")
    exp_total = melts_pd.set_index("name")[melt_gf.species].sum(axis=1)
    assert np.allclose(out["total"], exp_total.loc[out.index], rtol=1e-12)


def test_moles_matches_pandas_mirror(melt_gf, melts_pd):
    out = melt_gf.moles().df.toPandas().set_index("name")
    pdf = melts_pd.set_index("name")
    sp = melt_gf.species
    w = np.array([chem.calculate_weight(s) for s in sp])
    mol = pdf[sp].to_numpy() / w
    mol = mol / mol.sum(axis=1, keepdims=True)
    exp = pd.DataFrame(mol, index=pdf.index, columns=sp)
    assert np.allclose(out[sp], exp.loc[out.index, sp], rtol=1e-12)
    assert np.allclose(out["total"], 1.0, rtol=1e-12)


def test_wt_pc_round_trip(melt_gf, melts_pd):
    """wt.% → mol → wt.% == normalise(100) (FIXTURES.md §8)."""
    back = melt_gf.moles().wt_pc().df.toPandas().set_index("name")
    pdf = melts_pd.set_index("name")
    sp = melt_gf.species
    exp = pdf[sp].div(pdf[sp].sum(axis=1), axis=0) * 100.0
    assert np.allclose(back[sp], exp.loc[back.index, sp], rtol=1e-9)
    assert np.allclose(back["total"], 100.0, rtol=1e-9)


def test_ppm_round_trip(melt_gf):
    orig = melt_gf.df.toPandas().set_index("name")
    back = melt_gf.ppm().wt_pc().df.toPandas().set_index("name")
    sp = melt_gf.species
    assert np.allclose(back[sp], orig.loc[back.index, sp], rtol=1e-12)


def test_normalise_to(melt_gf):
    out = melt_gf.normalise(to=50.0).df.toPandas()
    sp = melt_gf.species
    assert np.allclose(out[sp].sum(axis=1), 50.0, rtol=1e-9)
    assert np.allclose(out["total"], 50.0, rtol=1e-9)


def test_cations_sum_to_one(melt_gf):
    out = melt_gf.cations().df.toPandas()
    cats = [c for c in out.columns if c not in ("name", "total")]
    # species renamed to cation names
    assert "Si" in cats and "Mg" in cats and "Fe" in cats
    assert np.allclose(out[cats].sum(axis=1), 1.0, rtol=1e-9)
    assert np.allclose(out["total"], 1.0)


def test_cations_oxides_round_trip(melt_gf, melts_pd):
    """cations() → oxides() recovers the normalised oxide composition
    (FIXTURES.md §8)."""
    back = melt_gf.cations().oxides().wt_pc().df.toPandas().set_index("name")
    pdf = melts_pd.set_index("name")
    sp = melt_gf.species
    exp = pdf[sp].div(pdf[sp].sum(axis=1), axis=0) * 100.0
    assert np.allclose(back[sp], exp.loc[back.index, sp], rtol=1e-9)


def test_oxygen_basis(melt_gf):
    """mineral_formula: Σ(cation_i × O_per_cat_i) == O (FIXTURES.md §8)."""
    mf = melt_gf.mineral_formula(O=4)
    out = mf.df.toPandas()
    cats = [c for c in out.columns if c not in ("name", "O")]
    ratios = {
        c: chem.oxygen_amount(o) / chem.cation_amount(o)
        for o, c in zip(melt_gf.species, cats)
    }
    total_o = sum(out[c] * r for c, r in ratios.items())
    assert np.allclose(total_o, 4.0, rtol=1e-9)


def test_feo_fe2o3_mass_balance(melt_gf):
    """Fe mole balance through the FeO/Fe2O3 split (FIXTURES.md §8)."""
    split = melt_gf.FeO_Fe2O3_calc(Fe3Fe2=0.25, wtpc=False)
    mol_before = melt_gf.moles().df.toPandas().set_index("name")
    out = split.df.toPandas().set_index("name")
    # renormalise both to compare Fe per total moles
    fe_before = mol_before["FeO"]
    fe_after = out["FeO"] + 2 * out["Fe2O3"]
    # moles frame was normalised before split; after adding Fe2O3 the
    # total changes, so compare ratios of Fe to a conserved species
    r_before = fe_before / mol_before["SiO2"]
    r_after = fe_after / out["SiO2"]
    assert np.allclose(r_before.loc[out.index], r_after, rtol=1e-9)


def test_check_components_adds_missing(melt_gf):
    gf = melt_gf.check_components(["MgO", "ZrO2"])
    out = gf.df.limit(2).toPandas()
    assert "ZrO2" in gf.species
    assert (out["ZrO2"] == 0.0).all()


def test_random_sample_zero_error_identity(melt_gf):
    out = melt_gf.random_sample(errors=0.0, seed=42).df.toPandas().set_index("name")
    orig = melt_gf.df.toPandas().set_index("name")
    sp = melt_gf.species
    assert np.allclose(out[sp], orig.loc[out.index, sp], rtol=1e-12)


def test_geoframe_sample_accessor(melt_gf):
    """Scalar-sample ergonomics (SURVEY §7 risk 2): one composition as
    a pandas Series, filter pushed down, KeyError on a miss."""
    import pytest as _pytest

    s = melt_gf.sample("PI032-04-01")
    assert s.name == "PI032-04-01"
    assert abs(s["SiO2"] - 49.402603) < 1e-5
    assert "name" not in s.index
    with _pytest.raises(KeyError):
        melt_gf.sample("nope")


def test_geoframe_sample_ambiguous_name_raises(spark, melt_gf):
    import pytest as _pytest

    from magmapandas_spark.core.geoframe import GeoFrame

    dup = GeoFrame(
        melt_gf.df.unionByName(melt_gf.df),
        units=melt_gf.units, datatype=melt_gf.datatype,
        species=melt_gf.species,
    )
    with _pytest.raises(ValueError, match="not unique"):
        dup.sample("PI032-04-01")


def test_geoframe_sample_without_name_column_raises(melt_gf):
    """r11 ADVICE: a frame that dropped 'name' (e.g. post-aggregation)
    must raise the documented KeyError naming the missing column, not
    an opaque AnalysisException from the filter."""
    import pytest as _pytest

    from magmapandas_spark.core.geoframe import GeoFrame

    nameless = GeoFrame(
        melt_gf.df.drop("name"),
        units=melt_gf.units, datatype=melt_gf.datatype,
        species=melt_gf.species,
    )
    with _pytest.raises(KeyError, match="'name' column"):
        nameless.sample("PI032-04-01")


def test_describe_fractional_percentile_labels(melt_gf):
    """r12 review: non-integer percentiles keep their full label
    (pandas' '12.5%', not a truncated '12%' colliding aliases)."""
    pdf = (
        melt_gf.describe(percentiles=(0.125, 0.5))
        .toPandas()
        .set_index("summary")
    )
    assert "12.5%" in pdf.index and "50%" in pdf.index
    assert pdf.loc["12.5%", "SiO2"] <= pdf.loc["50%", "SiO2"]
