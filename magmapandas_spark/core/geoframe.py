"""GeoFrame — unit-aware compositional table on a Spark DataFrame.

The Spark-native replacement for the reference's ``MagmaFrame``
(``src/MagmaPandas/core/MagmaFrames/magmaFrame.py:22``) and
``MagmaSeries`` (one-row case collapses into the same columnar code
path). Rows are samples, species are DOUBLE columns; the sample name is
an ordinary key column (default ``name``) instead of a pandas index.

Design:

- ``units`` / ``datatype`` / ``weights`` are *driver-side metadata*
  carried by this wrapper; atomic weights and stoichiometry enter plans
  as literals (Catalyst constant-folds them).
- Every conversion is a pure ``pyspark.sql.functions`` Column expression
  over a single ``select`` — narrow, shuffle-free, whole-stage-codegen
  eligible, and therefore scale-independent: the same plan runs on a
  1000-executor cluster over 100 TB without any driver involvement.
- ``total`` is a *derived* column: recomputed as ``Σ species`` whenever
  species change (replacing the reference's recalc-on-setitem machinery
  at ``core/indexing_assignment.py:12-83``).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.enums import Datatype, Unit


def csum(cols: Iterable[Column]) -> Column:
    """Σ of Column expressions, left to right; ``lit(0.0)`` when empty."""
    cols = list(cols)
    return reduce(lambda a, b: a + b, cols) if cols else F.lit(0.0)


# 2^48 and 2π as exact double literals shared with the SQL oracles
_TWO48 = 281474976710656.0
_TWO_PI = 6.283185307179586


def _hash_gauss(key: Column, tag: str) -> Column:
    """Deterministic standard-normal draw from an md5 counter:
    u1, u2 from the top 48 bits of md5(key:tag:a / :b), then Box-Muller
    z = sqrt(-2 ln u1)·cos(2π u2). Engine-portable (md5 + libm only)."""
    def _u(suffix: str) -> Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", key, F.lit(tag), F.lit(suffix))),
                1, 12,
            ),
            16, 10,
        ).cast("bigint")
        return h.cast("double")

    u1 = (_u("a") + F.lit(1.0)) / F.lit(_TWO48)
    u2 = _u("b") / F.lit(_TWO48)
    return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(_TWO_PI) * u2)


class GeoFrame:
    """A Spark DataFrame tagged with composition metadata.

    Parameters
    ----------
    df : pyspark DataFrame with species columns (DOUBLE) and any number
        of non-chemical ("extra") columns (sample name, T_K, P_bar, ...).
    units : "wt.%" | "mol fraction" | "ppm" | None
    datatype : "oxide" | "cation" | None
    species : explicit species column list; inferred from column names
        (chemical-formula parse, ``parse_io/readers.py:51-57``) if None.
    """

    def __init__(
        self,
        df: DataFrame,
        units: str | Unit = None,
        datatype: str | Datatype = None,
        species: list[str] | None = None,
    ):
        self.df = df
        self.units = units if isinstance(units, Unit) else Unit(units)
        self.datatype = (
            datatype if isinstance(datatype, Datatype) else Datatype(datatype)
        )
        if species is None:
            species = [
                c for c in df.columns if c != "total" and chem.is_chemical(c)
            ]
        self.species = list(species)

    # ------------------------------------------------------------------
    # metadata
    # ------------------------------------------------------------------
    @property
    def weights(self) -> dict[str, float]:
        """Molar weights of species (``magmaFrame.py:143-147``)."""
        return {s: chem.calculate_weight(s) for s in self.species}

    @property
    def elements(self) -> list[str]:
        return list(self.species)

    @property
    def extra(self) -> list[str]:
        """Non-chemical columns (``magmaFrame.py:114-121`` ``_no_data``),
        plus ``total`` if present."""
        return [c for c in self.df.columns if c not in self.species]

    @property
    def has_total(self) -> bool:
        return "total" in self.df.columns

    def scol(self, name: str) -> Column:
        return F.col(name)

    # ------------------------------------------------------------------
    # construction helpers
    # ------------------------------------------------------------------
    def _rebuild(
        self,
        species_exprs: Mapping[str, Column],
        units: Unit,
        datatype: Datatype | None = None,
        total: Column | bool = True,
        keep_extra: bool = True,
    ) -> "GeoFrame":
        """select(extras + new species + total) → new GeoFrame."""
        cols: list[Column] = []
        if keep_extra:
            cols += [F.col(c) for c in self.df.columns if c not in self.species and c != "total"]
        names = list(species_exprs.keys())
        cols += [species_exprs[n].alias(n) for n in names]
        if total is True:
            cols.append(csum(species_exprs.values()).alias("total"))
        elif isinstance(total, Column):
            cols.append(total.alias("total"))
        out = self.df.select(*cols)
        return GeoFrame(
            out,
            units=units,
            datatype=datatype if datatype is not None else self.datatype,
            species=names,
        )

    def with_extra(self, name: str, expr: Column) -> "GeoFrame":
        return GeoFrame(
            self.df.withColumn(name, expr),
            units=self.units,
            datatype=self.datatype,
            species=self.species,
        )

    def select_samples(self, predicate: Column) -> "GeoFrame":
        return GeoFrame(self.df.filter(predicate), self.units, self.datatype, self.species)

    # ------------------------------------------------------------------
    # schema ops (survey §2.2)
    # ------------------------------------------------------------------
    def check_components(self, components: list[str]) -> "GeoFrame":
        """Fill missing required oxides with 0.0 and null→0.0
        (``parse_io/parse.py:47-65``). Warning is driver-side."""
        import warnings

        missing = [c for c in components if c not in self.species]
        if missing:
            warnings.warn(
                f"{', '.join(missing)} missing in composition and set to 0."
            )
        exprs = {
            s: F.coalesce(F.col(s), F.lit(0.0)) for s in self.species
        }
        for c in missing:
            exprs[c] = F.lit(0.0)
        return self._rebuild(exprs, self.units)

    def remove_elements(self, drop: list[str]) -> "GeoFrame":
        """Drop species columns + recompute total
        (``tools/modify_compositions.py:19-35``)."""
        keep = [s for s in self.species if s not in set(drop)]
        return self._rebuild({s: F.col(s) for s in keep}, self.units)

    def anhydrous(self, normalise: bool = True) -> "GeoFrame":
        """Drop H2O, optionally renormalise
        (``tools/modify_compositions.py:77-91``)."""
        if "H2O" not in self.species:
            return self
        dropped = self.remove_elements(["H2O"])
        return dropped.normalise() if normalise else dropped

    # ------------------------------------------------------------------
    # unit conversions (survey §2.7; ``magmaFrame.py:177-447``)
    # ------------------------------------------------------------------
    def normalise(self, to: float | None = None) -> "GeoFrame":
        """``magmaFrame.py:418-447``."""
        if to is not None:
            norm = float(to)
        elif self.units == Unit.WT_PERCENT:
            norm = 100.0
        else:
            norm = 1.0
        total = csum(F.col(s) for s in self.species)
        exprs = {s: F.col(s) / total * F.lit(norm) for s in self.species}
        return self._rebuild(exprs, self.units)

    def _convert_moles_wt_percent(self, normalise: bool = True) -> "GeoFrame":
        """wt.% ↔ mol fraction (``magmaFrame.py:356-385``)."""
        w = self.weights
        if self.units == Unit.WT_PERCENT:
            exprs = {s: F.col(s) / F.lit(w[s]) for s in self.species}
            new_units = Unit.MOL_FRACTIONS
        elif self.units == Unit.MOL_FRACTIONS:
            exprs = {s: F.col(s) * F.lit(w[s]) for s in self.species}
            new_units = Unit.WT_PERCENT
        else:
            raise ValueError(f"cannot convert units {self.units}")
        if not normalise:
            return self._rebuild(exprs, new_units)
        total = csum(exprs.values())
        scale = F.lit(100.0) if new_units == Unit.WT_PERCENT else F.lit(1.0)
        exprs = {s: e / total * scale for s, e in exprs.items()}
        return self._rebuild(exprs, new_units)

    def convert_ppm_wt_percent(self) -> "GeoFrame":
        """ppm ↔ wt.% (``magmaFrame.py:340-353``)."""
        factor, new_units = {
            Unit.WT_PERCENT: (1e4, Unit.PPM),
            Unit.PPM: (1e-4, Unit.WT_PERCENT),
        }[self.units]
        exprs = {s: F.col(s) * F.lit(factor) for s in self.species}
        return self._rebuild(exprs, new_units)

    def moles(self, normalise: bool = True) -> "GeoFrame":
        """``magmaFrame.py:177-192``."""
        if self.units == Unit.MOL_FRACTIONS:
            return self
        if self.units == Unit.WT_PERCENT:
            return self._convert_moles_wt_percent(normalise=normalise)
        if self.units == Unit.PPM:
            return self.convert_ppm_wt_percent()._convert_moles_wt_percent(
                normalise=normalise
            )
        return self

    def wt_pc(self, normalise: bool = True) -> "GeoFrame":
        """``magmaFrame.py:194-207``."""
        if self.units == Unit.WT_PERCENT:
            return self
        if self.units == Unit.MOL_FRACTIONS:
            return self._convert_moles_wt_percent(normalise=normalise)
        if self.units == Unit.PPM:
            return self.convert_ppm_wt_percent()
        return self

    def ppm(self) -> "GeoFrame":
        """``magmaFrame.py:209-223``."""
        if self.units == Unit.PPM:
            return self
        if self.units == Unit.WT_PERCENT:
            return self.convert_ppm_wt_percent()
        if self.units == Unit.MOL_FRACTIONS:
            return self._convert_moles_wt_percent().convert_ppm_wt_percent()
        return self

    # ------------------------------------------------------------------
    # oxide ↔ cation (``magmaFrame.py:225-313``)
    # ------------------------------------------------------------------
    def cations(
        self,
        normalise: bool = True,
        norm_to: float = 1.0,
        mol_fractions: bool = True,
    ) -> "GeoFrame":
        if (
            self.datatype == Datatype.CATION
            and mol_fractions
            and self.units == Unit.MOL_FRACTIONS
        ):
            return self
        mol = self.moles(normalise=False)
        # oxide mol → cation mol, rename columns to cation names
        exprs: dict[str, Column] = {}
        for s in mol.species:
            cat = chem.cation_name(s)
            e = F.col(s) * F.lit(chem.cation_amount(s))
            # merge collisions (e.g. FeO + Fe2O3 both → Fe is avoided by
            # the Fe3 naming, but be safe)
            exprs[cat] = exprs[cat] + e if cat in exprs else e
        gf = mol._rebuild(exprs, Unit.MOL_FRACTIONS, Datatype.CATION)
        if not mol_fractions:
            w = gf.weights
            gf = gf._rebuild(
                {s: F.col(s) * F.lit(w[s]) for s in gf.species},
                Unit.WT_PERCENT,
                Datatype.CATION,
            )
            norm_to = 100.0
        if not normalise:
            return gf
        total = csum(F.col(s) for s in gf.species)
        return gf._rebuild(
            {s: F.col(s) / total * F.lit(norm_to) for s in gf.species},
            gf.units,
            Datatype.CATION,
            total=F.lit(float(norm_to)),
        )

    def oxides(
        self,
        normalise: bool = True,
        oxidation_state: dict[str, int] | None = None,
    ) -> "GeoFrame":
        import re as _re

        oxidation_state = oxidation_state or {}
        if self.datatype == Datatype.OXIDE and not oxidation_state:
            return self
        orig_units = self.units
        cats = self.cations(normalise=False)
        exprs: dict[str, Column] = {}
        for cat in cats.species:
            elem = _re.sub(r"\d+", "", cat)
            cat_named = (
                f"{elem}{int(oxidation_state[elem])}"
                if elem in oxidation_state
                else cat
            )
            oxide = chem.oxide_name(cat_named)
            n_cat = chem.cation_amount(oxide)
            e = F.col(cat) / F.lit(n_cat)
            exprs[oxide] = exprs[oxide] + e if oxide in exprs else e
        gf = cats._rebuild(exprs, Unit.MOL_FRACTIONS, Datatype.OXIDE)
        if orig_units == Unit.MOL_FRACTIONS:
            return gf.normalise() if normalise else gf
        gf = gf._convert_moles_wt_percent(normalise=False)
        return gf.normalise() if normalise else gf

    def oxygen(self) -> Column:
        """Moles O per 1 mole cations (``magmaFrame.py:315-338``).
        Returns an expression valid on :meth:`cations` output — use
        :meth:`with_oxygen` for a self-contained column."""
        cats = self.cations() if self.datatype != Datatype.CATION else self
        ratios = {
            s: chem.oxygen_amount(chem.oxide_name(s))
            / chem.cation_amount(chem.oxide_name(s))
            for s in cats.species
        }
        return csum(F.col(s) * F.lit(r) for s, r in ratios.items())

    def with_oxygen(self, name: str = "oxygen") -> "GeoFrame":
        cats = self.cations()
        return cats.with_extra(name, cats.oxygen())

    def mineral_formula(self, O: float) -> "GeoFrame":
        """Cations normalised to ``O`` oxygen p.f.u.
        (``magmaFrame.py:387-416``)."""
        O = float(O)
        cats = self.cations()
        # oxygens-per-cation of the ORIGINAL oxide species, mapped
        # positionally onto cation names (``magmaFrame.py:405-409``)
        ratios = {}
        for orig, cat in zip(self.species, cats.species):
            ratios[cat] = chem.oxygen_amount(orig) / chem.cation_amount(orig)
        oxygen_total = csum(F.col(c) * F.lit(r) for c, r in ratios.items())
        factor = F.lit(O) / oxygen_total
        exprs = {c: F.col(c) * factor for c in cats.species}
        exprs["O"] = F.lit(O)
        return cats._rebuild(exprs, cats.units, Datatype.CATION, total=False)

    def cation_moles_per_oxygen(self) -> "GeoFrame":
        """Cation moles per 1 mole total oxygen, Sun (2020) basis
        (``tools/modify_compositions.py:38-74``). Input must be oxide
        moles; output columns are named ``Mg1O``, ``Ti1/2O``, ``K2O``...
        with total ``O_total``."""
        from fractions import Fraction as _Fr

        mol = self.moles(normalise=False)
        oxides = [s for s in mol.species if chem.oxygen_amount(s) > 0]
        o_num = {s: chem.oxygen_amount(s) for s in oxides}
        cat_num = {s: chem.cation_amount(s) for s in oxides}
        # oxide moles × O per oxide, normalised to 1 total oxygen
        o_moles = {s: F.col(s) * F.lit(o_num[s]) for s in oxides}
        total_o = csum(o_moles.values())
        exprs = {}
        names = {}
        for s in oxides:
            cpo = cat_num[s] / o_num[s]
            cat = chem.cation_name(s)
            frac = _Fr(cpo).limit_denominator()
            names[s] = f"{cat}{frac}O"
            exprs[names[s]] = o_moles[s] / total_o * F.lit(cpo)
        gf = mol._rebuild(exprs, Unit.MOL_FRACTIONS, Datatype.CATION)
        return gf

    # ------------------------------------------------------------------
    # Fe speciation (``core/MagmaFrames/melt.py:225-274``)
    # ------------------------------------------------------------------
    def FeO_Fe2O3_calc(
        self, Fe3Fe2: Column | float, total_Fe: str = "FeO", wtpc: bool = True
    ) -> "GeoFrame":
        if total_Fe not in ("FeO", "Fe2O3"):
            raise ValueError("total_Fe must be FeO or Fe2O3")
        fe3fe2 = Fe3Fe2 if isinstance(Fe3Fe2, Column) else F.lit(float(Fe3Fe2))
        fe2_frac = F.lit(1.0) / (F.lit(1.0) + fe3fe2)
        mol = self.moles()
        if total_Fe == "FeO":
            fe2 = F.col("FeO") * fe2_frac
            fe3 = F.col("FeO") * (F.lit(1.0) - fe2_frac) / F.lit(2.0)
        else:
            fe2 = F.col("Fe2O3") * fe2_frac * F.lit(2.0)
            fe3 = F.col("Fe2O3") * (F.lit(1.0) - fe2_frac)
        exprs = {}
        for s in mol.species:
            if s == "FeO":
                exprs["FeO"] = fe2
            elif s == "Fe2O3":
                continue
            else:
                exprs[s] = F.col(s)
        exprs["Fe2O3"] = fe3
        gf = mol._rebuild(exprs, Unit.MOL_FRACTIONS, mol.datatype)
        return gf.wt_pc() if wtpc else gf

    # ------------------------------------------------------------------
    # Monte-Carlo input resampling (``magmaFrame.py:449-472``)
    # ------------------------------------------------------------------
    def random_sample(
        self,
        errors: float | Mapping[str, float],
        seed: int | None = None,
        hash_cols: Sequence[str] | None = None,
    ) -> "GeoFrame":
        """Gaussian perturbation clipped at 0 (``magmaFrame.py:449-472``).

        Two noise sources:
        - default: seeded ``F.randn`` — fast, but Spark seeds its RNG
          per partition, so draws change with partitioning;
        - ``hash_cols``: md5-keyed Box-Muller on (hash_cols, species,
          seed) — a counter-based RNG in the Philox spirit. Draws are a
          pure function of row identity: identical under any partition /
          AQE split (the scale-safe choice) and reproducible in any
          engine with md5 (exact-oracle-checkable)."""
        exprs = {}
        key = None
        if hash_cols is not None:
            key = F.concat_ws(
                ":", *[F.col(c).cast("string") for c in hash_cols]
            )
        for i, s in enumerate(self.species):
            err = (
                float(errors.get(s, 0.0))
                if isinstance(errors, Mapping)
                else float(errors)
            )
            if err == 0.0:
                exprs[s] = F.col(s)
                continue
            if key is not None:
                noise = _hash_gauss(key, f"{s}:{seed if seed else 0}")
            else:
                noise = F.randn(seed + i if seed is not None else None)
            exprs[s] = F.greatest(F.lit(0.0), F.col(s) + noise * F.lit(err))
        return self._rebuild(exprs, self.units)

    # ------------------------------------------------------------------
    def to_pandas(self):
        return self.df.toPandas()

    def describe(self, percentiles: tuple = (0.25, 0.5, 0.75)) -> "DataFrame":
        """pandas-`describe()`-shaped summary of every species column
    (the reference inherits this from DataFrame —
    frame_basics.ipynb cell 8): one row per statistic (count, mean,
    std, min, the requested percentiles, max), one column per
    species, plus the leading ``summary`` label column.

    Computed as ONE Spark aggregation (map-side partial moments;
    percentiles via the exact linear-interpolation ``percentile``,
    the same rule pandas applies), then pivoted driver-side — the
    result is statistics × columns, bounded by construction."""
        stats: list[tuple[str, Column]] = []
        for s in self.species:
            stats += [
                (f"{s}|count", F.count(s).cast("double")),
                (f"{s}|mean", F.mean(s)),
                (f"{s}|std", F.stddev(s)),
                (f"{s}|min", F.min(F.col(s).cast("double"))),
                *[
                    (f"{s}|{p * 100:g}%", F.percentile(s, F.lit(p)))
                    for p in percentiles
                ],
                (f"{s}|max", F.max(F.col(s).cast("double"))),
            ]
        row = self.df.agg(*[c.alias(n) for n, c in stats]).collect()[0]
        # :g formatting matches pandas ("12.5%", not a truncated
        # "12%") and keeps close percentiles from colliding aliases
        order = ["count", "mean", "std", "min"] + [
            f"{p * 100:g}%" for p in percentiles
        ] + ["max"]
        out_rows = [
            tuple([stat] + [float(row[f"{s}|{stat}"])
                            if row[f"{s}|{stat}"] is not None else None
                            for s in self.species])
            for stat in order
        ]
        schema = ", ".join(
            ["summary string"] + [f"`{s}` double" for s in self.species]
        )
        return self.df.sparkSession.createDataFrame(out_rows, schema)

    def sample(self, name) -> "pd.Series":
        """One sample's composition as a pandas Series — the engine's
        twin of the reference's scalar path (a 1-row frame squeezed to
        a ``MagmaSeries``: ``MagmaSeries_baseclass.py:39``,
        ``thermometers/melt.py:106``). SURVEY §7 risk 2 scoped the
        dual scalar/columnar API out of the distributed engine (every
        model is columnar); this accessor closes the ergonomic gap
        for notebook spot-checks. Driver-side and bounded by
        construction (at most two rows fetched, filter pushed to the
        scan); raises KeyError when the sample is absent and
        ValueError when the name is ambiguous — silently picking one
        of several duplicate-named rows would be partition-order
        dependent."""
        if "name" not in self.df.columns:
            raise KeyError(
                "sample() needs a 'name' column but this frame has "
                f"none (columns: {self.df.columns}) — e.g. after an "
                "aggregation that dropped it"
            )
        rows = (
            self.df.filter(F.col("name") == F.lit(name)).limit(2).collect()
        )
        if not rows:
            raise KeyError(f"no sample named {name!r}")
        if len(rows) > 1:
            raise ValueError(
                f"sample name {name!r} is not unique in this frame; "
                "disambiguate upstream (select_samples) first"
            )
        row = rows[0].asDict()
        row.pop("name", None)
        import pandas as pd

        return pd.Series(row, name=name)

    def __repr__(self) -> str:
        return (
            f"GeoFrame(units={self.units.value!r}, "
            f"datatype={self.datatype.value!r}, species={self.species})"
        )
