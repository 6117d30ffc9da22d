"""Monte-Carlo error propagation (SURVEY §4.1 'Monte-Carlo loops').

The reference propagates uncertainties by caller-side loops over
``random_sample`` (``magmaFrame.py:449-472``) and model-error offsets
drawn via ``get_offset_parameters`` (``Fe_redox/Fe3Fe2_baseclass.py:
154-156``, unseeded ``np.random``). The Spark-native batch version:

1. replicate rows: ``crossJoin(spark.range(n_iterations))`` — rows
   scale linearly and shuffle-free;
2. perturb inputs with seeded ``F.randn`` (deterministic, SURVEY §7
   risk 7) per species / per model error;
3. run any operator chain on the replicated GeoFrame;
4. aggregate per sample: mean / stddev / percentiles in one shuffle.

Model-error curves (1-bar fit ``a·x + b·x² + c^(x+d)``,
``tools/model_errors.py:6-10`` + ``Fe_redox/Fe3Fe2_errors.py:9-40``)
are pure expressions; the >1 bar spline tier
(``Fe3Fe2_baseclass.py:123-145``) evaluates B-splines with a numpy
De Boor implementation inside
:func:`~magmapandas_spark.models.common.solver_column`.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models.common import as_col, solver_column

# 1-bar fitted error parameters (``Fe_redox/Fe3Fe2_errors.py:9-40``)
FE3FE2_ERROR_PARAMS_1BAR = {
    "borisov2018": (0.07881702, 0.02656421, 0.4333133, 3.4452295),
    "kress_carmichael1991": (7.05463020e-02, 2.43940927e-02,
                             9.88024806e-01, 2.25645326e02),
    "jayasuriya2004": (1.38784813e-01, 2.08193376e-02, 9.85875764e-01,
                       1.86942686e02),
    "putirka2016_6b": (5.72217982e-02, 5.16056662e-02, 9.85659083e-01,
                       1.81879745e02),
    "putirka2016_6c": (-3.34648539e-02, 7.56520883e-02, 9.84864214e-01,
                       1.55199181e02),
    "deng2020": (2.07517182e-01, 3.67122574e-03, 9.81786273e-01,
                 1.96442938e02),
    "oneill2006": (2.40671679e-01, 1.17056951e-02, 9.86394234e-01,
                   2.09113418e02),
    "oneill2018": (1.05928984e-02, 8.16688488e-02, 7.86674390e-01,
                   1.12117269e01),
    "armstrong2019": (1.85786883e-01, 3.01012716e-02, 9.80903060e-01,
                      1.38943588e02),
    "zhang2017": (1.71420881e-01, 5.50814149e-03, 9.85221818e-01,
                  2.35216497e02),
    "hirschmann2022": (0.06558719, 0.02810096, 0.56167845, 4.64421989),
    "sun2024": (0.05573283, 0.04157452, 0.4727692, 3.60686759),
}

# validation-dataset Fe3Fe2 limits (``Fe3Fe2_baseclass.py:15-16``)
VALIDATION_LIMITS_1BAR = (0.0351966873706004, 5.948890681577911)


def fe3fe2_error_expr(model: str, Fe3Fe2: Column) -> Column:
    """1σ error on Fe3Fe2 at 1 bar: a·x + b·x² + c^(x+d)
    (``tools/model_errors.py:6-10``)."""
    a, b, c, d = FE3FE2_ERROR_PARAMS_1BAR[model]
    x = Fe3Fe2
    return (
        F.lit(a) * x
        + F.lit(b) * x * x
        + F.pow(F.lit(c), x + F.lit(d))
    )


def deboor_splev(x: np.ndarray, t: np.ndarray, c: np.ndarray, k: int):
    """Evaluate a B-spline (scipy ``splev``-compatible tck) via
    De Boor's algorithm — pure numpy, vectorized over x."""
    x = np.asarray(x, dtype=float)
    n = len(t) - k - 1
    x_cl = np.clip(x, t[k], t[n])
    # knot span index
    idx = np.searchsorted(t, x_cl, side="right") - 1
    idx = np.clip(idx, k, n - 1)
    d = np.stack([c[j + idx - k] for j in range(k + 1)], axis=0)
    for r in range(1, k + 1):
        for j in range(k, r - 1, -1):
            left = t[idx + j - k]
            right = t[idx + j + 1 - r]
            denom = right - left
            alpha = np.where(denom > 0, (x_cl - left) / np.where(denom > 0, denom, 1.0), 0.0)
            d[j] = (1.0 - alpha) * d[j - 1] + alpha * d[j]
    return d[k]


def bspline_basis(
    x: np.ndarray, t: np.ndarray, k: int
) -> np.ndarray:
    """B-spline design matrix N[i, j] = B_j(x_i) for the knot vector
    ``t`` — built column-by-column with the De Boor evaluator (one-hot
    coefficient vectors), so basis and evaluation are definitionally
    consistent."""
    n = len(t) - k - 1
    cols = []
    for j in range(n):
        e = np.zeros(n)
        e[j] = 1.0
        cols.append(deboor_splev(x, t, e, k))
    return np.stack(cols, axis=1)


def calculate_spline_parameters(
    x, y, k: int = 3, n_knots: int = 8, smoothing: float = 0.0
):
    """Fit a smoothing B-spline — the pure-numpy stand-in for the
    reference's scipy ``splrep`` (``tools/model_errors.py:58-68``;
    scipy is absent in this environment).

    Least-squares regression spline on quantile-placed interior knots
    with an Eilers-Marx P-spline second-difference penalty
    (``smoothing`` ≥ 0); returns a ``(t, c, k)`` triple evaluable by
    :func:`deboor_splev` — the same representation as the shipped
    published error splines.

    This runs driver-side on AGGREGATED data by design: error curves
    are fitted to running-stddev output (thousands of points at most),
    never to raw samples — the heavy reduction happens in Spark first."""
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    order = np.argsort(x, kind="stable")
    x, y = x[order], y[order]
    xmin, xmax = float(x[0]), float(x[-1])
    interior = np.unique(
        np.quantile(x, np.linspace(0.0, 1.0, n_knots + 2)[1:-1])
    )
    interior = interior[(interior > xmin) & (interior < xmax)]
    t = np.concatenate(
        [[xmin] * (k + 1), interior, [xmax] * (k + 1)]
    )
    N = bspline_basis(x, t, k)
    n = N.shape[1]
    A = N.T @ N
    rhs = N.T @ y
    if smoothing > 0.0 and n > 2:
        D = np.diff(np.eye(n), n=2, axis=0)
        A = A + smoothing * (D.T @ D)
    # tiny ridge keeps the normal equations solvable when a basis
    # function covers no data points
    A = A + 1e-12 * np.eye(n)
    c = np.linalg.solve(A, rhs)
    return t, c, k


def fit_error_spline(
    df: DataFrame, x_col: str, y_col: str, k: int = 3,
    n_knots: int = 8, smoothing: float = 0.0,
    max_fit_rows: int = 100_000,
):
    """Spark surface for fitting a model-error spline: collect the
    (small, already-aggregated) running-σ table and fit
    :func:`calculate_spline_parameters`. The returned ``(t, c, k)``
    plugs into :func:`fe3fe2_error_np` / :func:`deboor_splev` exactly
    like the shipped published splines.

    The input is expected to be a pre-aggregated error table (running-σ
    output — thousands of points). ``max_fit_rows`` enforces that
    contract: pointing this at an unaggregated corpus-scale frame
    raises instead of OOMing the driver (same bounded-collect
    discipline as the IVF fit sample, similarity.py)."""
    pdf = (
        df.select(x_col, y_col).dropna()
        .limit(max_fit_rows + 1).toPandas()
    )
    if len(pdf) > max_fit_rows:
        raise ValueError(
            f"fit_error_spline: input has more than "
            f"max_fit_rows={max_fit_rows} rows — error-curve fits run "
            f"driver-side on AGGREGATED data (e.g. running_stddev "
            f"output). Aggregate first, or raise max_fit_rows "
            f"explicitly if the table is genuinely this large."
        )
    return calculate_spline_parameters(
        pdf[x_col].to_numpy(), pdf[y_col].to_numpy(),
        k=k, n_knots=n_knots, smoothing=smoothing,
    )


def mc_replicate(
    df: DataFrame, n_iterations: int, iter_col: str = "mc_iter"
) -> DataFrame:
    """Row replication for MC: one extra narrow dimension, no shuffle."""
    spark = df.sparkSession
    iters = spark.range(n_iterations).withColumnRenamed("id", iter_col)
    return df.crossJoin(iters)


def mc_perturb(
    gf: GeoFrame,
    errors: float | dict[str, float],
    seed: int = 42,
    hash_cols: Sequence[str] | None = None,
) -> GeoFrame:
    """Gaussian input perturbation clipped at 0
    (``magmaFrame.py:449-472``). With ``hash_cols`` the draws come from
    the md5 counter RNG — partition-independent and oracle-checkable;
    otherwise seeded ``F.randn``."""
    return gf.random_sample(errors, seed=seed, hash_cols=hash_cols)


def mc_summarize(
    result: DataFrame,
    keys: Sequence[str],
    value_cols: Sequence[str],
    percentiles: Sequence[float] = (0.025, 0.5, 0.975),
    exact_percentiles: bool = False,
) -> DataFrame:
    """Per-sample summary: mean, stddev, requested percentiles — one
    shuffle on the sample key (map-side partial aggregation).

    ``exact_percentiles`` switches approx_percentile (the 100 TB
    default: bounded-memory sketch) to the exact interpolated
    percentile (deterministic; what the oracle computes)."""
    aggs = []
    for v in value_cols:
        aggs.append(F.avg(v).alias(f"{v}_mean"))
        aggs.append(F.stddev(v).alias(f"{v}_std"))
        for p in percentiles:
            alias = f"{v}_p{str(p).replace('0.', '')}"
            if exact_percentiles:
                aggs.append(F.percentile(v, float(p)).alias(alias))
            else:
                aggs.append(
                    F.percentile_approx(v, float(p), 10000).alias(alias)
                )
    return result.groupBy(*keys).agg(*aggs)


def monte_carlo(
    melt: GeoFrame,
    computation: Callable[[GeoFrame], DataFrame],
    errors: float | dict[str, float],
    n_iterations: int = 100,
    value_cols: Sequence[str] = ("T_K",),
    keys: Sequence[str] = ("name",),
    seed: int = 42,
    percentiles: Sequence[float] = (0.025, 0.5, 0.975),
    hash_noise: bool = False,
    exact_percentiles: bool = False,
) -> DataFrame:
    """Full MC pipeline: replicate → perturb → compute → summarize.

    ``computation`` receives the perturbed GeoFrame and returns a
    DataFrame with ``value_cols`` (e.g. a thermometer or Fe3Fe2
    chain). ``hash_noise`` keys the Gaussian draws on
    (keys, iteration, species) via the md5 counter RNG — deterministic
    under repartitioning and reproducible by the DuckDB oracle."""
    replicated = mc_replicate(melt.df, n_iterations)
    gf = GeoFrame(
        replicated, units=melt.units, datatype=melt.datatype,
        species=melt.species,
    )
    hash_cols = (*keys, "mc_iter") if hash_noise else None
    perturbed = mc_perturb(gf, errors, seed=seed, hash_cols=hash_cols)
    result = computation(perturbed)
    return mc_summarize(result, keys, value_cols, percentiles,
                        exact_percentiles=exact_percentiles)


VALIDATION_LIMITS_HIGH_PRESSURE = (0.052631579, 2.160641174)


def _load_hp_splines():
    import json
    from importlib.resources import files

    path = files("magmapandas_spark.models").joinpath(
        "data/fe3fe2_error_splines.json"
    )
    with path.open() as f:
        raw = json.load(f)
    return {
        m: (np.asarray(d["t"]), np.asarray(d["c"]), int(d["k"]))
        for m, d in raw.items()
    }


_HP_SPLINES: dict | None = None


def fe3fe2_error_np(model: str, Fe3Fe2, P_bar=None) -> np.ndarray:
    """1σ Fe3Fe2 error — full reference semantics
    (``Fe_redox/Fe3Fe2_baseclass.py:94-145``): fitted curve at 1 bar,
    B-spline representation of the >1 bar validation running-σ above
    (spline params = published fit data, shipped as
    ``models/data/fe3fe2_error_splines.json``; evaluated with the
    numpy De Boor kernel — no scipy)."""
    global _HP_SPLINES
    x = np.atleast_1d(np.asarray(Fe3Fe2, dtype=float))
    a, b, c, d = FE3FE2_ERROR_PARAMS_1BAR[model]
    err = a * x + b * x * x + c ** (x + d)
    if P_bar is None:
        return err
    if _HP_SPLINES is None:
        _HP_SPLINES = _load_hp_splines()
    t, coef, k = _HP_SPLINES[model]
    hp_err = deboor_splev(x, t, coef, k)
    P = np.broadcast_to(np.atleast_1d(np.asarray(P_bar, dtype=float)),
                        x.shape)
    return np.where(P > 1.0, hp_err, err)


def fe3fe2_error_column(model: str, Fe3Fe2, P_bar) -> Column:
    """Arrow-vectorized 1σ Fe3Fe2 error column — full reference
    semantics (fitted curve at 1 bar, published HP spline above; see
    :func:`fe3fe2_error_np`)."""
    return solver_column(
        lambda a: fe3fe2_error_np(model, a["x"], a["p"]),
        {"x": as_col(Fe3Fe2), "p": as_col(P_bar)},
    )


def _sql_deboor(tk, c, k: int, idx: int, x: str) -> str:
    """Unrolled De Boor triangle for one knot span — mirrors
    :func:`deboor_splev` with all knots/coefficients as literals."""
    d = {j: repr(float(c[j + idx - k])) for j in range(k + 1)}
    for r in range(1, k + 1):
        for j in range(k, r - 1, -1):
            left = float(tk[idx + j - k])
            right = float(tk[idx + j + 1 - r])
            denom = right - left
            if denom > 0:
                alpha = f"(({x} - {left!r}) / {denom!r})"
            else:
                alpha = "0.0"
            d[j] = f"((1.0 - {alpha}) * {d[j - 1]} + {alpha} * {d[j]})"
    return d[k]


def sql_fe3fe2_error(model: str, x: str, p: str) -> str:
    """SQL twin of :func:`fe3fe2_error_np`: 1-bar fitted curve, De Boor
    spline above 1 bar (span CASE + clip mirroring searchsorted)."""
    global _HP_SPLINES
    if _HP_SPLINES is None:
        _HP_SPLINES = _load_hp_splines()
    a, b, c, d0 = FE3FE2_ERROR_PARAMS_1BAR[model]
    curve = (
        f"(({a!r} * {x} + ({b!r} * {x}) * {x})"
        f" + POWER({c!r}, {x} + {d0!r}))"
    )
    tk, coef, k = _HP_SPLINES[model]
    n = len(tk) - k - 1
    xcl = (
        f"LEAST(GREATEST({x}, {float(tk[k])!r}), {float(tk[n])!r})"
    )
    spans = list(range(k, n))
    if len(spans) == 1:
        spline = _sql_deboor(tk, coef, k, spans[0], xcl)
    else:
        cases = " ".join(
            f"WHEN {xcl} < {float(tk[i + 1])!r} THEN"
            f" {_sql_deboor(tk, coef, k, i, xcl)}"
            for i in spans[:-1]
        )
        spline = (
            f"(CASE {cases} ELSE"
            f" {_sql_deboor(tk, coef, k, spans[-1], xcl)} END)"
        )
    return f"(CASE WHEN {p} > 1.0 THEN {spline} ELSE {curve} END)"
