"""Driver-side plotting shims for the geoplot layer.

The engine computes every *data-producing* side of the reference's
figure surface distributed (TAS classification, chondrite/MORB
normalization, calibration flags — see ``operators/geochem_aux.py``
and ``models/thermometers.py``); rendering is deliberately
driver-side on COLLECTED, bounded pandas, mirroring the reference's
matplotlib layer (``geoplot/plot_layout.py:1-303``,
``geoplot/TAS_diagram.py:9-67``,
``model_calibrations/plot_calibration.py:75-139``). A figure is by
definition a driver-sized artifact; the cluster's job ends at the
aggregated frame.

Two tiers per figure, so the plotting logic is testable in
environments without matplotlib (this container has none):

- ``*_spec(df)`` → a plain dict describing the figure completely
  (axes, boundary polylines, labelled series, scales). Pure python,
  deterministic, unit-tested.
- ``tas_plot`` / ``spider_plot`` / ``plot_calibration`` → render the
  spec to a matplotlib Figure. Import-gated: a clear RuntimeError
  names the missing dependency instead of an ImportError mid-draw.

Every entry accepts either a Spark DataFrame (collected through a
bounded ``limit``) or a pre-collected pandas frame, so notebook flows
written against the reference port directly:

    >>> cls = tas_classification(melt.df)          # distributed
    >>> fig = tas_plot(cls)                        # driver-side
"""

from __future__ import annotations

import warnings
from typing import Any

#: rows collected for a scatter by default — figures saturate long
#: before this; pass a pre-aggregated/sampled frame for more control
MAX_PLOT_ROWS = 5000


def _collect(df, max_rows: int):
    """Spark DataFrame → bounded pandas; a pre-collected pandas frame
    is bounded by the same rule (the max_rows contract holds for both
    documented input shapes)."""
    import pandas as pd

    if isinstance(df, pd.DataFrame):
        pdf = df
    else:
        pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        warnings.warn(
            f"plot input exceeds max_rows={max_rows}; plotting the "
            "first slice only — aggregate or sample upstream for a "
            "representative figure"
        )
        pdf = pdf.iloc[:max_rows]
    return pdf


def _require_matplotlib():
    try:
        import matplotlib

        matplotlib.use("Agg", force=False)
        import matplotlib.pyplot as plt  # noqa: F401

        return matplotlib
    except ImportError as exc:  # pragma: no cover - env without mpl
        raise RuntimeError(
            "matplotlib is required for figure rendering but is not "
            "installed; the *_spec() twins return the full figure "
            "description without it"
        ) from exc


def subscript_numbers(compound: str) -> str:
    """Oxide formula → mathtext with digit subscripts
    ('Al2O3' → 'Al$_2$O$_3$'); mirrors
    ``geoplot/plot_layout.py:267-276``'s axis-label convention."""
    out = []
    for ch in compound:
        out.append(f"$_{ch}$" if ch.isdigit() else ch)
    return "".join(out)


# ---------------------------------------------------------------------
# TAS diagram (reference geoplot/TAS_diagram.py:9-67: boundary line
# plot + rock-name labels on a total-alkali vs silica grid)
# ---------------------------------------------------------------------

def _tas_boundary_segments() -> list[tuple[tuple, tuple]]:
    """Unique undirected boundary edges of the TAS grid, derived from
    the SAME polygon/half-plane rule data the distributed classifier
    evaluates (operators/geochem_aux.py::_TAS_POLYGONS/_TAS_OPEN) —
    one source of truth for classification and drawing."""
    from magmapandas_spark.operators.geochem_aux import (
        _TAS_OPEN,
        _TAS_POLYGONS,
    )

    seen = set()
    segs = []

    def add(a, b):
        key = (min(a, b), max(a, b))
        if key not in seen:
            seen.add(key)
            segs.append((key[0], key[1]))

    for _, poly in _TAS_POLYGONS:
        for i in range(len(poly)):
            add(tuple(poly[i]), tuple(poly[(i + 1) % len(poly)]))
    # open-field dividers: the anchor pairs of every directed-line
    # side test double as the drawn boundary segments
    for _, groups in _TAS_OPEN:
        for group in groups:
            for test in group:
                if test[0] in ("side", "sidege"):
                    add(tuple(test[1]), tuple(test[2]))
    return segs


def _polygon_centroid(poly) -> tuple[float, float]:
    xs = [p[0] for p in poly]
    ys = [p[1] for p in poly]
    return (sum(xs) / len(xs), sum(ys) / len(ys))


def _tas_field_labels(abbreviate: bool = False) -> list[dict]:
    """One label per TAS field at a derived anchor (convex-part
    centroid for polygon fields, fixed interior anchors for the open
    fields). Abbreviations are initial-letters of the hyphen/space
    split — derived, not a lookup table."""
    from magmapandas_spark.operators.geochem_aux import (
        _TAS_OPEN,
        _TAS_POLYGONS,
    )

    anchors: dict[str, tuple[float, float]] = {}
    for name, poly in _TAS_POLYGONS:
        # concave fields are split into convex parts — anchor on the
        # FIRST (largest) part only
        anchors.setdefault(name, _polygon_centroid(poly))
    open_anchors = {
        "Foidite": (44.0, 13.0),
        "Phonolite": (56.5, 14.5),
        "Trachyte": (64.0, 10.5),
        "Rhyolite": (74.0, 7.5),
    }
    for name, _ in _TAS_OPEN:
        anchors[name] = open_anchors[name]

    def abbr(name: str) -> str:
        parts = name.replace("-", " ").split()
        return "-".join(p[:2].capitalize() for p in parts)

    return [
        {"name": (abbr(n) if abbreviate else n), "x": x, "y": y}
        for n, (x, y) in anchors.items()
    ]


def tas_spec(
    df,
    x_col: str = "sio2_n",
    y_col: str = "alkali_n",
    class_col: str = "rock",
    labels: bool = True,
    abbreviate: bool = False,
    max_rows: int = MAX_PLOT_ROWS,
) -> dict[str, Any]:
    """Complete figure description of a TAS diagram: grid boundary
    segments, optional field labels, and the sample scatter grouped
    by classification. ``df`` is typically
    ``tas_classification(melt_df)`` output (Spark or pandas)."""
    pdf = _collect(df, max_rows)
    series = []
    if class_col in pdf.columns:
        for name, grp in pdf.groupby(class_col, dropna=False, sort=True):
            series.append(
                {
                    "label": str(name),
                    "x": [float(v) for v in grp[x_col]],
                    "y": [float(v) for v in grp[y_col]],
                }
            )
    else:
        series.append(
            {
                "label": "samples",
                "x": [float(v) for v in pdf[x_col]],
                "y": [float(v) for v in pdf[y_col]],
            }
        )
    return {
        "kind": "tas",
        "xlabel": subscript_numbers("SiO2") + " (wt.%)",
        "ylabel": subscript_numbers("Na2O") + " + "
        + subscript_numbers("K2O") + " (wt.%)",
        "xlim": (35.0, 80.0),
        "ylim": (0.0, 16.5),
        "boundaries": _tas_boundary_segments(),
        "field_labels": _tas_field_labels(abbreviate) if labels else [],
        "series": series,
    }


def tas_plot(df, ax=None, **spec_kwargs):
    """Render a TAS diagram; returns (fig, ax). See :func:`tas_spec`
    for the data contract."""
    _require_matplotlib()
    import matplotlib.pyplot as plt

    spec = tas_spec(df, **spec_kwargs)
    if ax is None:
        fig, ax = plt.subplots(figsize=(6.5, 5.0))
    else:
        fig = ax.figure
    for (x0, y0), (x1, y1) in spec["boundaries"]:
        ax.plot([x0, x1], [y0, y1], "-", color="k", linewidth=0.8)
    for lab in spec["field_labels"]:
        ax.text(
            lab["x"], lab["y"], lab["name"],
            fontsize="x-small", ha="center", clip_on=True,
        )
    for s in spec["series"]:
        ax.scatter(s["x"], s["y"], s=14, label=s["label"], alpha=0.8)
    ax.set_xlim(*spec["xlim"])
    ax.set_ylim(*spec["ylim"])
    ax.set_xlabel(spec["xlabel"])
    ax.set_ylabel(spec["ylabel"])
    if spec["series"]:
        ax.legend(fontsize="x-small", frameon=True)
    return fig, ax


# ---------------------------------------------------------------------
# Spider (reservoir-normalized multi-element) diagram — the rendering
# twin of operators/geochem_aux.py::reservoir_normalize /
# q_chondrite_normalize
# ---------------------------------------------------------------------

def spider_spec(
    df,
    element_col: str = "element",
    value_col: str = "norm_value",
    sample_col: str = "name",
    element_order: list[str] | None = None,
    suffix: str = "_N",
    max_rows: int = MAX_PLOT_ROWS,
) -> dict[str, Any]:
    """Figure description of a spider diagram. Accepts EITHER shape:

    - wide (the ``chondrite_normalize`` /
      :func:`~magmapandas_spark.operators.geochem_aux.reservoir_normalize`
      output: one row per sample, one ``<element><suffix>`` column per
      element) — detected when ``element_col`` is absent;
    - long (one row per sample × element in
      ``element_col``/``value_col``).

    x is the element sequence, one polyline per sample, log-scaled y."""
    pdf = _collect(df, max_rows)
    if element_col not in pdf.columns:
        norm_cols = [c for c in pdf.columns if c.endswith(suffix)]
        if not norm_cols:
            raise ValueError(
                f"neither a {element_col!r} column nor any "
                f"*{suffix} columns found"
            )
        if element_order is None:
            element_order = [c[: -len(suffix)] for c in norm_cols]
        series = [
            {
                "label": str(row[sample_col]),
                "x": list(range(len(element_order))),
                "y": [float(row[f"{e}{suffix}"]) for e in element_order],
            }
            for _, row in pdf.iterrows()
        ]
        return {
            "kind": "spider",
            "elements": element_order,
            "ylabel": "sample / reservoir",
            "yscale": "log",
            "series": series,
        }
    if element_order is None:
        element_order = list(dict.fromkeys(pdf[element_col]))
    pos = {e: i for i, e in enumerate(element_order)}
    skipped = sorted(
        (e for e in set(pdf[element_col]) - set(pos) if e is not None),
        key=str,
    )
    if skipped:
        warnings.warn(
            "spider_spec: value rows for elements not in "
            f"element_order were dropped: {skipped} — a typo'd "
            "element list would otherwise yield a plausible-looking "
            "but incomplete figure",
            stacklevel=2,
        )
    series = []
    for name, grp in pdf.groupby(sample_col, sort=True):
        pts = sorted(
            (
                (pos[e], float(v))
                for e, v in zip(grp[element_col], grp[value_col])
                if e in pos
            ),
        )
        series.append(
            {
                "label": str(name),
                "x": [p[0] for p in pts],
                "y": [p[1] for p in pts],
            }
        )
    return {
        "kind": "spider",
        "elements": element_order,
        "ylabel": "sample / reservoir",
        "yscale": "log",
        "series": series,
    }


def spider_plot(df, ax=None, **spec_kwargs):
    """Render a spider diagram; returns (fig, ax)."""
    _require_matplotlib()
    import matplotlib.pyplot as plt

    spec = spider_spec(df, **spec_kwargs)
    if ax is None:
        fig, ax = plt.subplots(figsize=(7.0, 4.5))
    else:
        fig = ax.figure
    for s in spec["series"]:
        ax.plot(s["x"], s["y"], "-o", markersize=3, linewidth=0.9,
                label=s["label"], alpha=0.75)
    ax.set_yscale(spec["yscale"])
    ax.set_xticks(range(len(spec["elements"])))
    ax.set_xticklabels(
        [subscript_numbers(e) for e in spec["elements"]],
        rotation=45, ha="right", fontsize="x-small",
    )
    ax.set_ylabel(spec["ylabel"])
    if len(spec["series"]) <= 12:
        ax.legend(fontsize="x-small", frameon=True)
    return fig, ax


# ---------------------------------------------------------------------
# Calibration-range plot (reference
# model_calibrations/plot_calibration.py:75-139): user compositions
# against the model's calibration window, split by the engine's
# calibration flag column (models/thermometers.py::calibration_flag)
# ---------------------------------------------------------------------

def calibration_spec(
    df,
    x_col: str,
    y_col: str,
    flag_col: str = "in_range",
    model: str | None = None,
    max_rows: int = MAX_PLOT_ROWS,
) -> dict[str, Any]:
    """Figure description of a calibration scatter: two series —
    in-range and out-of-range samples — on (x_col, y_col), from a
    frame carrying the distributed calibration flag. The reference
    additionally overlays its packaged experimental calibration
    datasets; those CSVs are reference package data and out of this
    engine's scope — the flag column carries the same verdict."""
    pdf = _collect(df, max_rows)
    series = []
    if flag_col in pdf.columns:
        for flag, label in ((True, "in calibration"),
                            (False, "out of calibration")):
            grp = pdf[pdf[flag_col] == flag]
            series.append(
                {
                    "label": label,
                    "x": [float(v) for v in grp[x_col]],
                    "y": [float(v) for v in grp[y_col]],
                }
            )
        # rows whose flag is null/NaN belong to NEITHER == comparison
        # above — surface them as a third series instead of silently
        # dropping them from the figure
        unk = pdf[pdf[flag_col].isna()]
        if len(unk):
            series.append(
                {
                    "label": "flag unknown",
                    "x": [float(v) for v in unk[x_col]],
                    "y": [float(v) for v in unk[y_col]],
                }
            )
    else:
        series.append(
            {
                "label": "samples",
                "x": [float(v) for v in pdf[x_col]],
                "y": [float(v) for v in pdf[y_col]],
            }
        )
    title = "calibration data" if model is None else f"{model} calibration"
    return {
        "kind": "calibration",
        "xlabel": subscript_numbers(x_col),
        "ylabel": subscript_numbers(y_col),
        "title": title,
        "series": series,
    }


def calibration_PT_spec(
    df,
    t_col: str = "T_K",
    p_col: str = "P_bar",
    flag_col: str = "in_range",
    model: str | None = None,
    max_rows: int = MAX_PLOT_ROWS,
) -> dict[str, Any]:
    """P–T panel twin of the reference's ``plot_calibration_PT``
    (``model_calibrations/plot_calibration.py:140-219``): temperature
    in °C against pressure in kbar (the reference's axis convention),
    split by the engine's calibration flag. The reference overlays
    its packaged experimental datasets; the flag column carries that
    verdict here (see :func:`calibration_spec`)."""
    pdf = _collect(df, max_rows).copy()
    pdf["_t_c"] = pdf[t_col].astype(float) - 273.15
    pdf["_p_kbar"] = pdf[p_col].astype(float) / 1e3
    spec = calibration_spec(
        pdf, "_t_c", "_p_kbar", flag_col=flag_col, model=model,
        max_rows=max_rows,
    )
    spec["kind"] = "calibration_PT"
    spec["xlabel"] = "T (\N{DEGREE SIGN}C)"
    spec["ylabel"] = "P (kbar)"
    # the reference inverts the pressure axis so P increases DOWNWARD
    # (depth convention — plot_calibration.py:210's invert_yaxis);
    # record it in the spec so every renderer honors it
    spec["invert_y"] = True
    return spec


def plot_calibration_PT(df, ax=None, **spec_kwargs):
    """Render the P–T calibration panel; returns (fig, ax)."""
    _require_matplotlib()
    import matplotlib.pyplot as plt

    spec = calibration_PT_spec(df, **spec_kwargs)
    if ax is None:
        fig, ax = plt.subplots(figsize=(5.5, 5.2))
    else:
        fig = ax.figure
    markers = {"in calibration": "o", "out of calibration": "x"}
    for s in spec["series"]:
        ax.scatter(s["x"], s["y"], s=16, label=s["label"],
                   marker=markers.get(s["label"], "o"), alpha=0.8)
    ax.set_xlabel(spec["xlabel"])
    ax.set_ylabel(spec["ylabel"])
    if spec.get("invert_y"):
        ax.invert_yaxis()
    ax.set_title(spec["title"], fontsize="small")
    ax.legend(fontsize="x-small", frameon=True, fancybox=False)
    return fig, ax


def plot_calibration(
    df, x_col: str, y_col: str, ax=None, **spec_kwargs
):
    """Render the calibration scatter; returns (fig, ax)."""
    _require_matplotlib()
    import matplotlib.pyplot as plt

    spec = calibration_spec(df, x_col, y_col, **spec_kwargs)
    if ax is None:
        fig, ax = plt.subplots(figsize=(5.5, 5.0))
    else:
        fig = ax.figure
    markers = {"in calibration": "o", "out of calibration": "x"}
    for s in spec["series"]:
        ax.scatter(s["x"], s["y"], s=16, label=s["label"],
                   marker=markers.get(s["label"], "o"), alpha=0.8)
    ax.set_xlabel(spec["xlabel"])
    ax.set_ylabel(spec["ylabel"])
    ax.set_title(spec["title"], fontsize="small")
    ax.legend(fontsize="x-small", frameon=True, fancybox=False)
    return fig, ax
