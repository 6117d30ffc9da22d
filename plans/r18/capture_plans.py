#!/usr/bin/env python
"""Capture before/after physical plans of the solver-tier queries whose
Arrow UDFs moved to ``models.common.solver_column``: the seven gate
queries below plus one ``volatile_solubility`` call (no gate query runs
it). Their plans must not change.

Same layout as ``plans/r17/capture_plans.py``, with ``describe`` from
``plans/r15/capture_plans.py``: the plan of every DataFrame the
query's construction materializes, then the final plan. "Before" plans
come from running this script in a checkout of the parent commit with
MODE=before, "after" plans from the final tree. Run from the repo root
on the sf0.01 tables:

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<tables>/sf0.01 \\
        MODE=after python plans/r18/capture_plans.py

With both modes captured, ``python plans/r18/capture_plans.py same``
prints, for each query, its count of Python-eval nodes on each side and
whether its two files agree once expression ids (``#123``), plan ids
and the UDF's Python name (the closure the call site used to define,
``solver`` after the move) are masked.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path[:0] = [str(ROOT), str(ROOT / "plans" / "r15")]

from capture_plans import describe  # noqa: E402  (plans/r15)

MODE = os.environ.get("MODE", "after")
OUT = Path(os.environ.get("PLANS_OUT", Path(__file__).resolve().parent))
QUERIES = ("kd_toplis_iteration", "volatile_saturation_im",
           "allison_saturation", "isobar_grid", "fe3fe2_deng2020",
           "fe3fe2_solvers2", "kd_blundy_saper", "volatile_solubility")
ACTIONS = ("count", "localCheckpoint", "isEmpty", "collect")
UDF_NAMES = re.compile(r"\b(udf|sat_udf|mixed_udf|sol_udf|grid_udf|solver)\(")


def masked(name: str, mode: str) -> str:
    text = (OUT / f"{name}_{mode}.txt").read_text().split("\n", 1)[1]
    return UDF_NAMES.sub("UDF(", re.sub(r"(#|plan_id=)\d+", r"\1N", text))


def build(spark, name: str, sf_dir: str):
    from magmapandas_spark.models import volatiles
    from magmapandas_spark.relational import geochem, suite

    if name == "volatile_solubility":
        return volatiles.volatile_solubility(
            suite.synthetic_melt(spark, sf_dir), P_bar="P_bar",
            T_K=1473.15, x_fluid=0.5)
    return geochem.QUERIES[name][0](spark, sf_dir)


def main() -> None:
    from magmapandas_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name=f"r18-plan-capture-{MODE}")
    # print every field of the UDF's input struct, not the first 25
    spark.conf.set("spark.sql.debug.maxToStringFields", 1000)
    DataFrame = type(spark.range(1))  # the session's concrete class
    captured: list[str] = []
    originals = {name: getattr(DataFrame, name) for name in ACTIONS}

    def capturing(name):
        def action(self, *args, **kwargs):
            label = f"{name}()"
            if name == "localCheckpoint":
                eager = kwargs.get("eager", args[0] if args else True)
                label = f"localCheckpoint(eager={eager})"
            captured.append(describe(label, self))
            return originals[name](self, *args, **kwargs)

        return action

    for name in ACTIONS:
        setattr(DataFrame, name, capturing(name))
    try:
        for name in QUERIES:
            captured.clear()
            df = build(spark, name, sf_dir)
            text = (
                f"# {name} {MODE.upper()}: {len(captured)} DataFrames "
                "materialized during construction, then the final plan\n\n"
                + "\n\n".join(captured + [describe("final plan", df)])
                + "\n"
            )
            (OUT / f"{name}_{MODE}.txt").write_text(text)
            print("wrote", f"{name}_{MODE}.txt", len(text), "bytes")
    finally:
        for name, fn in originals.items():
            setattr(DataFrame, name, fn)


if __name__ == "__main__":
    if sys.argv[1:] == ["same"]:
        for name in QUERIES:
            before, after = masked(name, "before"), masked(name, "after")
            print(name, "ArrowEvalPython",
                  before.count("ArrowEvalPython"), "->",
                  after.count("ArrowEvalPython"), before == after)
    else:
        main()
