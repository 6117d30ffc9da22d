#!/usr/bin/env python
"""Capture before/after physical plans around the change that routes
the model tier's (T, P) Arrow UDFs (exact QFM and IW fO2, the
sun2024/deng Γ), the ``fo2_grid_column`` interpolation and the Fe3Fe2
model-error UDF through ``models.common.solver_column``, and drops the
round-robin fan-out from the synthetic-melt build.

Same layout as ``plans/r19/capture_plans.py``: ``melt_build`` holds the
plan of the DataFrame ``synthetic_melt`` persists; each other file
holds the plan of every DataFrame its construction materializes, then
the final plan. The files are the registry queries ``qfm_exact``,
``iw_exact`` and ``fe3fe2_errors``, plus two library calls on the melt:
``sun2024_deng`` (``calculate_Fe3Fe2(model="sun2024_deng")`` on the
default QFM buffer, which runs the Γ and QFM UDFs) and ``fo2_grid`` (one
``fo2_grid_column`` projection). "Before" plans come from running this
script in a checkout of the parent commit with MODE=before, "after"
plans from the final tree. Run from the repo root on the sf0.01
tables:

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<tables>/sf0.01 \\
        MODE=after python plans/r20/capture_plans.py

With both modes captured, ``python plans/r20/capture_plans.py diff``
prints, for each file, its ArrowEvalPython, Exchange and Sort counts on
each side (a cached relation's plan counted once, in ``melt_build``,
not under every query that reads it), then every line that differs
once expression ids, plan ids and UDF names are masked and tree
indentation is stripped.
"""

from __future__ import annotations

import difflib
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path[:0] = [str(ROOT), str(ROOT / "plans" / "r15")]

from capture_plans import describe  # noqa: E402  (plans/r15)

MODE = os.environ.get("MODE", "after")
OUT = Path(os.environ.get("PLANS_OUT", Path(__file__).resolve().parent))
QUERIES = ("qfm_exact", "iw_exact", "fe3fe2_errors")
CALLS = ("sun2024_deng", "fo2_grid")
ACTIONS = ("persist", "count", "localCheckpoint", "isEmpty", "collect")
NODES = ("ArrowEvalPython", "Exchange", "Sort")
# the Python functions a plan names as UDFs, before and after
UDF_NAMES = r"\b(_qfm_udf|_iw_udf|_sun2024_gamma_deng_udf|interp_udf|_err|solver)\("


def library_call(name: str, spark, sf_dir: str):
    from magmapandas_spark.models import fe3fe2, fo2
    from magmapandas_spark.relational import suite

    melt = suite.synthetic_melt(spark, sf_dir)
    if name == "sun2024_deng":
        return fe3fe2.calculate_Fe3Fe2(melt, 1473.15, "P_bar",
                                       model="sun2024_deng")
    column = fo2.fo2_grid_column(spark)
    return melt.df.select("name", column(1473.15, "P_bar").alias("fO2"))


def own_lines(text: str) -> list[str]:
    """Plan lines less every subtree under an ``InMemoryRelation``."""
    out, cut = [], None
    for line in text.splitlines():
        depth = len(line) - len(line.lstrip(" :+|-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        out.append(line)
    return out


def masked(lines: list[str]) -> list[str]:
    """Lines with ids and UDF names masked and tree indentation
    stripped, so a node removed from a chain does not shift the lines
    under it."""
    text = re.sub(r"(#|plan_id=)\d+", r"\1N", "\n".join(lines))
    text = re.sub(UDF_NAMES, "udf(", text)
    return [line.strip(" :+|-") for line in text.splitlines()]


def read(name: str, mode: str) -> list[str]:
    return (OUT / f"{name}_{mode}.txt").read_text().split("\n", 1)[1] \
        .splitlines()


def node_counts(lines: list[str]) -> dict[str, int]:
    names = [m.group(1) for line in masked(own_lines("\n".join(lines)))
             if (m := re.match(r"(?:\*\(\d+\) )?(\w+) ", line))]
    return {op: names.count(op) for op in NODES}


def main() -> None:
    from magmapandas_spark.relational import suite
    from magmapandas_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name=f"r20-plan-capture-{MODE}")
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

    def write(name: str, text: str) -> None:
        # the tables' location is the host's, not the plan's
        text = text.replace(str(Path(sf_dir).parent), "<tables>")
        (OUT / f"{name}_{MODE}.txt").write_text(text)
        print("wrote", f"{name}_{MODE}.txt", len(text), "bytes")

    for name in ACTIONS:
        setattr(DataFrame, name, capturing(name))
    try:
        captured.clear()
        suite.reset_melt_cache(spark, sf_dir)
        suite.synthetic_melt(spark, sf_dir)
        write("melt_build",
              f"# melt_build {MODE.upper()}: the DataFrame synthetic_melt "
              "persists, defaultParallelism "
              f"{spark.sparkContext.defaultParallelism}\n\n"
              + "\n\n".join(captured) + "\n")
        for name in QUERIES + CALLS:
            captured.clear()
            if name in QUERIES:
                df = suite.queries()[name](spark, sf_dir)
            else:
                df = library_call(name, spark, sf_dir)
            write(name,
                  f"# {name} {MODE.upper()}: {len(captured)} DataFrames "
                  "materialized during construction, then the final plan"
                  "\n\n"
                  + "\n\n".join(captured + [describe("final plan", df)])
                  + "\n")
    finally:
        for name, fn in originals.items():
            setattr(DataFrame, name, fn)


if __name__ == "__main__":
    if sys.argv[1:] == ["diff"]:
        for name in ("melt_build",) + QUERIES + CALLS:
            before, after = read(name, "before"), read(name, "after")
            print(f"{name}: {node_counts(before)} -> {node_counts(after)}")
            for line in difflib.unified_diff(masked(before), masked(after),
                                             n=0, lineterm=""):
                if not line.startswith(("---", "+++", "@@")):
                    print("   ", line)
    else:
        main()
