#!/usr/bin/env python
"""Capture before/after physical plans of the synthetic-melt build and
the four ``geochem_models`` benchmark queries, around the change that
persists the melt in one range partition per core
(``repartitionByRange(defaultParallelism, "name")`` plus a sort within
partitions) instead of ``orderBy("name")`` over
``spark.sql.shuffle.partitions`` partitions.

Same layout as ``plans/r18/capture_plans.py``, with ``describe`` from
``plans/r15/capture_plans.py``: ``melt_build`` holds the plan of the
DataFrame ``synthetic_melt`` persists; each query file holds the plan
of every DataFrame its construction materializes, then the final plan.
"Before" plans come from running this script in a checkout of the
parent commit with MODE=before, "after" plans from the final tree. Run
from the repo root on the sf0.01 tables:

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<tables>/sf0.01 \\
        MODE=after python plans/r19/capture_plans.py

With both modes captured, ``python plans/r19/capture_plans.py diff``
prints, for each file, its exchange and sort counts on each side and
every line that differs once expression ids (``#123``) and plan ids
are masked and tree indentation is stripped.
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
QUERIES = ("thermometer_putirka2008_15", "unit_conversions",
           "volatile_saturation_im", "kd_toplis_iteration")
ACTIONS = ("persist", "count", "localCheckpoint", "isEmpty", "collect")


def masked(name: str, mode: str) -> list[str]:
    """Plan lines with ids masked and tree indentation stripped, so a
    node removed from a chain does not shift the lines under it."""
    text = (OUT / f"{name}_{mode}.txt").read_text().split("\n", 1)[1]
    text = re.sub(r"(#|plan_id=)\d+", r"\1N", text)
    return [line.strip(" :+|-") for line in text.splitlines()]


def node_counts(lines: list[str]) -> dict[str, int]:
    """Exchange and Sort nodes in the plan text, a cached relation's
    own plan included."""
    names = [m.group(1) for line in lines
             if (m := re.match(r"(\w+) ", line))]
    return {op: names.count(op) for op in ("Exchange", "Sort")}


def main() -> None:
    from magmapandas_spark.relational import suite
    from magmapandas_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name=f"r19-plan-capture-{MODE}")
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
        for name in QUERIES:
            captured.clear()
            df = suite.queries()[name](spark, sf_dir)
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
        for name in ("melt_build",) + QUERIES:
            before, after = masked(name, "before"), masked(name, "after")
            print(f"{name}: {node_counts(before)} -> {node_counts(after)}")
            for line in difflib.unified_diff(before, after, n=0,
                                             lineterm=""):
                if not line.startswith(("---", "+++", "@@")):
                    print("   ", line)
    else:
        main()
