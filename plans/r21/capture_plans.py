#!/usr/bin/env python
"""Capture before/after physical plans and job counts around the change
that makes the per-row model queries sort their input
(``suite.by_name``) instead of their output (``suite.heavy_sorted``).

Same layout as ``plans/r20/capture_plans.py``: ``melt_build`` holds the
plan of the DataFrame ``synthetic_melt`` persists; each other file
holds the plan of every DataFrame its construction materializes, then
the final plan. The melt is materialized before any query is captured,
so each plan is the one a query gets on the persisted melt. The files
are the seven solver gate queries whose Arrow-UDF stage reads the
melt's rows, plus ``thermometer_putirka2008_15`` as an unchanged
control. Each file's header gives the Spark jobs of its construction
(``build``) and of one ``noop`` write of the result (``exec``), counted
under a job group. ``fresh_melt`` is ``kd_toplis_iteration`` captured
as the first query after ``reset_melt_cache``, on a melt AQE has not
materialized yet. "Before" plans come from running this script in a
checkout of the parent commit with MODE=before, "after" plans from the
final tree. Run from the repo root on the sf0.01 tables:

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<tables>/sf0.01 \\
        MODE=after python plans/r21/capture_plans.py

With both modes captured, ``python plans/r21/capture_plans.py diff``
prints, for each file, its job counts and its ArrowEvalPython,
Exchange and Sort counts on each side (a cached relation's plan counted
once, in ``melt_build``, not under every query that reads it), then
every line that differs once expression ids and plan ids are masked
and tree indentation is stripped.
"""

from __future__ import annotations

import difflib
import itertools
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path[:0] = [str(ROOT), str(ROOT / "plans" / "r15")]

from capture_plans import describe  # noqa: E402  (plans/r15)

MODE = os.environ.get("MODE", "after")
OUT = Path(os.environ.get("PLANS_OUT", Path(__file__).resolve().parent))
QUERIES = (
    "volatile_saturation_im", "allison_saturation", "fe3fe2_deng2020",
    "kd_toplis_iteration", "fe3fe2_errors", "kd_blundy_saper",
    "fe3fe2_solvers2", "thermometer_putirka2008_15",
)
FRESH = "kd_toplis_iteration"
ACTIONS = ("persist", "count", "localCheckpoint", "isEmpty", "collect")
NODES = ("ArrowEvalPython", "Exchange", "Sort")


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
    """Lines with ids masked and tree indentation stripped, so a node
    removed from a chain does not shift the lines under it."""
    text = re.sub(r"(#|plan_id=)\d+", r"\1N", "\n".join(lines))
    return [line.strip(" :+|-") for line in text.splitlines()]


def read(name: str, mode: str) -> tuple[str, list[str]]:
    head, body = (OUT / f"{name}_{mode}.txt").read_text().split("\n", 1)
    return head, body.splitlines()


def job_counts(head: str) -> str:
    return re.search(r"jobs build \d+ exec \d+", head).group(0)


def node_counts(lines: list[str]) -> dict[str, int]:
    names = [m.group(1) for line in masked(own_lines("\n".join(lines)))
             if (m := re.match(r"(?:\*\(\d+\) )?(\w+) ", line))]
    return {op: names.count(op) for op in NODES}


def main() -> None:
    from magmapandas_spark.relational import suite
    from magmapandas_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name=f"r21-plan-capture-{MODE}")
    sc = spark.sparkContext
    groups = itertools.count()
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

    def jobs(fn):
        """(result of ``fn()``, Spark jobs it ran)."""
        group = f"r21-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def write(name: str, head: str, text: str) -> None:
        # the tables' location is the host's, not the plan's
        text = text.replace(str(Path(sf_dir).parent), "<tables>")
        (OUT / f"{name}_{MODE}.txt").write_text(f"# {head}\n\n{text}\n")
        print("wrote", f"{name}_{MODE}.txt", len(text), "bytes")

    def capture(name: str, query: str) -> None:
        captured.clear()
        df, build = jobs(lambda: suite.queries()[query](spark, sf_dir))
        plans = "\n\n".join(captured + [describe("final plan", df)])
        _, run = jobs(lambda: df.write.format("noop").mode("overwrite")
                      .save())
        write(name,
              f"{name} {MODE.upper()}: jobs build {build} exec {run}; "
              f"{len(captured)} DataFrames materialized during "
              "construction, then the final plan", plans)

    for name in ACTIONS:
        setattr(DataFrame, name, capturing(name))
    try:
        captured.clear()
        suite.reset_melt_cache(spark, sf_dir)
        melt = suite.synthetic_melt(spark, sf_dir).df
        write("melt_build",
              f"melt_build {MODE.upper()}: the DataFrame synthetic_melt "
              f"persists, defaultParallelism {sc.defaultParallelism}",
              "\n\n".join(captured))
        originals["count"](melt)  # materialized, unrecorded
        for name in QUERIES:
            capture(name, name)
        suite.reset_melt_cache(spark, sf_dir)
        capture("fresh_melt", FRESH)
    finally:
        for name, fn in originals.items():
            setattr(DataFrame, name, fn)


def diff() -> None:
    for name in ("melt_build",) + QUERIES + ("fresh_melt",):
        (hb, before), (ha, after) = (read(name, m)
                                     for m in ("before", "after"))
        if name != "melt_build":
            print(f"{name}: {job_counts(hb)} -> {job_counts(ha)}")
        print(f"{name}: {node_counts(before)} -> {node_counts(after)}")
        for line in difflib.unified_diff(masked(before), masked(after),
                                         n=0, lineterm=""):
            if not line.startswith(("---", "+++", "@@")):
                print("   ", line)


if __name__ == "__main__":
    diff() if sys.argv[1:] == ["diff"] else main()
