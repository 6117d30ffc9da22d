#!/usr/bin/env python
"""Capture before/after physical plans of the PageRank rework:
``pagerank`` and ``personalized_pagerank`` (the join-per-round loop
over node-keyed caches replaced by window rounds on directed arc rows
in ``operators/graph.py``), and the two window loops whose ``_swap``
helper the new loop shares, ``kcore`` and ``label_propagation`` (their
plans must not change).

Same layout as ``plans/r16/capture_plans.py``, with ``describe`` from
``plans/r15/capture_plans.py``: the plan of every DataFrame the
query's construction materializes (each ``count()`` /
``localCheckpoint()`` / ``isEmpty()`` / ``collect()`` call made while
the query is built), then the final plan. "Before" plans come from
running this script in a checkout of the parent commit with
MODE=before, "after" plans from the final tree. Run from the repo
root:

    SPARK_GRAFT_CPUS=4 MODE=after python plans/r17/capture_plans.py

With both modes captured, ``python plans/r17/capture_plans.py same``
prints, for each query, whether its two files agree once expression
ids (``#123``) and plan ids are masked.
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
QUERIES = ("pagerank", "personalized_pagerank", "kcore", "label_propagation")
ACTIONS = ("count", "localCheckpoint", "isEmpty", "collect")


def masked(name: str, mode: str) -> str:
    text = (OUT / f"{name}_{mode}.txt").read_text().split("\n", 1)[1]
    return re.sub(r"(#|plan_id=)\d+", r"\1N", text)


def main() -> None:
    from magmapandas_spark.operators import graph
    from magmapandas_spark.session import get_spark

    spark = get_spark(app_name=f"r17-plan-capture-{MODE}")
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
            df = getattr(graph, f"q_{name}")(spark, "")
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
            print(name, masked(name, "before") == masked(name, "after"))
    else:
        main()
