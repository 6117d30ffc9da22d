#!/usr/bin/env python
"""Capture before/after physical plans of the four fixed-round graph
loops reworked in round 15: pagerank, personalized_pagerank, kcore and
label_propagation.

A loop's cost is spread over the jobs its construction triggers, so a
file holds, in order, the plan of every DataFrame the query's
construction materializes (each ``count()`` / ``localCheckpoint()``
call made while the query is built), then the final plan the caller
runs. Each plan is headed by its count of shuffle exchanges, broadcast
exchanges and joins (cached relations counted once, where they are
built, not where they are read). "Before" plans come from running this
script in a checkout of the round-start commit with MODE=before,
"after" plans from the final tree. Run from the repo root:

    SPARK_GRAFT_CPUS=4 MODE=after python plans/r15/capture_plans.py
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

MODE = os.environ.get("MODE", "after")
OUT = Path(os.environ.get("PLANS_OUT", Path(__file__).resolve().parent))
QUERIES = ("pagerank", "personalized_pagerank", "kcore", "label_propagation")


def operators(df) -> list[str]:
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    names, todo = [], [root]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def describe(label: str, df) -> str:
    ops = operators(df)
    head = (
        f"## {label}: {ops.count('Exchange')} exchanges, "
        f"{ops.count('BroadcastExchange')} broadcast exchanges, "
        f"{sum('Join' in o for o in ops)} joins"
    )
    return f"{head}\n{df._jdf.queryExecution().executedPlan().toString()}"


def main() -> None:
    from magmapandas_spark.operators import graph
    from magmapandas_spark.session import get_spark

    spark = get_spark(app_name=f"r15-plan-capture-{MODE}")
    DataFrame = type(spark.range(1))  # the session's concrete class
    captured: list[str] = []
    count, checkpoint = DataFrame.count, DataFrame.localCheckpoint

    def counting(self):
        captured.append(describe("count()", self))
        return count(self)

    def checkpointing(self, *args, **kwargs):
        eager = kwargs.get("eager", args[0] if args else True)
        captured.append(describe(f"localCheckpoint(eager={eager})", self))
        return checkpoint(self, *args, **kwargs)

    DataFrame.count, DataFrame.localCheckpoint = counting, checkpointing
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
        DataFrame.count, DataFrame.localCheckpoint = count, checkpoint


if __name__ == "__main__":
    main()
