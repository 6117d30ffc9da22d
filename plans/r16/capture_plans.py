#!/usr/bin/env python
"""Capture before/after physical plans of the connected-components
rework: ``dedup_clusters_distributed`` (the join + pointer-jump loop
replaced by the large-star / small-star loop in ``operators/graph.py``)
and the two window loops whose min-label round it now shares,
``label_propagation`` and ``kcore`` (their plans must not change).

Same layout as ``plans/r15/capture_plans.py``, whose ``describe`` it
reuses: the plan of every DataFrame the query's construction
materializes (each ``count()`` / ``localCheckpoint()`` / ``isEmpty()``
/ ``collect()`` call made while the query is built), then the final
plan. The shared dedup gate-pair relation is built before capture
starts. "Before" plans come from running this script in a checkout of
the parent commit with MODE=before, "after" plans from the final tree.
Run from the repo root:

    SPARK_GRAFT_CPUS=4 MODE=after python plans/r16/capture_plans.py
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path[:0] = [str(ROOT), str(ROOT / "plans" / "r15")]

from capture_plans import describe  # noqa: E402  (plans/r15)

MODE = os.environ.get("MODE", "after")
OUT = Path(os.environ.get("PLANS_OUT", Path(__file__).resolve().parent))
SF_DIR = "/root/testdata/sf0.01"
QUERIES = (
    ("dedup", "dedup_clusters_distributed"),
    ("graph", "label_propagation"),
    ("graph", "kcore"),
)
ACTIONS = ("count", "localCheckpoint", "isEmpty", "collect")


def main() -> None:
    from magmapandas_spark.operators import dedup, graph
    from magmapandas_spark.session import get_spark

    spark = get_spark(app_name=f"r16-plan-capture-{MODE}")
    dedup._gate_pairs(spark, SF_DIR)
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
        for module, name in QUERIES:
            mod = {"dedup": dedup, "graph": graph}[module]
            captured.clear()
            df = getattr(mod, f"q_{name}")(spark, SF_DIR)
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
    main()
