#!/usr/bin/env python
"""Capture before/after physical plans and job counts around the change
that drops the final sort of the UDF-tier gate queries whose rows carry
their own keys (``suite.by_name`` and ``suite.heavy_sorted`` deleted).

The capture and the diff are ``plans/r21/capture_plans.py``'s, run on
this change's query list and writing here: ``melt_build`` is the plan
the melt cache is built from, and each other file holds the plan of
every DataFrame a query's construction materializes, then the final
plan, headed by the Spark jobs of its construction (``build``) and of
one ``noop`` write of the result (``exec``). The queries are the seven
per-row solver queries, ``qfm_exact``, ``iw_exact``, ``isobar_grid``,
``embedding_neardup`` and the four similarity top-k queries;
``fresh_melt`` is ``kd_toplis_iteration`` run first after
``reset_melt_cache``, on a melt no action has materialized yet.
"Before" plans come from running this script in a checkout of the
parent commit with MODE=before, "after" plans from the final tree.
Run from the repo root on the sf0.01 tables:

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<tables>/sf0.01 \\
        MODE=after python plans/r23/capture_plans.py

``python plans/r23/capture_plans.py diff`` then prints each file's job
counts and its Python-stage, Exchange and Sort counts on each side,
and every plan line that differs (ids masked, indentation stripped).
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
_spec = importlib.util.spec_from_file_location(
    "r21_capture_plans", HERE.parent / "r21" / "capture_plans.py")
r21 = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(r21)

r21.OUT = HERE
r21.QUERIES = (
    "volatile_saturation_im", "allison_saturation", "fe3fe2_deng2020",
    "kd_toplis_iteration", "fe3fe2_errors", "kd_blundy_saper",
    "fe3fe2_solvers2", "qfm_exact", "iw_exact", "isobar_grid",
    "embedding_neardup", "ivf_topk_seeded", "lsh_topk", "ivf_topk",
    "pq_topk_seeded",
)
r21.NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "Exchange", "Sort")


if __name__ == "__main__":
    r21.diff() if sys.argv[1:] == ["diff"] else r21.main()
