#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # from the repository root

Pins the record's metric names and units, checks that the seeded query
order and stream split are deterministic, checks the output-hash rules,
and runs the relational warm-up pass once with a deliberately corrupted
stored hash, which must count exactly one failed operation.
"""

from __future__ import annotations

import copy
import json
import os
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

PINNED_END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "query_cpu_tail_s": "s",
    "peak_rss_mb": "MB",
}


def test_metric_names_and_units_are_pinned():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert run.END_TO_END == PINNED_END_TO_END
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_query_order_is_seeded():
    items = workloads.WORKLOADS["iterative_driver"].items
    a = [workloads.pass_order(items, 7, p) for p in range(4)]
    assert a == [workloads.pass_order(items, 7, p) for p in range(4)]
    assert all(sorted(o) == sorted(items) for o in a)
    assert a != [workloads.pass_order(items, 8, p) for p in range(4)]


def test_stream_split_is_seeded():
    parts = workloads.split_rows(1000, 3, seed=5)
    again = workloads.split_rows(1000, 3, seed=5)
    assert [p.tolist() for p in parts] == [p.tolist() for p in again]
    assert sorted(i for p in parts for i in p.tolist()) == list(range(1000))
    assert all(len(p) for p in parts)
    other = workloads.split_rows(1000, 3, seed=6)
    assert [p.tolist() for p in parts] != [p.tolist() for p in other]


def test_value_hash_rules():
    import pandas as pd

    a = pd.DataFrame({"k": [2, 1], "x": [0.5, -0.0]})
    b = pd.DataFrame({"x": [0.0, 0.5], "k": [1, 2]})
    assert check.value_hash(a) == check.value_hash(b)
    assert check.value_hash(a) != check.value_hash(
        a.assign(k=a.k.astype(float)))
    assert check.value_hash(a) != check.value_hash(a.assign(x=[0.5, 1e-9]))
    nulls = pd.DataFrame({"x": [None, 1.0]})
    assert check.value_hash(nulls) == check.value_hash(
        pd.DataFrame({"x": [float("nan"), 1.0]}))


def test_corrupted_hash_counts_a_failure():
    root = os.getcwd()
    build = os.path.join(root, ".bench_build", "perfbench")
    run.prepare_env(build)
    data = run.ensure_data(build)
    sys.path.insert(0, root)
    from magmapandas_spark.relational import suite

    expected = copy.deepcopy(check.load_expected())
    victim = workloads.WORKLOADS["iterative_driver"].queries[0]
    expected["queries"][victim]["value_sha256"] = "0" * 64
    args = types.SimpleNamespace(workload="iterative_driver", seed=3,
                                 seconds=1, trace=0)
    b = run.Bench(args, root, build, data)
    b.spark = b.new_session()
    try:
        b.qmap = suite.queries()
        shas = {k: check.sql_sha(v) for k, v in suite.oracle_sql().items()}
        checker = check.OutputChecker(expected, shas, run.SF, data)
        b.warmup_and_check(checker)
    finally:
        b.stop_session()
    assert b.attempted == len(b.w.queries)
    assert b.failed == 1, checker.verdicts
    assert checker.verdicts[victim].startswith("FAIL")


if __name__ == "__main__":
    failures = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except AssertionError as exc:
                failures += 1
                print(f"FAIL {name}: {exc}")
    sys.exit(1 if failures else 0)
