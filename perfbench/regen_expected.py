#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json`` from the DuckDB oracles.

    python3 perfbench/regen_expected.py            # oracle hashes only
    python3 perfbench/regen_expected.py --verify   # and compare with Spark

Run from the repository root. For every query of every workload, runs
its ``oracle_sql()`` twin in DuckDB over the benchmark's generated
tables and stores the value hash (rules in :mod:`check`), keyed by
query, scale factor and the SHA-256 of the oracle SQL. ``--verify``
also runs each query on Spark and exits non-zero on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    import check
    import datagen
    import run
    import workloads

    build = os.path.join(root, ".bench_build", "perfbench")
    run.prepare_env(build)
    data = run.ensure_data(build)
    from magmapandas_spark.relational import suite

    oracles = suite.oracle_sql()
    names = [q for w in workloads.WORKLOADS.values() for q in w.queries]
    out = {"sf": run.SF, "data_seed": datagen.DATA_SEED, "queries": {}}
    for name in names:
        value, rows = check.oracle_hash(oracles[name], data)
        out["queries"][name] = {
            "oracle_sql_sha256": check.sql_sha(oracles[name]),
            "rows": rows,
            "value_sha256": value,
        }
        print(f"{name}: {rows} rows", file=sys.stderr)
    bad = []
    if args.verify:
        from magmapandas_spark.session import get_spark

        spark = get_spark(app_name="perfbench-regen")
        qmap = suite.queries()
        for name in names:
            got = check.value_hash(qmap[name](spark, data).toPandas())
            if got != out["queries"][name]["value_sha256"]:
                bad.append(name)
            print(f"verify {name}: {'ok' if name not in bad else 'MISMATCH'}",
                  file=sys.stderr)
        spark.stop()
    with open(check.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
