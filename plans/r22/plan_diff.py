#!/usr/bin/env python
"""Analyzed-plan equivalence check for the model-tier queries: every
query of the geochem, solver-oracle, conversions and Monte Carlo
modules must build the same logical plan in two trees.

    python plans/r22/plan_diff.py dump PARENT_ROOT SF_DIR before.json
    python plans/r22/plan_diff.py dump CHANGE_ROOT SF_DIR after.json
    python plans/r22/plan_diff.py compare before.json after.json

``SF_DIR`` holds the test tables (``plans/r22/plan_diff.txt`` was made
at sf0.001). ``dump`` builds each query on ``local[4]`` (construction
only; the few eager width probes run) and records its analyzed plan
with expression ids, ``plan_id``s and the Arrow UDF's argument list
masked. ``compare`` prints how many plans are identical and a diff of
each one that is not.
"""

from __future__ import annotations

import difflib
import inspect
import json
import os
import re
import sys
import tempfile

MODULES = ("geochem", "solver", "conversions", "montecarlo")


def dump(root: str, sf_dir: str, out_path: str) -> None:
    out_path = os.path.abspath(out_path)
    sys.path.insert(0, root)
    # workers must import the shipped zip, not a copy in the cwd
    os.chdir(tempfile.gettempdir())
    from magmapandas_spark.relational import suite
    from magmapandas_spark.session import get_spark

    spark = get_spark(app_name="plan-diff", cpus=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rec = {}
    for name, wrapped in suite.queries().items():
        fn = inspect.getclosurevars(wrapped).nonlocals["fn"]
        if not any(m in fn.__module__ for m in MODULES):
            continue
        plan = wrapped(spark, sf_dir)._jdf.queryExecution().analyzed()
        plan = re.sub(r"#\d+L?", "#", plan.toString())
        plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
        rec[name] = re.sub(r"solver\(.*?\)", "solver()", plan)
    with open(out_path, "w") as fh:
        json.dump(rec, fh, indent=0)
    print(f"{len(rec)} plans")
    spark.stop()


def compare(before_path: str, after_path: str) -> int:
    with open(before_path) as fh:
        a = json.load(fh)
    with open(after_path) as fh:
        b = json.load(fh)
    diff = [k for k in a if a[k] != b.get(k)]
    print(f"same query set: {set(a) == set(b)}  "
          f"analyzed plans identical: {len(a) - len(diff)}/{len(a)}")
    print("queries:", " ".join(sorted(a)))
    for k in diff:
        print(f"--- {k}")
        print("\n".join(difflib.unified_diff(
            a[k].splitlines(), b.get(k, "").splitlines(), lineterm="")))
    return 0 if set(a) == set(b) and not diff else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["dump"] and len(sys.argv) == 5:
        dump(sys.argv[2], sys.argv[3], sys.argv[4])
    elif sys.argv[1:2] == ["compare"] and len(sys.argv) == 4:
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    else:
        sys.exit(__doc__)
