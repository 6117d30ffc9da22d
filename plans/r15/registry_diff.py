#!/usr/bin/env python
"""One-off equivalence check for the registry move: every query and
oracle the collector returns before the move must come back unchanged
after it.

Dump a record from each tree, then compare the two records:

    python plans/r15/registry_diff.py dump  PARENT_ROOT before.json
    python plans/r15/registry_diff.py dump  CHANGE_ROOT after.json
    python plans/r15/registry_diff.py compare before.json after.json

``dump`` prints the key count, whether the first 50 keys equal
``_GATE_ORDER``, and one line per key: the SHA-256 of its oracle SQL
(``-`` for a rows-only key) and of its query function's source
(``inspect.getsource`` of the function the collector wraps).
``compare`` prints the same summary for both sides, the oracle SHAs
and query sources that differ, and the tail order past slot 50.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import sys


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def dump(root: str, out_path: str) -> None:
    sys.path.insert(0, root)
    from magmapandas_spark.relational import suite

    q = suite.queries()
    o = suite.oracle_sql()
    rec = {"keys": list(q),
           "head50_is_gate_order": list(q)[:50] == suite._GATE_ORDER,
           "oracle_sha256": {}, "query": {}}
    for name, wrapped in q.items():
        fn = inspect.getclosurevars(wrapped).nonlocals["fn"]
        rec["query"][name] = {
            "function": f"{fn.__module__}.{fn.__qualname__}",
            "source_sha256": _sha(inspect.getsource(fn)),
        }
        rec["oracle_sha256"][name] = _sha(o[name]) if name in o else None
    rec["oracle_only"] = sorted(set(o) - set(q))
    with open(out_path, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(f"keys {len(q)}  oracles {len(o)}  "
          f"head-50 == _GATE_ORDER: {rec['head50_is_gate_order']}")
    for name in q:
        print(f"{name:32s} oracle {rec['oracle_sha256'][name] or '-'}  "
              f"source {rec['query'][name]['source_sha256'][:16]}")


def compare(before_path: str, after_path: str) -> int:
    with open(before_path) as fh:
        a = json.load(fh)
    with open(after_path) as fh:
        b = json.load(fh)
    for tag, r in (("before", a), ("after", b)):
        n_or = sum(v is not None for v in r["oracle_sha256"].values())
        print(f"{tag:6s} keys {len(r['keys'])}  oracles {n_or}  "
              f"head-50 == _GATE_ORDER: {r['head50_is_gate_order']}  "
              f"oracle-only keys: {r['oracle_only']}")
    ka, kb = set(a["keys"]), set(b["keys"])
    print(f"same key set: {ka == kb}  "
          f"(only before: {sorted(ka - kb)}, only after: {sorted(kb - ka)})")
    print(f"same head 50: {a['keys'][:50] == b['keys'][:50]}")
    common = [k for k in a["keys"] if k in kb]
    sql_diff = [k for k in common
                if a["oracle_sha256"][k] != b["oracle_sha256"][k]]
    n_sql = sum(a["oracle_sha256"][k] is not None for k in common)
    print(f"oracle SQL byte-identical: {n_sql - len(sql_diff)}/{n_sql}"
          + (f"  DIFFER: {sql_diff}" if sql_diff else ""))
    src_diff = [k for k in common
                if a["query"][k]["source_sha256"]
                != b["query"][k]["source_sha256"]]
    print(f"query source identical: {len(common) - len(src_diff)}/"
          f"{len(common)}")
    for k in src_diff:
        print(f"  {k}: {a['query'][k]['function']} -> "
              f"{b['query'][k]['function']}")
    moved = sum(a["query"][k]["function"] != b["query"][k]["function"]
                for k in common)
    print(f"query functions now in another module or name: {moved}")
    print(f"same tail order past slot 50: {a['keys'][50:] == b['keys'][50:]}")
    ok = ka == kb and a["keys"][:50] == b["keys"][:50] and not sql_diff
    return 0 if ok else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["dump"] and len(sys.argv) == 4:
        dump(sys.argv[2], sys.argv[3])
    elif sys.argv[1:2] == ["compare"] and len(sys.argv) == 4:
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    else:
        sys.exit(__doc__)
