"""Output checks without a per-run oracle.

A query's output is reduced to one SHA-256 over its normalized values,
with the equality rules of the engine's DuckDB oracle gate: columns in
name order, rows sorted by every column, floats compared as floats
(``-0.0 == 0.0``, both-null equal), integer widths interchangeable, and
an integer column never equal to a float column. ``expected.json`` keys
each stored hash by query, scale factor and the SHA-256 of the query's
oracle SQL; when the SQL has changed since the hash was stored, the
check falls back to running that oracle live in DuckDB.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def _render(v, kind: str) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "null"
    if kind == "f":
        f = float(v)
        return "f:" + repr(0.0 if f == 0.0 else f)
    if kind in "iu":
        return "i:" + str(int(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_render(x, _kind_of(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_render(x, _kind_of(x))}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return "t:" + pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(bool(v))
    if isinstance(v, (float, np.floating)):
        return _render(v, "f")
    if isinstance(v, (int, np.integer)):
        return _render(v, "i")
    if isinstance(v, decimal.Decimal):
        return "D:" + str(v)
    return "s:" + str(v)


def _kind_of(v) -> str:
    if isinstance(v, (bool, np.bool_)):
        return "O"
    if isinstance(v, (float, np.floating)):
        return "f"
    if isinstance(v, (int, np.integer)):
        return "i"
    return "O"


def value_hash(pdf: pd.DataFrame) -> str:
    """SHA-256 of the normalized rendering of ``pdf``."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns):
        try:
            pdf = pdf.sort_values(by=list(pdf.columns))
        except TypeError:  # unorderable cells (arrays): order by rendering
            keys = pdf.apply(lambda r: "|".join(map(str, r)), axis=1)
            pdf = pdf.loc[keys.sort_values(kind="stable").index]
    h = hashlib.sha256()
    h.update(("|".join(pdf.columns) + "\n").encode())
    for col in pdf.columns:
        kind = pdf[col].dtype.kind
        kind = "i" if kind == "u" else kind
        h.update(f"{col}:{kind}\n".encode())
        for v in pdf[col].tolist():
            h.update(_render(v, kind if kind in "fi" else "O").encode())
            h.update(b"\x1f")
    h.update(f"rows={len(pdf)}".encode())
    return h.hexdigest()


def oracle_hash(sql: str, sf_dir: str) -> tuple[str, int]:
    """Run ``sql`` in DuckDB over the parquet tables of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
        pdf = con.execute(sql).fetchdf()
    finally:
        con.close()
    return value_hash(pdf), len(pdf)


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def oracle_shas(cache_path: str, source_key: str) -> dict[str, str]:
    """SHA-256 of every oracle SQL, cached per digest of the engine's
    sources: building ``oracle_sql()`` takes seconds, and the SQL can
    only change when the sources do."""
    try:
        with open(cache_path) as fh:
            cached = json.load(fh)
        if cached.get("source") == source_key:
            return cached["sha256"]
    except (OSError, ValueError):
        pass
    from magmapandas_spark.relational import suite

    shas = {k: sql_sha(v) for k, v in suite.oracle_sql().items()}
    with open(cache_path, "w") as fh:
        json.dump({"source": source_key, "sha256": shas}, fh)
    return shas


class OutputChecker:
    """Compares query outputs with the stored hashes (or a live oracle
    when the stored hash is stale) and records each verdict."""

    def __init__(self, expected: dict, shas: dict[str, str], sf: float,
                 sf_dir: str):
        self.expected = expected
        self.shas = shas
        self.sf = sf
        self.sf_dir = sf_dir
        self.verdicts: dict[str, str] = {}

    def reference(self, name: str) -> tuple[str, str]:
        """(hash, source) the output of ``name`` must match."""
        entry = self.expected.get("queries", {}).get(name)
        if (entry and self.expected.get("sf") == self.sf
                and entry["oracle_sql_sha256"] == self.shas[name]):
            return entry["value_sha256"], "stored"
        from magmapandas_spark.relational import suite

        return oracle_hash(suite.oracle_sql()[name], self.sf_dir)[0], \
            "live-oracle"

    def check(self, name: str, pdf: pd.DataFrame) -> bool:
        want, source = self.reference(name)
        ok = value_hash(pdf) == want
        self.verdicts[name] = f"{'pass' if ok else 'FAIL'} ({source} hash)"
        return ok
