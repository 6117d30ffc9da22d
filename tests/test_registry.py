"""Registry-contract guards: the driver hash-verifies only the FIRST
50 entries of queries(), so _GATE_ORDER's size and resolvability are
part of the correctness gate, not a style choice. The collector itself
must fail loudly and stay cheap."""

import ast
import subprocess
import sys
from itertools import chain
from pathlib import Path

import pytest

from magmapandas_spark.relational import suite


def test_gate_order_is_exactly_fifty():
    assert len(suite._GATE_ORDER) == 50


def test_gate_order_all_resolve_and_lead():
    q = suite.queries()
    missing = [g for g in suite._GATE_ORDER if g not in q]
    assert not missing, f"gate names with no queries() entry: {missing}"
    assert list(q)[:50] == suite._GATE_ORDER


def test_every_query_has_oracle_or_is_known_probe():
    """Only the two engine-specific production probes may lack an
    exact DuckDB twin; anything else without one is a regression."""
    q = suite.queries()
    o = suite.oracle_sql()
    rows_only = sorted(k for k in q if k not in o)
    assert rows_only == ["ivfpq_topk", "minhash_lsh_xxhash"]


def test_oracles_have_no_orphans():
    q = suite.queries()
    orphans = sorted(k for k in suite.oracle_sql() if k not in q)
    assert not orphans


def test_duplicate_query_name_raises_naming_both_modules(monkeypatch):
    """A name declared by two modules must fail the collector, never
    let the later module silently shadow the earlier one."""
    import sys
    import types

    for mod_name in ("fake_registry_a", "fake_registry_b"):
        mod = types.ModuleType(mod_name)
        mod.QUERIES = {"same_name": (lambda spark, sf_dir: None, "SELECT 1")}
        monkeypatch.setitem(sys.modules, mod_name, mod)
    monkeypatch.setattr(
        suite, "_MODULES", ("fake_registry_a", "fake_registry_b")
    )
    with pytest.raises(ValueError) as err:
        suite.queries()
    msg = str(err.value)
    assert "same_name" in msg
    assert "fake_registry_a" in msg and "fake_registry_b" in msg


def test_modules_list_matches_query_declarations():
    """Every package module assigning a top-level ``QUERIES`` is in
    ``_MODULES``, and every ``_MODULES`` entry assigns one."""
    pkg = Path(suite.__file__).resolve().parents[1]
    declaring = set()
    for path in pkg.rglob("*.py"):
        tree = ast.parse(path.read_text())
        if any(
            isinstance(node, ast.Assign)
            and any(getattr(t, "id", None) == "QUERIES" for t in node.targets)
            for node in tree.body
        ):
            rel = path.relative_to(pkg.parent).with_suffix("")
            declaring.add(".".join(rel.parts))
    assert declaring == set(suite._MODULES)
    assert len(suite._MODULES) == len(set(suite._MODULES))


def test_listing_queries_builds_no_oracle():
    """``queries()`` must stay cheap: oracle builders run only in
    ``oracle_sql()`` (building them all costs seconds of CPU)."""
    root = Path(__file__).resolve().parents[1]
    code = (
        "import sys, time\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from magmapandas_spark.relational import suite\n"
        "t = time.process_time()\n"
        "suite.queries()\n"
        "print(time.process_time() - t)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True,
    )
    assert float(out.stdout.strip()) < 2.0


def _modules(sub: str = ""):
    """(path relative to the repo, dotted module name, AST) of every
    package module, or of those under the package's ``sub`` directory,
    or of the one module at the package's ``sub`` path."""
    pkg = Path(suite.__file__).resolve().parents[1]
    root = pkg / sub
    for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
        rel = path.relative_to(pkg.parent).with_suffix("")
        yield rel, ".".join(rel.parts), ast.parse(path.read_text())


def _bound(node, own: str) -> set:
    """(module, name, asname) of each name an import statement binds,
    name None for ``import module``; relative imports resolve against
    the importing module ``own``."""
    if isinstance(node, ast.Import):
        return {(a.name, None, a.asname) for a in node.names}
    base = own.rsplit(".", node.level)[0] if node.level else ""
    target = ".".join(p for p in (base, node.module) if p)
    return {(target, a.name, a.asname) for a in node.names}


def _function_imports():
    """(rel, own, the module's top-level bindings, function, import
    node) of every import statement inside a function body."""
    imports = (ast.Import, ast.ImportFrom)
    for rel, own, tree in _modules():
        top = set().union(
            *(_bound(n, own) for n in tree.body if isinstance(n, imports))
        )
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, imports):
                    yield rel, own, top, fn, node


def test_no_function_imports_from_its_own_module():
    """A function body that imports a name from the module it is
    defined in re-reads what is already in its globals: the query
    builders call their module's operators directly."""
    found = [
        f"{rel}.py:{node.lineno} in {fn.name}"
        for rel, own, _, fn, node in _function_imports()
        if isinstance(node, ast.ImportFrom)
        and any(m == own for m, _, _ in _bound(node, own))
    ]
    assert not found, found


def test_no_function_reimports_a_top_level_import():
    """A function-body import of a (module.name, asname) that its module
    already imports at top level binds the same object a second time."""
    found = sorted({
        f"{rel}.py:{node.lineno} {sorted(_bound(node, own) & top)}"
        for rel, own, top, _, node in _function_imports()
        if _bound(node, own) & top
    })
    assert not found, found


MODEL_UDFS = {"common.solver_column"}
# bisection loops in models/ other than eos.bisect_vectorized, with why
BISECTION_LOOPS = {
    # ``fm < 0`` moves lo where fm is exactly 0 or NaN; the sign rule
    # of eos.bisect_vectorized would move hi there
    "iw._vinet_V_roomT",
}


def test_models_have_one_solver_udf():
    """``models.common.solver_column`` is the one Arrow UDF of the
    model tier and of ``operators/montecarlo.py``, and the only place
    in them that catches a solver error: a hand-written ``pandas_udf``,
    or a handler that blanks a whole batch, shows up here."""
    udfs, handlers = set(), []
    for rel, _, tree in chain(_modules("models"),
                              _modules("operators/montecarlo.py")):
        for top in tree.body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Name) and node.id == "pandas_udf"
                        or isinstance(node, ast.Attribute)
                        and node.attr == "pandas_udf"):
                    udfs.add(f"{rel.name}.{getattr(top, 'name', top.lineno)}")
                if isinstance(node, ast.ExceptHandler) and (
                    node.type is None
                    or {"Exception", "BaseException"} & {
                        n.id for n in ast.walk(node.type)
                        if isinstance(n, ast.Name)
                    }
                ) and rel.name != "common":
                    handlers.append(f"{rel}.py:{node.lineno}")
    assert udfs == MODEL_UDFS
    assert not handlers, handlers


def test_pandas_udfs_drop_zip_finders_first():
    """Every ``pandas_udf`` body in the package starts with
    ``drop_zip_finders()``, so no Arrow-UDF task makes the worker's
    next task re-read its zip archives (see its docstring)."""
    udfs, late = [], []
    for rel, _, tree in _modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or not any(
                isinstance(d, ast.Call) and "pandas_udf" in ast.unparse(d.func)
                for d in fn.decorator_list
            ):
                continue
            udfs.append(f"{rel}.{fn.name}")
            first = fn.body[0]
            if not (isinstance(first, ast.Expr)
                    and ast.unparse(first.value) == "drop_zip_finders()"):
                late.append(f"{rel}.py:{fn.lineno} {fn.name}")
    assert len(udfs) >= 4, udfs  # solver_column and similarity.py's three
    assert not late, late


def _is_midpoint(node) -> bool:
    """``0.5 * (a + b)``, either way round."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult)):
        return False
    pair = (node.left, node.right)
    return any(
        isinstance(x, ast.Constant) and x.value == 0.5
        and isinstance(y, ast.BinOp) and isinstance(y.op, ast.Add)
        for x, y in (pair, pair[::-1])
    )


def test_models_have_one_bisection():
    """``eos.bisect_vectorized`` is the one sign-bisection loop in
    ``models/``, so a change of root finder happens in one place: a loop
    that halves a bracket anywhere else shows up here, unless
    ``BISECTION_LOOPS`` names it with its reason."""
    loops = set()
    for rel, _, tree in _modules("models"):
        for top in tree.body:
            for loop in ast.walk(top):
                if isinstance(loop, (ast.For, ast.While)) and any(
                    _is_midpoint(n) for n in ast.walk(loop)
                ):
                    loops.add(f"{rel.name}.{getattr(top, 'name', top.lineno)}")
    assert loops == {"eos.bisect_vectorized"} | BISECTION_LOOPS


def test_solver_oracle_citations_resolve():
    """``relational/solver_oracles.py`` cites the engine kernel each SQL
    replay mirrors by dotted name (``models.eos.bisect_vectorized``),
    not by line numbers that drift: every cited name imports, and no
    ``<models file>.py:<line>`` citation is left."""
    import importlib
    import re

    from magmapandas_spark.relational import solver_oracles

    text = Path(solver_oracles.__file__).read_text()
    cited = set(re.findall(r"``(models(?:\.\w+)+)``", text))
    assert len(cited) >= 20, cited
    for name in sorted(cited):
        module, _, attr = f"magmapandas_spark.{name}".rpartition(".")
        try:
            obj = importlib.import_module(f"{module}.{attr}")
        except ModuleNotFoundError:
            obj = getattr(importlib.import_module(module), attr, None)
        assert obj is not None, name
    models_dir = Path(solver_oracles.__file__).resolve().parents[1] / "models"
    stale = [m.group(0) for m in re.finditer(r"(\w+)\.py:\d+", text)
             if (models_dir / f"{m.group(1)}.py").exists()]
    assert not stale, stale
