"""Registry assembly: one duplicate-rejecting merge of the domain
tables, and no silent redefinition inside the query modules."""

from __future__ import annotations

import ast
import glob
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "crypto_price_data_pipeline_spark",
)


def test_assemble_rejects_a_name_registered_twice():
    from crypto_price_data_pipeline_spark.queries import assemble

    def fn(spark, sf):
        return None

    queries, oracles = assemble([{"q_a": (fn, "SELECT 1")}, {"q_b": (fn, "SELECT 2")}])
    assert list(queries) == ["q_a", "q_b"]
    assert oracles == {"q_a": "SELECT 1", "q_b": "SELECT 2"}
    with pytest.raises(ValueError, match="q_a"):
        assemble([{"q_a": (fn, "SELECT 1")}, {"q_a": (fn, "SELECT 2")}])


def test_registry_is_the_union_of_the_domain_tables_plus_twins():
    from crypto_price_data_pipeline_spark.queries import DOMAINS, ORACLES, QUERIES
    from crypto_price_data_pipeline_spark.queries_ext34 import HEAVY_EXACT

    names = [n for m in DOMAINS for n in m.REGISTRY]
    assert list(QUERIES) == names + [f"{n}_sub" for n in HEAVY_EXACT]
    assert set(ORACLES) == set(QUERIES)


def _module_level_bindings(tree: ast.Module) -> list[str]:
    """Every name a module binds at top level: defs, assignment targets
    and imports."""
    names: list[str] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.extend(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.extend(a.asname or a.name.split(".")[0] for a in node.names)
    return names


def test_no_query_module_binds_a_name_twice():
    """A later definition silently shadows an earlier one, so every
    module-level name in queries*.py is bound exactly once."""
    paths = sorted(glob.glob(os.path.join(PKG, "queries*.py")))
    assert len(paths) >= 2
    dups = {}
    for path in paths:
        with open(path) as fh:
            names = _module_level_bindings(ast.parse(fh.read()))
        twice = sorted({n for n in names if names.count(n) > 1})
        if twice:
            dups[os.path.basename(path)] = twice
    assert not dups, f"module-level names bound twice: {dups}"


def test_changed_only_attributes_a_domain_edit_to_that_domain():
    """tools/check_oracle.py --changed-only selects a query when its
    module's static import closure contains an edited module. The
    domain modules import only shared helpers (functions/portable.py,
    the twin machinery), never each other, so an edit to one domain
    module selects exactly that module's names, each ``*_sub`` twin
    following its base."""
    import importlib.util

    from crypto_price_data_pipeline_spark.queries import DOMAINS, QUERIES

    root = os.path.dirname(PKG)
    spec = importlib.util.spec_from_file_location(
        "co", os.path.join(root, "tools", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    deps = co._import_graph(root, co._package_modules(root))

    def closure(m, seen=None):
        seen = set() if seen is None else seen
        if m not in seen:
            seen.add(m)
            for d in deps.get(m, ()):
                closure(d, seen)
        return seen

    def base_module(name):
        base = name[: -len("_sub")] if name.endswith("_sub") else name
        return QUERIES[base].__module__

    for dom in DOMAINS:
        selected = {n for n in QUERIES if dom.__name__ in closure(base_module(n))}
        expect = set(dom.REGISTRY) | {
            f"{n}_sub" for n in dom.REGISTRY if f"{n}_sub" in QUERIES
        }
        assert selected == expect, dom.__name__
