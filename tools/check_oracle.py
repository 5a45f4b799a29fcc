"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at the
given sf dir, compares row count, column names, and the order-
insensitive multiset of row values (exact equality; floats must match
bit-for-bit — the determinism contract in functions/portable.py).

Usage: python tools/check_oracle.py [--routine] [--changed-only[=REF]]
       [sf_dir] [query ...]

--routine skips the 15 heavy-exact names (quadratic pair / recursive
closure oracles, ~100 min at sf0.1) whose surface the registered
``*_sub`` quarter-corpus twins cover — the cheap sweep to run after
every change; the exact names stay for the per-round deep sweep.

--changed-only[=REF] restricts the sweep to queries whose defining
module — or ANY package module in its transitive import closure —
differs from git REF (default HEAD: uncommitted work). A ``*_sub``
twin follows its base query's module. Import edges are read
statically (``from .x import`` / ``from crypto_price_data_pipeline_spark.x
import``, including function-local imports), so an operator edit
selects every query that can reach it; a change the graph cannot
attribute (git failure, unresolvable module) FAILS OPEN to the full
sweep. RULE: this is the iteration loop only — the full sweep still
runs once per round on final code.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "timestamp") and hasattr(v, "tzinfo"):  # datetime
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return v


def row_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_cell(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple(repr(x) for x in t),
    )


# canonical type lattice for the schema comparison: the driver may
# compare dtypes, so flag int-width / numeric-kind drift between the
# Spark result and the DuckDB oracle even when Python values are equal
_SPARK_CANON = {
    "tinyint": "int32", "smallint": "int32", "int": "int32", "bigint": "int64",
    "float": "float", "double": "float", "string": "string", "boolean": "bool",
    "date": "date", "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    "binary": "binary",
}
_DUCK_CANON = {
    "TINYINT": "int32", "SMALLINT": "int32", "INTEGER": "int32", "BIGINT": "int64",
    "HUGEINT": "int128", "UBIGINT": "int64", "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "string", "BOOLEAN": "bool", "DATE": "date",
    "TIMESTAMP": "timestamp", "TIMESTAMP_NS": "timestamp", "BLOB": "binary",
}


def _canon_spark(dt_simple: str) -> str:
    if dt_simple.startswith("array<"):
        return "list<" + _canon_spark(dt_simple[6:-1]) + ">"
    if dt_simple.startswith("decimal"):
        return "decimal"
    return _SPARK_CANON.get(dt_simple, dt_simple)


def _canon_duck(t: str) -> str:
    t = t.upper()
    if t.endswith("[]"):
        return "list<" + _canon_duck(t[:-2]) + ">"
    if t.startswith("DECIMAL"):
        return "decimal"
    return _DUCK_CANON.get(t, t.lower())


_PKG = "crypto_price_data_pipeline_spark"


def _package_modules(root: str) -> dict[str, str]:
    """module name -> repo-relative path for every package .py file."""
    mods: dict[str, str] = {}
    for dirpath, _, files in os.walk(os.path.join(root, _PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                mod = rel[:-3].replace(os.sep, ".")
                if mod.endswith(".__init__"):
                    mod = mod[: -len(".__init__")]
                mods[mod] = rel
    return mods


def _import_graph(root: str, mods: dict[str, str]) -> dict[str, set[str]]:
    """Static intra-package import edges, including function-local
    imports (the registry's lazy-import convention)."""
    import re

    imp_re = re.compile(
        rf"^\s*from\s+(\.[\w.]*|{_PKG}[\w.]*)\s+import", re.M
    )
    deps: dict[str, set[str]] = {}
    for mod, rel in mods.items():
        with open(os.path.join(root, rel)) as fh:
            src = fh.read()
        edges: set[str] = set()
        for m in imp_re.finditer(src):
            t = m.group(1)
            if t.startswith("."):
                lvl = len(t) - len(t.lstrip("."))
                tail = t.lstrip(".")
                parts = mod.split(".")[:-1]  # module's own package
                if lvl > 1:
                    parts = parts[: len(parts) - (lvl - 1)]
                full = ".".join(parts + ([tail] if tail else []))
            else:
                full = t
            while full and full not in mods:
                full = full.rsplit(".", 1)[0] if "." in full else ""
            if full and full != mod:
                edges.add(full)
        deps[mod] = edges
    return deps


def _changed_names(ref: str, queries: dict) -> set[str] | None:
    """Registry names whose module import-closure intersects the git
    diff vs ``ref``; None = cannot attribute, run everything."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", ref, "--"],
            cwd=root,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    except Exception as e:  # git missing / bad ref: fail open
        print(f"--changed-only: git diff failed ({e}); running full sweep")
        return None
    changed_files = set(out.split())
    mods = _package_modules(root)
    changed_mods = {m for m, rel in mods.items() if rel in changed_files}
    non_pkg = {
        f for f in changed_files
        if not f.startswith(_PKG + "/") and f.endswith(".py")
    }
    if non_pkg:
        print(f"--changed-only: note — non-package .py changes ignored: "
              f"{sorted(non_pkg)}")
    if not changed_mods:
        return set()
    deps = _import_graph(root, mods)
    closure_cache: dict[str, frozenset[str]] = {}

    def closure(m: str, stack: tuple = ()) -> frozenset[str]:
        if m in closure_cache:
            return closure_cache[m]
        if m in stack:  # import cycle: contribute self only
            return frozenset({m})
        acc = {m}
        for d in deps.get(m, ()):
            acc |= closure(d, stack + (m,))
        closure_cache[m] = frozenset(acc)
        return closure_cache[m]

    sel: set[str] = set()
    for name, fn in queries.items():
        base = name
        if name.endswith("_sub") and name[: -len("_sub")] in queries:
            base = name[: -len("_sub")]
        mod = getattr(queries[base], "__module__", None)
        if mod is None or mod not in mods:
            sel.add(name)  # unattributable: be conservative, run it
            continue
        if closure(mod) & changed_mods:
            sel.add(name)
    return sel


def main() -> int:
    args = sys.argv[1:]
    routine = "--routine" in args
    args = [a for a in args if a != "--routine"]
    changed_ref = None
    for a in list(args):
        if a == "--changed-only" or a.startswith("--changed-only="):
            changed_ref = a.partition("=")[2] or "HEAD"
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    from crypto_price_data_pipeline_spark.queries import ORACLES, QUERIES
    from crypto_price_data_pipeline_spark.queries_ext34 import HEAVY_EXACT
    from crypto_price_data_pipeline_spark.session import get_spark

    if changed_ref is not None:
        sel = _changed_names(changed_ref, QUERIES)
        if sel is not None:
            if not sel:
                print(f"--changed-only: no registry query reaches the "
                      f"diff vs {changed_ref}; nothing to run")
                return 0
            only = sel if not only else (only & sel)
            print(f"--changed-only: {len(sel)} of {len(QUERIES)} queries "
                  f"reach the diff vs {changed_ref}")

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    n_skipped = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if routine and name in HEAVY_EXACT:
            n_skipped += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(ORACLES[name])
            ocols = list(rel.columns)
            otype_list = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        else:
            stypes = {f.name: _canon_spark(f.dataType.simpleString()) for f in sdf.schema.fields}
            otypes = {c: _canon_duck(t) for c, t in zip(ocols, otype_list)}
            drift = {
                c: (stypes[c], otypes[c])
                for c in stypes
                if c in otypes and stypes[c] != otypes[c]
            }
            if drift:
                problems.append(f"dtype drift {drift}")
        if not problems:
            sm = row_multiset(scols, srows)
            om = row_multiset(ocols, orows)
            if sm != om:
                diffs = [(a, b) for a, b in zip(sm, om) if a != b]
                problems.append(f"{len(diffs)} differing rows; first: {diffs[0] if diffs else (sm[0], om[0])}")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(str(p)[:400] for p in problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    skipped = f", {n_skipped} heavy-exact skipped (--routine)" if n_skipped else ""
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only{skipped}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
