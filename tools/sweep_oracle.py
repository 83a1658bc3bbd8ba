#!/usr/bin/env python
"""Driver-replica sweep: run EVERY oracle-backed registered query on Spark
and its DuckDB oracle at the driver's gate scale factor (sf0.01), through
the strict local comparator (dtype-KIND gate included). Prints one line per
query and a final summary; exits non-zero on any mismatch.

Usage: python tools/sweep_oracle.py [sf_dir] [first_n] [--changed-since REF]

``--changed-since REF`` (delta-sweep, r5 judge task #8): sweep only the
queries plausibly affected by commits since git ref REF — those whose
defining plans module imports a changed .py module, directly or through
other package modules (module-level and function-level imports alike),
plus those whose function source or defining module source mentions the
basename of a changed module.
This keeps per-wave verification cheap as the registry grows; the full
sweep at round end remains the authority.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sea_streamer_spark.plans.queries import QUERIES  # noqa: E402
from sea_streamer_spark.session import get_spark  # noqa: E402
from tests.oracle import check_query  # noqa: E402


# Queries whose oracle pins GOLDEN values measured on the gate corpus
# (ORACLE_SF_DIR): correct there, definitionally different elsewhere.
# Everything else — including the gate-TRAINED models (whiten, ANN
# quantizers, BPE, DSIR), whose fixed model applies at any sf — must pass
# at every sf.
GATE_ONLY = {"agg_approx_sketches"}
from sea_streamer_spark.plans.fragments import ORACLE_SF_DIR as GATE_SF_DIR  # noqa: E402


def changed_modules(ref: str) -> set[str]:
    """Basenames (no extension) of the .py files changed since git ``ref``."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", "*.py"],
        capture_output=True, text=True, cwd=repo, check=True,
    ).stdout
    return {
        os.path.splitext(os.path.basename(p.strip()))[0]
        for p in out.splitlines()
        if p.strip()
    }


def _package_imports() -> dict[str, set[str]]:
    """Dotted package module -> the package modules it imports anywhere in
    its source (module level or inside a function)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "sea_streamer_spark"
    names = {
        ".".join(p.relative_to(pkg.parent).with_suffix("").parts).removesuffix(
            ".__init__"
        ): p
        for p in pkg.rglob("*.py")
    }
    graph: dict[str, set[str]] = {}
    for mod, path in names.items():
        here = mod if path.name == "__init__.py" else mod.rsplit(".", 1)[0]
        deps: set[str] = set()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                deps.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = here.rsplit(".", node.level - 1)[0] if node.level > 1 else here
                    base = f"{up}.{base}" if base else up
                subs = {f"{base}.{a.name}" for a in node.names} & names.keys()
                # ``from ..operators import dedup`` depends on the submodule,
                # not on every module the package __init__ re-exports
                deps |= subs if len(subs) == len(node.names) else subs | {base}
        graph[mod] = deps & names.keys()
    return graph


def _closure(graph: dict[str, set[str]], mod: str) -> set[str]:
    seen, todo = set(), [mod]
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(graph.get(m, ()))
    return seen


def affected_queries(mods: set[str]) -> set[str]:
    """Names of queries plausibly affected by changes to the modules
    ``mods`` (basenames): the defining module imports one of them,
    directly or transitively, or the source of the query function or of
    its defining module mentions one of their basenames. Imports catch a
    change to ``operators/rounds.py`` reaching a query through
    ``operators/graph.py``; mentions catch the rest conservatively."""
    import inspect
    import re

    graph = _package_imports()
    pats = [re.compile(rf"\b{re.escape(m)}\b") for m in mods]
    module_src: dict[str, str] = {}
    sel: set[str] = set()
    for name, qd in QUERIES.items():
        module = qd.fn.__module__
        if {m.rsplit(".", 1)[-1] for m in _closure(graph, module)} & mods:
            sel.add(name)
            continue
        try:
            if module not in module_src:
                module_src[module] = inspect.getsource(sys.modules[module])
            src = inspect.getsource(qd.fn) + module_src[module]
        except OSError:  # no source (shouldn't happen) → be conservative
            sel.add(name)
            continue
        if any(p.search(src) for p in pats):
            sel.add(name)
    return sel


def main() -> int:
    args = list(sys.argv[1:])
    changed_since = None
    if "--changed-since" in args:
        i = args.index("--changed-since")
        changed_since = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    first_n = int(args[1]) if len(args) > 1 else 0

    spark = get_spark(app_name="oracle-sweep")
    names = [n for n, q in QUERIES.items() if q.oracle is not None]
    if changed_since:
        sel = affected_queries(changed_modules(changed_since))
        skipped = len(names) - len([n for n in names if n in sel])
        names = [n for n in names if n in sel]
        print(f"DELTA SWEEP since {changed_since}: {len(names)} affected, "
              f"{skipped} unchanged skipped", flush=True)
    if os.path.abspath(sf_dir) != os.path.abspath(GATE_SF_DIR):
        for n in sorted(GATE_ONLY & set(names)):
            print(f"SKIP {n}: golden-pinned to the gate sf", flush=True)
        names = [n for n in names if n not in GATE_ONLY]
    if first_n:
        names = names[:first_n]
    failed: list[str] = []
    t_all = time.perf_counter()
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        try:
            rows = check_query(spark, name, sf_dir)
            print(f"[{i+1}/{len(names)}] PASS {name} rows={rows} "
                  f"({time.perf_counter()-t0:.2f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"[{i+1}/{len(names)}] FAIL {name}: {exc}", flush=True)
            traceback.print_exc()
    print(f"TOTAL {len(names)} queries, {len(failed)} failed, "
          f"{time.perf_counter()-t_all:.1f}s", flush=True)
    if failed:
        print("FAILED:", failed, flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
