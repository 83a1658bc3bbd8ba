"""Headroom lint (r10 VERDICT task #8): keep the BIGINT pre-multiply
class closed as waves accumulate.

The class: ``idiv_col(F.lit(K) * col, denom)`` runs ``K * col`` in
BIGINT *before* ``idiv_col`` casts to DECIMAL(38,0), so once
``col > 2^63 / K`` the product silently wraps on Spark while the DuckDB
oracle errors loudly — the engines diverge exactly on the extreme inputs
a diagnostic exists to flag (the r9 ADVICE class, caught live by the
arrival-uniformity KS wave at sf0.1). The fix is ``idiv_col(col, denom,
scale=K)``, which multiplies INSIDE decimal space (operators/exact.py).

This lint is a RATCHET, not a ban: the pre-r11 sites below were audited
in the r10 judge pass as value-bounded (milli/micro-scaled aggregates,
rank arithmetic, K-bounded budgets — products provably far under 2^63 at
any corpus size because the scaled operand is itself a bounded
fixed-point ratio or a small count), and rewriting them would churn ~25
frozen plan snapshots for zero semantic change. New code must use
``scale=``: any growth in these counts — and ANY occurrence in a module
not listed — fails here with the rewrite instruction.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PLANS_DIR = Path(__file__).resolve().parents[1] / "sea_streamer_spark" / "plans"

#: the wrapped-product patterns (r11 ADVICE: cover BOTH operand orders
#: and the modulo sibling, not just the one spelling r10 froze):
#:  - lit * col feeding idiv_col's FIRST (numerator) argument;
#:  - the commuted col * lit inside that same first argument;
#:  - lit * col whose product then feeds `%` (the Hamilton-remainder
#:    shape — same silent BIGINT wrap, fixed by imod_col(..., scale=K)).
_PREMULT_PATTERNS = {
    "lit*col into idiv_col": re.compile(
        r"\bidiv_col\(\s*F\.lit\((?:[^()]|\([^()]*\))*\)\s*\*", re.S
    ),
    "col*lit into idiv_col": re.compile(
        r"\bidiv_col\([^,]*\*\s*F\.lit\(", re.S
    ),
    "lit*col into %": re.compile(
        r"F\.lit\((?:[^()]|\([^()]*\))*\)\s*\*[^\n%]*\)+\s*%\s*F\.", re.S
    ),
}

#: frozen audited baseline — per-module count of bounded legacy sites
#: per pattern. Do NOT bump these numbers for new code; pass scale= to
#: idiv_col/imod_col instead. r12 ratchet: 29 → 28 sites (the Hamilton
#: quota_floor migrated to scale=; the decile-rank `9*n+9` rank bound
#: in event_trends remains, n a per-source row count). The 28
#: sites were audited in three round-numbered modules (12 + 15 + 1) and
#: are keyed here by the family module each moved to. The modulo
#: pattern starts — and must stay — at zero everywhere (both r11 sites
#: migrated to imod_col).
_AUDITED_BASELINE = {
    "lit*col into idiv_col": {
        "dedup_eval.py": 1,
        "embedding.py": 1,
        "event_trends.py": 1,
        "order_analytics.py": 1,
        "quality_calibration.py": 5,
        "quality_drift.py": 1,
        "quality_gates.py": 5,
        "quality_signals.py": 1,
        "quality_text_signals.py": 5,
        "relational_stats.py": 1,
        "search.py": 1,
        "similarity_eval.py": 2,
        "span_dedup.py": 2,
        "text_stats.py": 1,
    },
    "col*lit into idiv_col": {},
    "lit*col into %": {},
}


def test_no_new_bigint_premultiply_into_idiv():
    offenders = {}
    for p in sorted(PLANS_DIR.rglob("*.py")):
        name = str(p.relative_to(PLANS_DIR))
        text = p.read_text()
        for pat_name, pat in _PREMULT_PATTERNS.items():
            n = len(pat.findall(text))
            allowed = _AUDITED_BASELINE[pat_name].get(name, 0)
            if n > allowed:
                offenders[(name, pat_name)] = (n, allowed)
    assert not offenders, (
        f"BIGINT pre-multiply feeding an exact-integer division/remainder "
        f"grew beyond the audited baseline: {offenders} (found > allowed). "
        f"F.lit(K) * col wraps silently in long space once col > 2^63/K; "
        f"use idiv_col(col, denom, scale=K) / imod_col(col, denom, "
        f"scale=K), which multiply inside DECIMAL(38,0)."
    )


def test_baseline_matches_reality():
    """If a legacy site is migrated to scale=, the baseline must be
    ratcheted DOWN in the same commit so it can never silently refill."""
    assert sum(sum(m.values()) for m in _AUDITED_BASELINE.values()) == 28
    for pat_name, per_module in _AUDITED_BASELINE.items():
        pat = _PREMULT_PATTERNS[pat_name]
        for name, allowed in per_module.items():
            n = len(pat.findall((PLANS_DIR / name).read_text()))
            assert n == allowed, (
                f"{name} [{pat_name}]: found {n} pre-multiply sites but "
                f"baseline says {allowed} — ratchet _AUDITED_BASELINE "
                f"down to {n}."
            )


# ---------------------------------------------------------------------------
# Duplication ratchet: each oracle fragment / Spark stage below has ONE
# definition under plans/ that every query calls. A copy pasted back in
# repeats the family's signature line and fails here — call the shared
# builder instead (new spellings get a parameter, not a second copy).

_SINGLE_DEFINITION = {
    # fragments.shingle_overlap_sql (every Jaccard / near-dup pairs CTE)
    "shingle overlap": "FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id",
    # fragments.undirected_edges_sql
    "undirected edges": "SELECT doc_a AS u, doc_b AS v FROM pairs",
    # fragments.DUCK_CC_LABELS
    "connected components": "cc(node, lbl) AS (",
    # fragments.ivf_cell_sql
    "IVF cell assignment": "'max').negcell) AS BIGINT)",
    # similarity.duck_ivf_probe
    "IVF probe": ") ORDER BY cs DESC, cell LIMIT",
    # tokenizers._duck_viterbi_dp
    "unigram Viterbi dp": "LEFT JOIN vocab v4 ON v4.piece",
    # dedup.DUCK_DUP_3GRAM_COVER
    "duplicated 3-gram cover": "s.pos + unnest([0, 1, 2]) AS idx",
    # dedup.DUCK_SPAN_REMOVAL_TAIL
    "span removal tail": "FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.idx = tp.idx",
    # semantic_dedup._build_cell_sweep_oracle / _cell_sweep
    "cell sweep oracle": "FROM assign{k} GROUP BY cell",
    "cell sweep": '"k", F.col("vec_id").alias("va"), F.col("cell").alias("cell_a")',
    # quality_gates._nb_cells_sql / _nb_cells
    "NB 2x2 cells oracle": "CAST(SUM(CASE WHEN truth AND score_pass >= score_fail",
    "NB 2x2 cells": 'F.sum(F.when(F.col("truth") & nb_pass, 1)',
    # quality_gates._NB_CONFUSION_SQL / _nb_confusion_aggs
    "NB confusion oracle": "CAST(SUM(CASE WHEN score_pass >= score_fail AND truth",
    "NB confusion": 'F.sum(F.when(pred & F.col("truth"), 1)',
    # order_analytics.duck_nation_customer_rev / nation_customer_rev
    "nation-customer revenue oracle": "SELECT n.n_name AS nation, c.c_custkey AS custkey",
    "nation-customer revenue": '.groupBy(F.col("n_name").alias("nation"), F.col("c_custkey"))',
}


def test_each_shared_fragment_has_one_definition():
    texts = [p.read_text() for p in sorted(PLANS_DIR.rglob("*.py"))]
    counts = {
        family: sum(t.count(sig) for t in texts)
        for family, sig in _SINGLE_DEFINITION.items()
    }
    assert all(n == 1 for n in counts.values()), (
        f"signature-line counts under plans/ (each must be 1): {counts}"
    )


def test_envelope_ddl_has_one_definition():
    pkg = PLANS_DIR.parent
    n = sum(
        p.read_text().count("stream_key string, shard_id bigint")
        for p in pkg.rglob("*.py")
    )
    assert n == 1, f"envelope DDL spelled {n} times; use model.ENVELOPE_DDL"


# ---------------------------------------------------------------------------
# Streaming-layer duplication ratchet: uri.reader_config is the one scheme
# resolver, and each backend decision below has one definition in the
# package. Resolve a URL with reader_config instead of re-parsing it.

_PKG_DIR = PLANS_DIR.parent


def _pkg_sources() -> dict[str, str]:
    return {
        str(p.relative_to(_PKG_DIR)): p.read_text() for p in sorted(_PKG_DIR.rglob("*.py"))
    }


def test_scheme_literals_and_host_split_live_in_uri_only():
    spots = {
        (path, needle)
        for path, text in _pkg_sources().items()
        for needle in ('"redis+fake"', '"iggy+fake"', '.partition(":")')
        if needle in text
    }
    assert {path for path, _ in spots} <= {"uri.py"}, (
        f"scheme resolution outside uri.reader_config: {sorted(spots)}"
    )


def test_each_backend_decision_has_one_definition():
    texts = _pkg_sources().values()
    counts = {
        "host split": sum(t.count('.partition(":")') for t in texts),
        "shard discovery": sum(len(re.findall(r"^def discover_shard", t, re.M)) for t in texts),
        "starting_offsets mode mapping": sum(
            t.count('ConsumerMode.RealTime else "earliest"') for t in texts
        ),
    }
    assert all(n == 1 for n in counts.values()), f"definitions (each must be 1): {counts}"


# ---------------------------------------------------------------------------
# Layout ratchet: plans/ holds one module per query family, named for what
# it holds. A query goes to the family its tags name first; a helper goes
# with its only family; a Spark helper two families share lives in
# operators/ and a shared DuckDB fragment in plans/fragments.py, both under
# public names.

_MAX_PLAN_MODULE_LINES = 1500


def _plan_modules() -> dict[str, ast.Module]:
    return {
        str(p.relative_to(PLANS_DIR)): ast.parse(p.read_text())
        for p in sorted(PLANS_DIR.rglob("*.py"))
    }


def test_no_round_numbered_plan_modules():
    numbered = [p for p in _plan_modules() if re.search(r"\d+\.py$", p)]
    assert not numbered, f"plan modules named for a round, not a family: {numbered}"


def test_plan_modules_stay_small():
    sizes = {p.name: len(p.read_text().splitlines()) for p in PLANS_DIR.rglob("*.py")}
    big = {n: k for n, k in sizes.items() if k > _MAX_PLAN_MODULE_LINES}
    assert not big, (
        f"plan modules over {_MAX_PLAN_MODULE_LINES} lines: {big} — split the "
        f"family into modules named for what they hold"
    )


def _plan_imports(tree: ast.Module):
    """(ImportFrom node, is_function_local) for imports of a sibling plan
    module (``from .x import ...``)."""
    local = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        for n in ast.walk(f)
    }
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.level == 1 and n.module:
            yield n, id(n) in local


def test_no_private_names_imported_across_plan_modules():
    leaks = sorted(
        (path, node.module, a.name)
        for path, tree in _plan_modules().items()
        for node, _ in _plan_imports(tree)
        for a in node.names
        if a.name.startswith("_")
    )
    assert not leaks, (
        f"plan modules importing another plan module's private names: {leaks} "
        f"— a helper used outside its module gets a public name"
    )


def test_no_function_local_plan_imports():
    local = sorted(
        (path, node.module, node.lineno)
        for path, tree in _plan_modules().items()
        for node, is_local in _plan_imports(tree)
        if is_local
    )
    assert not local, f"function-local imports of plan modules: {local}"
