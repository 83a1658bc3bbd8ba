"""Aggregate module: importing this populates the full query registry.

Registration order has no effect on ``queries()``: every registered query
has strict-green driver evidence, so the re-rank below orders the registry
entirely by the ``CORRECTNESS_r*.json`` artifacts. The order and every
oracle's text are pinned by ``tests/test_rank_loader.py``.
"""

from . import relational  # noqa: F401
from . import relational2  # noqa: F401
from . import relational3  # noqa: F401
from . import relational4  # noqa: F401
from . import relational5  # noqa: F401
from . import streaming_ops  # noqa: F401
from . import llm_ops  # noqa: F401
from . import llm_ops2  # noqa: F401
from . import llm_ops3  # noqa: F401
from . import llm_ops4  # noqa: F401
from . import llm_ops5  # noqa: F401
from . import llm_ops6  # noqa: F401
from . import llm_ops7  # noqa: F401
from . import llm_ops8  # noqa: F401
from . import llm_ops9  # noqa: F401
from . import llm_ops10  # noqa: F401
from . import llm_ops11  # noqa: F401
from . import llm_ops12  # noqa: F401
from . import llm_ops13  # noqa: F401
from . import llm_ops14  # noqa: F401
from . import llm_ops15  # noqa: F401
from . import llm_ops16  # noqa: F401

from .registry import QUERIES, oracle_sql, queries  # noqa: F401

# ---------------------------------------------------------------------------
# Driver-sampling re-rank (VERDICT r8 "Next round" #4/#5).
#
# The correctness driver walks ``queries()`` in order under a ~50-row
# budget, so ordering decides what gets independently verified each round.
# Policy (unchanged since round 4): never-driver-sampled registrations
# first (in module-import registration order), then re-verification by
# LATEST green driver evidence, oldest round first, preserving each
# round's driver-row order within the round.
#
# Rounds 4-8 maintained this as hand-kept ``_R0x_DRIVER_VERIFIED`` tuples
# copied from the CORRECTNESS_r0x.json artifacts; the arithmetic drifted
# twice (r6's "~34" miscount, r7 VERDICT "What's wrong" #3; a stale
# docstring count in r5 ADVICE). Round 9 replaces the ~280 lines of
# tuples with this loader over the artifacts themselves — the ordering is
# now definitionally the CORRECTNESS union, and
# ``tests/test_rank_loader.py`` pins that it reproduces the r1-r7 hand
# ordering exactly plus the r8-predicted composition (stale floor = 43
# r3-latest rows).
#
# A row counts as green evidence only when it is STRICT green
# (``err`` null and rows/schema/hash all true): red/err rows leave the
# query ranked by its previous green round (or -1 if never green), so it
# re-samples immediately — identical to the hand-tuple exclusion rule
# (the four r02 non-green rows were excluded by hand the same way).
#
# Historical note (r6/r7 ADVICE): the r6 "never-sampled front" tuple that
# once documented WHY ten queries led the r6 ordering is gone with the
# rest; the WHY now lives in the policy statement above.
# ---------------------------------------------------------------------------

import json as _json
import re as _re
from pathlib import Path as _Path


def _load_driver_evidence(root: "_Path | None" = None) -> dict:
    """Latest strict-green driver evidence per query.

    Reads every ``CORRECTNESS_r*.json`` at the repo root and returns
    ``{query_name: (round, row_index)}`` where ``round`` is the LATEST
    round with a strict-green row for the query and ``row_index`` its
    position in that round's artifact (driver-row order). Missing or
    unreadable artifacts are skipped — with none present every query
    ranks ``(-1, 0)`` and the stable sort preserves registration order.
    """
    if root is None:
        root = _Path(__file__).resolve().parents[2]
    evidence: dict = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = _json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for idx, (name, row) in enumerate(rows.items()):
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
            )
            if green:
                # Artifacts are scanned in ascending round order, so a
                # later round simply overwrites: latest evidence wins.
                evidence[name] = (rnd, idx)
    return evidence


_EVIDENCE = _load_driver_evidence()


def _rank(item: tuple) -> tuple:
    """Sort key: never-sampled first, then oldest-latest-evidence first."""
    return _EVIDENCE.get(item[0], (-1, 0))


_ordered = sorted(QUERIES.items(), key=_rank)
_snapshot = dict(_ordered)
QUERIES.clear()
QUERIES.update(_snapshot)
