"""Oracle-side pieces shared by more than one query family: the shingle
sets, overlaps and near-dup pairs, undirected edges and connected
components, dot/cosine folds, the gate corpus (``ORACLE_SF_DIR``) and the
IVF quantizer trained once on its sample, IVF cell assignment, the Gopher
pass, the semantic-dedup scoring SQL, PII injection/redaction SQL and the
Adamic-Adar graph CTEs. The Spark side of a stage several families share
is in ``operators/``.
"""

from __future__ import annotations

import os

from ..operators import similarity as S
from ..operators import text as T
from ..operators.linkpred import LP_MIN_CO
from ..operators.pii import PII_PATTERNS


TOKS = T.duck_tokens("text")


DUCK_SHINGLE_SETS = """
  shing AS (
    SELECT doc_id, w1 || ' ' || w2 || ' ' || w3 AS sh FROM (
      SELECT doc_id, w AS w1,
             lead(w,1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             lead(w,2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
      FROM (SELECT doc_id, generate_subscripts({toks},1) AS pos,
                   unnest({toks}) AS w FROM documents)
    ) WHERE w3 IS NOT NULL
  ),
  ds AS (SELECT DISTINCT doc_id, sh FROM shing),
  sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id)
""".format(toks=TOKS)


def shingle_overlap_sql(inter: str = "COUNT(*) AS inter") -> str:
    """Shared-shingle count per doc pair (doc_a < doc_b) over ``ds``."""
    return f"""
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {inter}
      FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2"""


def near_dup_pairs_sql(select: str = "doc_a, doc_b", floor: float = 0.5) -> str:
    """Body of the near-dup ``pairs`` CTE: doc pairs whose shingle-set
    Jaccard is at least ``floor`` (``select`` may also read ``inter`` and
    the ``sa``/``sb`` sizes)."""
    return f"""
      SELECT {select} FROM ({shingle_overlap_sql()}
      ) p
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {floor}"""


NEAR_DUP_PAIRS = near_dup_pairs_sql()


def undirected_edges_sql(union: str = "UNION ALL") -> str:
    """Both directions (u, v) of every ``pairs`` row."""
    return f"SELECT doc_a AS u, doc_b AS v FROM pairs {union} SELECT doc_b, doc_a FROM pairs"


UNDIRECTED_EDGES = undirected_edges_sql()


#: Connected components of ``e`` by recursive min-label propagation:
#: ``lbls(node, cluster)`` with cluster = the component's smallest node.
DUCK_CC_LABELS = """cc(node, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM e)
      UNION
      SELECT e.v, cc.lbl FROM cc JOIN e ON e.u = cc.node
    ),
    lbls AS (SELECT node, MIN(lbl) AS cluster FROM cc GROUP BY node)"""


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def duck_cosine(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / (SQRT({duck_dot(a, a)}) * SQRT({duck_dot(b, b)})))"


#: The driver's correctness gate runs at this scale factor; the IVF oracle
#: bakes quantizer centroids for exactly this data (see _build_ivf_oracle).
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


#: Shared, process-wide cache for the import-time ANN oracle builders: ONE
#: DuckDB sample scan and ONE training per (kind, params) — four builders
#: (IVF, PQ, IVF-PQ, semantic-dedup) previously each re-scanned the parquet
#: and re-ran identical k-means/PQ trainings at every import.
ORACLE_TRAIN: dict = {}


def oracle_sample():
    """The 4096-row portable-hash training sample from ORACLE_SF_DIR (the
    exact rows every quantizer trains on — smallest (char_fold(md5(id)), id)
    keys), or None when the gate parquet is absent/unreadable."""
    if "X" not in ORACLE_TRAIN:
        f = os.path.join(ORACLE_SF_DIR, "embeddings.parquet")
        if not os.path.exists(f):
            # do NOT cache absence: testdata may appear later in-process
            # (mirrors whiten_fit_np / dsir_grid_np / bpe_train_py)
            return None
        # read errors on PRESENT gate data propagate — swallowing them
        # would silently drop every ANN oracle from sweeps (r3 ADVICE #1)
        import duckdb
        import numpy as np

        key = T.duck_char_fold("md5(CAST(vec_id AS VARCHAR))")
        rows = duckdb.sql(
            f"SELECT embedding FROM '{f}' ORDER BY {key}, vec_id LIMIT 4096"
        ).fetchall()
        ORACLE_TRAIN["X"] = np.array(
            [list(r[0]) for r in rows], dtype=np.float64
        )
    return ORACLE_TRAIN["X"]


def oracle_ivf_centroids(n_cells: int = 16, iters: int = 8):
    """Memoized spherical-k-means centroids over :func:`oracle_sample`.
    Degenerate gate data (too few rows, ragged dims) yields None — the
    builders fall back to rows-only checks instead of crashing the import
    (the @query decorators evaluate these at module load)."""
    key = ("cent", n_cells, iters)
    if key not in ORACLE_TRAIN:
        X = oracle_sample()
        try:
            ORACLE_TRAIN[key] = (
                None if X is None else S.ivf_kmeans(X, n_cells=n_cells, iters=iters)
            )
        except Exception:
            ORACLE_TRAIN[key] = None
    return ORACLE_TRAIN[key]


def gate_ivf_centroids(n_cells: int = 16):
    """Gate-pinned quantizer for the REGISTERED ANN queries, as the
    (cell, vec) list the operators take. Training is pinned to the
    ORACLE_SF_DIR sample (train-once-apply-at-any-scale — the whiten
    convention), so each query matches its centroid-literal oracle at
    EVERY sf, not just the gate. Returns None when gate data is absent
    (queries then fall back to training on their own sf)."""
    C = oracle_ivf_centroids(n_cells)
    if C is None:
        return None
    return [(i, [float(x) for x in C[i]]) for i in range(len(C))]


def lit_vec(v) -> str:
    """A float64 vector as a DuckDB list literal (repr round-trips bits)."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def cell_structs_sql(C, vec: str = "embedding") -> str:
    """The struct-max argmax snippet assigning ``vec`` to its nearest
    centroid (smaller-cell tie-break via (sim, -cell)); shared verbatim by
    the IVF, IVF-PQ and semantic-dedup oracles so the assignment SQL cannot
    drift between them."""
    return ", ".join(
        "{'sim': " + duck_dot(vec, lit_vec(C[i]))
        + f", 'negcell': CAST({-i} AS BIGINT)}}"
        for i in range(len(C))
    )


def ivf_cell_sql(C, alias: str) -> str:
    """``embedding``'s nearest-centroid cell id (see cell_structs_sql) as
    a BIGINT column named ``alias``."""
    return f"CAST(-(list_aggregate([{cell_structs_sql(C)}], 'max').negcell) AS BIGINT) AS {alias}"


# SemDeDup (Abbas et al., arXiv:2303.09540): cluster embeddings with a cheap
# quantizer, then near-dup only *within* clusters — the pruning that turns
# O(n^2) semantic dedup into per-cell blocks.
SEM_CELLS, SEM_THRESHOLD = 16, 0.45


# Wave 13 — model-based quality filtering, the family GPT-3's WebText
# classifier / CCNet's fastText filters belong to, in the one
# formulation that is EXACTLY replayable across engines: multinomial
# Naive Bayes with Laplace smoothing (all statistics are counts; every
# log-prob is micro-rounded per WORD TYPE and summed as BIGINT×count).
# The training signal is weak supervision: the repo's own Gopher rule
# labels the even-doc_id half; the model then scores the held-out odd
# half and we measure how faithfully the distilled classifier reproduces
# the rule it never saw — the distillation-fidelity table a pipeline
# publishes before swapping a cheap model in for an expensive gate.
def duck_gopher_pass() -> str:
    """The Gopher pass predicate as a SQL fragment over ``documents`` —
    operand-for-operand the quality_gopher_flags oracle (quality_signals.py)."""
    from ..operators import quality as Q
    from ..operators import text as T

    TOKS = T.duck_tokens("text")
    return f"""
    labels AS (
      SELECT doc_id,
             (n_words BETWEEN {Q.MIN_WORDS} AND {Q.MAX_WORDS})
               AND (mean_word_len BETWEEN {Q.MIN_MEAN_WORD_LEN}
                    AND {Q.MAX_MEAN_WORD_LEN})
               AND n_distinct_stopwords >= {Q.MIN_DISTINCT_STOPWORDS}
               AND symbol_ratio <= {Q.MAX_SYMBOL_RATIO} AS passes
      FROM (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(toks, w -> CAST(length(w) AS BIGINT))),
                    (a,b) -> a+b) AS DOUBLE) / len(toks) AS mean_word_len,
               CAST(len(list_intersect(list_distinct(toks),
                    {list(T.STOPWORDS)!r})) AS BIGINT)
                 AS n_distinct_stopwords,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(text) AS symbol_ratio
        FROM (SELECT doc_id, text, {TOKS} AS toks FROM documents)
      )
    )"""


def semantic_scored_sql(n_cells: int = SEM_CELLS) -> str:
    """The shared oracle CTE chain (cent → assigned → scored) — cell
    assignment SQL single-sourced via ivf_cell_sql, centroid literals
    via the same gate-pinned quantizer the Spark side uses."""

    C = oracle_ivf_centroids(n_cells=n_cells, iters=8)
    if C is None:  # gate data absent: oracle never runs, placeholder
        return "cent(cell, cvec) AS (VALUES (0, [0.0]))," \
               " assigned AS (SELECT 0 AS vec_id, [0.0] AS embedding, 0 AS cell)," \
               " scored AS (SELECT 0 AS vec_id, [0.0] AS embedding," \
               " 0 AS cell, 0 AS cos_c_micro)"
    cent_rows = ", ".join(
        f"({i}, {lit_vec(C[i])})" for i in range(len(C))
    )
    return f"""cent(cell, cvec) AS (VALUES {cent_rows}),
    assigned AS (
      SELECT vec_id, embedding,
             {ivf_cell_sql(C, 'cell')}
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id, a.embedding, a.cell,
             CAST(FLOOR({duck_cosine('a.embedding', 'c.cvec')} * 1000000
                        + 0.5) AS BIGINT) AS cos_c_micro
      FROM assigned a JOIN cent c ON c.cell = a.cell
    )"""


PII_INJECT_SQL = """CASE doc_id % 7
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org'
      WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')
      WHEN 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
                  || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
      WHEN 3 THEN ' id ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id * 3 % 100 AS VARCHAR), 2, '0')
                  || '-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0')
      WHEN 4 THEN ' card ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || '-' || lpad(CAST(doc_id * 3 % 10000 AS VARCHAR), 4, '0')
                  || '-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0')
                  || '-' || lpad(CAST(doc_id * 11 % 10000 AS VARCHAR), 4, '0')
      ELSE ''
    END"""


def redact_chain_sql(expr: str) -> str:
    out = expr
    for _, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


#: shared co-purchase-graph CTE text (pairs/e/deg/wedges) — single-sourced
#: by the registered AA oracle below AND its hub-capped variant, so
#: the two can never disagree on the graph they score.
AA_GRAPH_CTES = f"""pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {LP_MIN_CO}
    ),
    e AS (SELECT pa AS u, pb AS v FROM pairs
          UNION ALL SELECT pb, pa FROM pairs),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    wedges AS (
      SELECT a.v AS u, b.v AS v, a.u AS w
      FROM e a JOIN e b ON b.u = a.u AND a.v < b.v
    )"""
