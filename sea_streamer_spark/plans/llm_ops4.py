"""LLM-pipeline queries, part 4 (registered late in round 3, ranked AFTER
the driver's 50-query backlog window — since r9, ordering is loader-derived in plans/queries.py):
exact-substring dedup coverage, Bloom-gated incremental dedup, the corpus
char-bigram LM quality score, and PCA-whitening projection.

Float determinism follows the part-3 convention: any per-row float
contribution that gets summed is micro-rounded to BIGINT first
(order-independent), and any float expression shared with the oracle uses
the identical operand types and fold order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.bloom import bloom_incremental_dedup
from ..operators.dedup import duplicated_span_coverage
from ..operators.quality import char_lm_score
from ..sources.tables import load_tables
from .llm_ops import (
    DUCK_DUP_3GRAM_COVER,
    DUCK_SHINGLE_SETS,
    NEAR_DUP_CLUSTERS,
    NEAR_DUP_PAIRS,
    ORACLE_SF_DIR,
    UNDIRECTED_EDGES,
    lit_vec,
)
from .registry import query

_TOKS = "string_split_regex(text, '\\s+')"


#: Shared by dedup_span_coverage and its salted (skew-immune) variant —
#: same semantics, different physical plan, one oracle.
_SPAN_COVERAGE_ORACLE = f"""
    WITH {DUCK_DUP_3GRAM_COVER}, covered AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CAST(CASE WHEN len(t.tk) > 0
                THEN FLOOR(COALESCE(c.covered_tokens, 0) * 1000.0 / len(t.tk))
                ELSE 0 END AS BIGINT) AS dup_permille
    FROM toks t LEFT JOIN covered c USING (doc_id)
    ORDER BY doc_id
    """


@query(
    "dedup_span_coverage",
    oracle=_SPAN_COVERAGE_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage (Lee et al. arXiv:2107.06499,
    the exact-substring dedup metric as a k-gram corpus join) — see
    operators/dedup.duplicated_span_coverage for the plan shape (positional
    k-gram explode, one k-gram-keyed count shuffle, same-key join back,
    doc-keyed distinct-covered-index count; never corpus²)."""
    t = load_tables(spark, sf_dir, "documents")
    return duplicated_span_coverage(t.documents).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "covered_tokens",
        "dup_permille",
    ).orderBy("doc_id")


@query(
    "dedup_span_coverage_salted",
    oracle=_SPAN_COVERAGE_ORACLE,
    tags=("llm", "dedup", "skew"),
)
def dedup_span_coverage_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-immune salted-two-phase formulation of span coverage (the
    production swap r4 ADVICE #4 asked to be named): groupBy count with
    map-side partials + an n_salts-replicated join back, so a boilerplate
    k-gram costs n_salts bounded tasks instead of one hot window partition.
    Same output (and the SAME oracle) as dedup_span_coverage — registered
    separately so the swap is itself correctness-proven, not just
    documented. See operators/dedup.duplicated_span_coverage_salted."""
    from ..operators.dedup import duplicated_span_coverage_salted

    t = load_tables(spark, sf_dir, "documents")
    return duplicated_span_coverage_salted(t.documents).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "covered_tokens",
        "dup_permille",
    ).orderBy("doc_id")


@query(
    "dedup_bloom_incremental",
    oracle="""
    SELECT n.doc_id, md5(n.text) AS fp
    FROM documents n
    WHERE n.doc_id >= 300
      AND NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.doc_id < 350 AND md5(c.text) = md5(n.text)
      )
    ORDER BY n.doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup through the Bloom membership gate
    (operators/bloom.py): docs ≥300 are the fresh batch, docs <350 the
    historical corpus (fingerprint = md5(text)). The registered result is
    EXACT — identical to the plain anti-join the oracle runs — because the
    filter has no false negatives and maybe-dups are verified; the Bloom's
    only job is keeping the corpus join off the provably-new rows."""
    docs = load_tables(spark, sf_dir, "documents").documents
    corpus = docs.filter(F.col("doc_id") < 350).select(F.md5("text").alias("fp"))
    new = docs.filter(F.col("doc_id") >= 300).select(
        "doc_id", F.md5("text").alias("fp")
    )
    return (
        bloom_incremental_dedup(new, corpus, "fp", m_bits=1 << 16, g=5)
        .orderBy("doc_id")
    )


@query(
    "quality_char_lm",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - 1)) AS i
      FROM documents WHERE length(text) >= 2
    ), bg AS (
      SELECT doc_id, substr(text, i, 2) AS bigram FROM pos
    ), model AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bg GROUP BY bigram
    ), model2 AS (
      SELECT bigram, n_ab,
             SUM(n_ab) OVER (PARTITION BY substr(bigram, 1, 1)) AS n_a
      FROM model
    ), logp AS (
      SELECT bigram, ln(CAST(n_ab + 1 AS DOUBLE) / (n_a + 256)) AS lp FROM model2
    ), scored AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(ROUND(lp * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_logp_micro
      FROM bg JOIN logp USING (bigram) GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.sum_logp_micro, 0) AS BIGINT) AS sum_logp_micro
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("llm", "quality"),
)
def quality_char_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained Laplace char-bigram LM quality score
    (operators/quality.char_lm_score — one bigram explode feeds both the
    broadcastable model and the per-doc aggregates). The registered columns
    are the fixed-point order-independent pair (n_bigrams,
    sum_logp_micro); per-bigram log-probs are micro-rounded BEFORE the sum
    so the hash is immune to float summation order."""
    docs = load_tables(spark, sf_dir, "documents").documents
    return char_lm_score(docs).select(
        "doc_id", "n_bigrams", "sum_logp_micro"
    ).orderBy("doc_id")


# ----------------------------------------------------------- whitening query

_WHITEN_K = 4
_whiten_cache: dict[str, object] = {}


def whiten_fit_np(parquet_path: str, k: int = _WHITEN_K):
    """Deterministic single-order numpy PCA fit over an embeddings parquet
    (the oracle-trainer replica of operators/embedding.fit_whiten — the
    distributed sufficient-statistic fit is float-partition-order dependent
    in the last ulp, so the REGISTERED query and its oracle share this
    driver-side fit; the distributed op is the 100 TB fitting path).
    Returns (mu, W) or None when the file is absent/degenerate."""
    key = f"{parquet_path}|{k}"
    if key not in _whiten_cache:
        # Only an ABSENT gate parquet is an expected skip (don't cache —
        # testdata may appear later in the process). Fit errors on present
        # data must propagate: swallowing them silently registers
        # oracle=None and drops the query from sweeps (r3 ADVICE #1).
        if not os.path.exists(parquet_path):
            return None
        import numpy as np
        import pyarrow.parquet as pq

        x = np.asarray(
            pq.read_table(parquet_path, columns=["embedding"])
            .column("embedding")
            .to_pylist(),
            dtype=np.float64,
        )
        if x.ndim != 2 or x.shape[0] < 2:  # degenerate gate data
            return None
        mu = x.mean(axis=0)
        xc = x - mu
        lam, vec = np.linalg.eigh(xc.T @ xc / x.shape[0])
        order = np.argsort(lam)[::-1][:k]
        lam, vec = np.maximum(lam[order], 0.0), vec[:, order]
        for j in range(vec.shape[1]):
            i = int(np.argmax(np.abs(vec[:, j])))
            if vec[i, j] < 0:
                vec[:, j] = -vec[:, j]
        w = vec / np.sqrt(lam + 1e-6)
        _whiten_cache[key] = (mu, w)
    return _whiten_cache[key]


def _duck_diff_dot(mu_lit: str, w_lit: str) -> str:
    """DuckDB fold for (embedding - mu)·w — operand types and fold order
    identical to the Spark side (zip, cast-to-double, left-to-right sum)."""
    diff = (
        f"list_transform(list_zip(embedding, {mu_lit}), "
        f"s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    )
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({diff}, {w_lit}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def _build_whiten_oracle() -> str | None:
    model = whiten_fit_np(os.path.join(ORACLE_SF_DIR, "embeddings.parquet"))
    if model is None:
        return None
    mu, w = model
    mu_lit = lit_vec(mu)
    cols = ", ".join(
        f"CAST(ROUND({_duck_diff_dot(mu_lit, lit_vec(w[:, j]))} * 1000000.0) "
        f"AS BIGINT) AS y{j}"
        for j in range(w.shape[1])
    )
    return f"SELECT vec_id, {cols} FROM embeddings ORDER BY vec_id"


@query(
    "embedding_whiten_project",
    oracle=_build_whiten_oracle(),
    tags=("llm", "similarity"),
)
def embedding_whiten_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening projection onto the top-4 principal directions
    (operators/embedding.py rationale): model fitted once driver-side from
    the ORACLE_SF_DIR gate corpus (numpy, deterministic — see
    whiten_fit_np; fit_whiten is the distributed-fit path), μ/W shipped as
    column literals, projection = JVM-side zip_with/aggregate folds (the
    similarity.dot contract — bit-identical to the oracle's list_reduce),
    outputs micro-rounded BIGINT. Map-only at any scale. The fit is
    PINNED to the gate corpus (train-once, apply-at-any-scale — the
    ann_ivf convention), so query and oracle agree at EVERY sf; falls
    back to the query sf's parquet only when the gate file is absent."""
    model = whiten_fit_np(os.path.join(ORACLE_SF_DIR, "embeddings.parquet"))
    if model is None:
        model = whiten_fit_np(os.path.join(sf_dir, "embeddings.parquet"))
    if model is None:
        raise FileNotFoundError(f"no embeddings parquet under {sf_dir}")
    mu, w = model
    t = load_tables(spark, sf_dir, "embeddings")
    # r13: one-parse literals (litexpr contract: folds to the bit-identical
    # IEEE double literal) — F.lit(list) marshalled the 64-d μ and the
    # 64×k W columns per element through py4j at every plan build.
    from ..operators.litexpr import lit_doubles

    mu_lit = lit_doubles(float(v) for v in mu)
    diff = F.zip_with(
        F.col("embedding"), mu_lit, lambda x, y: x.cast("double") - y.cast("double")
    )
    cols = [
        F.round(S.dot(diff, lit_doubles(float(v) for v in w[:, j])) * 1_000_000)
        .cast("long")
        .alias(f"y{j}")
        for j in range(w.shape[1])
    ]
    return t.embeddings.select("vec_id", *cols).orderBy("vec_id")


# ------------------------------------------------------ count-min heavy hitters

from ..operators import text as T  # noqa: E402
from ..operators.sketch import CMS_AB, cms_build, cms_estimate_expr  # noqa: E402

_CMS_W = 1024


def _cms_oracle() -> str:
    fold = T.duck_char_fold("token")
    kcols = ", ".join(
        f"(({a} * h + {b}) % 1000000007) % {_CMS_W} AS k{j}"
        for j, (a, b) in enumerate(CMS_AB)
    )
    unions = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, k{j} AS k, n_exact FROM buckets" for j in range(len(CMS_AB))
    )
    joins = "\n    ".join(
        f"JOIN grid g{j} ON g{j}.j = {j} AND g{j}.k = t.k{j}" for j in range(len(CMS_AB))
    )
    least = ", ".join(f"g{j}.c" for j in range(len(CMS_AB)))
    return f"""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM (SELECT unnest({T.duck_tokens('text')}) AS token FROM documents)
      GROUP BY token
    ), h AS (
      SELECT token, n_exact, {fold} AS h FROM tf
    ), buckets AS (
      SELECT token, n_exact, {kcols} FROM h
    ), grid AS (
      SELECT j, k, CAST(SUM(n_exact) AS BIGINT) AS c
      FROM ({unions})
      GROUP BY j, k
    ), topk AS (
      SELECT * FROM buckets ORDER BY n_exact DESC, token LIMIT 20
    )
    SELECT t.token, t.n_exact, LEAST({least}) AS n_est
    FROM topk t
    {joins}
    ORDER BY t.n_exact DESC, t.token
    """


@query(
    "sketch_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("llm", "sketch"),
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens with exact counts AND their Count-Min sketch
    estimates (operators/sketch.py — d×w counter grid, geometry-bounded
    build, map-side literal-lookup probe). The exact counts are the truth
    the sketch is judged against; the DuckDB oracle REBUILDS the entire
    grid in SQL (the portable polynomial hash makes every bucket index
    replayable), so est>=exact one-sidedness and the exact estimates are
    both value-hash checked. The sketch is the bounded-memory path for
    live token-frequency tracking (cms_merge of per-batch deltas == one
    big build); this query is its audit."""
    docs = load_tables(spark, sf_dir, "documents").documents
    tf = (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    model = cms_build(tf, "token", width=_CMS_W, weight_col="n_exact")
    return (
        tf.orderBy(F.desc("n_exact"), "token")
        .limit(20)
        .select(
            "token",
            "n_exact",
            cms_estimate_expr(model, F.col("token")).alias("n_est"),
        )
        .orderBy(F.desc("n_exact"), "token")
    )


# ------------------------------------------------- trailing z-score anomalies

from ..streaming.anomaly import TRAIL as _Z_TRAIL  # noqa: E402 — shared
# trailing-window count: the streaming operator (streaming/anomaly.py) and
# this batch query must score identically, so the constant lives once


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS w,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), trail AS (
      SELECT event_type, w, c,
             CAST(COUNT(*)  OVER t AS BIGINT) AS n_hist,
             CAST(SUM(c)    OVER t AS BIGINT) AS s1,
             CAST(SUM(c*c)  OVER t AS BIGINT) AS s2
      FROM hourly
      WINDOW t AS (PARTITION BY event_type ORDER BY w
                   ROWS BETWEEN {_Z_TRAIL} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, w AS window_start, c,
           CAST(ROUND(
             (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n_hist)
             / SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_hist)
                    / n_hist + 1.0)
             * 1000000.0) AS BIGINT) AS z_micro
    FROM trail
    WHERE n_hist = {_Z_TRAIL}
    ORDER BY event_type, window_start
    """,
    tags=("streaming", "window", "llm"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection over the event stream:
    per (event_type, 1 h tumbling window) counts scored against the mean/
    stddev of the previous 24 fully-observed windows — the classic
    stream-analytics anomaly primitive (the processor-loop pattern P1 with
    state expressed as window frames instead of an imperative buffer).

    Plan: one keyed count shuffle + one window shuffle per event_type —
    both scale with distinct (type, hour) cardinality, not event volume
    (counts pre-aggregate map-side). Engine-exact: the trailing stats are
    INTEGER sums (s1, s2) folded into one double expression with identical
    operand order in both engines, then micro-rounded; +1.0 variance floor
    keeps constant-rate series finite. In streaming mode the same hourly
    counts come from the watermark windowed agg and the z-score joins
    against the persisted trailing table."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "events")
    hourly = (
        t.events.groupBy("event_type", F.window("ts", "1 hour").alias("wd"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select("event_type", F.col("wd.start").alias("window_start"), "c")
    )
    trail = Window.partitionBy("event_type").orderBy("window_start").rowsBetween(
        -_Z_TRAIL, -1
    )
    scored = hourly.select(
        "event_type",
        "window_start",
        "c",
        F.count(F.lit(1)).over(trail).cast("long").alias("n_hist"),
        F.sum("c").over(trail).cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(trail).cast("long").alias("s2"),
    ).filter(F.col("n_hist") == _Z_TRAIL)
    z = (
        (F.col("c").cast("double") - F.col("s1").cast("double") / F.col("n_hist"))
        / F.sqrt(
            (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n_hist"))
            / F.col("n_hist")
            + F.lit(1.0)
        )
    )
    return scored.select(
        "event_type",
        "window_start",
        "c",
        F.round(z * 1_000_000).cast("long").alias("z_micro"),
    ).orderBy("event_type", "window_start")


# ------------------------------------------------- DSIR importance selection

_DSIR_M = 512
_DSIR_K = 200
_dsir_cache: dict[str, object] = {}


def _duck_ngram_rel(where: str = "") -> str:
    """DuckDB relation yielding one row per token n-gram occurrence
    (unigrams + space-joined bigrams) — the SQL replay of
    operators/selection.token_ngrams."""
    return f"""
    WITH toks AS (
      SELECT string_split_regex(text, '\\s+') AS tk FROM documents {where}
    ), uni AS (
      SELECT unnest(tk) AS ng FROM toks
    ), bi AS (
      SELECT tk[i] || ' ' || tk[i + 1] AS ng
      FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
            FROM toks WHERE len(tk) >= 2)
    )
    SELECT ng FROM uni UNION ALL SELECT ng FROM bi"""


def dsir_grid_np(parquet_path: str, m: int = _DSIR_M):
    """Import-time DSIR fit from the gate corpus: target = ``lang='en'``
    documents, raw = all documents. Two m-bounded bucket-count grids via
    DuckDB (the oracle-trainer), log-ratios micro-rounded in Python by the
    SAME operators/selection.dsir_logratio_grid the operator exposes — the
    registered query and its oracle then share the grid as literals, so
    scoring is engine-exact integer arithmetic (whiten_fit_np rationale).
    Returns the m-int grid or None when the gate parquet is absent."""
    key = f"{parquet_path}|{m}"
    if key not in _dsir_cache:
        if not os.path.exists(parquet_path):
            return None  # expected skip (absent gate data, not cached);
            # training errors on present data propagate (r3 ADVICE #1)
        import duckdb

        from ..operators.selection import dsir_logratio_grid
        from ..operators.text import duck_char_fold

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{parquet_path}'"
        )

        def counts(where: str) -> list[int]:
            rows = con.execute(
                f"SELECT ({duck_char_fold('ng')}) % {m} AS bucket, "
                f"COUNT(*) AS n FROM ({_duck_ngram_rel(where)}) GROUP BY 1"
            ).fetchall()
            out = [0] * m
            for b, n in rows:
                out[int(b)] = int(n)
            return out

        _dsir_cache[key] = dsir_logratio_grid(
            counts("WHERE lang = 'en'"), counts(""), m
        )
    return _dsir_cache[key]


def _build_dsir_oracle() -> str | None:
    grid = dsir_grid_np(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if grid is None:
        return None
    from ..operators.text import duck_char_fold

    glit = "[" + ", ".join(str(v) for v in grid) + "]"
    return f"""
    WITH ng AS (
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents
      ), uni AS (
        SELECT doc_id, unnest(tk) AS ng FROM toks
      ), bi AS (
        SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS ng
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
              FROM toks WHERE len(tk) >= 2)
      )
      SELECT doc_id, ng FROM uni UNION ALL SELECT doc_id, ng FROM bi
    ), scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_ngrams,
             CAST(SUM(({glit})[(({duck_char_fold('ng')}) % {_DSIR_M}) + 1])
                  AS BIGINT) AS logw_micro
      FROM ng GROUP BY doc_id
    ), alldocs AS (
      -- NULL-text docs yield no ng rows but must still compete at logw 0
      -- (the Spark side's left-join-back-with-COALESCE contract)
      SELECT d.doc_id,
             CAST(COALESCE(s.n_ngrams, 0) AS BIGINT) AS n_ngrams,
             CAST(COALESCE(s.logw_micro, 0) AS BIGINT) AS logw_micro
      FROM documents d LEFT JOIN scored s USING (doc_id)
    )
    SELECT doc_id, n_ngrams, logw_micro
    FROM alldocs ORDER BY logw_micro DESC, doc_id LIMIT {_DSIR_K}"""


@query(
    "curation_dsir_select",
    oracle=_build_dsir_oracle(),
    tags=("llm", "curation"),
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169,
    operators/selection.py): hashed-n-gram importance weights against an
    English-target / full-corpus pair of bucket distributions fitted ONCE
    from the ORACLE_SF_DIR gate corpus (train-once-apply-at-any-scale —
    the whiten/ann_ivf convention, so query and oracle agree at every sf),
    then the deterministic top-k resampling cut. All-JVM scoring: bucket
    assignment and the literal-grid lookup are pure projections; the only
    shuffles are the doc-keyed sum and the TakeOrdered gather."""
    from ..operators.selection import dsir_select

    grid = dsir_grid_np(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if grid is None:
        grid = dsir_grid_np(os.path.join(sf_dir, "documents.parquet"))
    if grid is None:
        raise FileNotFoundError(f"no documents parquet under {sf_dir}")
    t = load_tables(spark, sf_dir, "documents")
    return dsir_select(t.documents, grid, _DSIR_K)


# ---------------------------------------------- near-dup PageRank centrality

_PR_ITERS = 4


def _build_pagerank_oracle() -> str:
    rounds = []
    for k in range(1, _PR_ITERS + 1):
        rounds.append(f"""
    c{k} AS (
      SELECT e.v AS node, SUM((p.s * 17) // (20 * d.deg)) AS inc
      FROM e JOIN it{k-1} p ON p.node = e.u JOIN deg d ON d.u = e.u
      GROUP BY e.v
    ), it{k} AS (
      SELECT n.node, CAST(150000 + COALESCE(c.inc, 0) AS BIGINT) AS s
      FROM n LEFT JOIN c{k} c USING (node)
    )""")
    return f"""
    WITH {DUCK_SHINGLE_SETS},
    pairs AS (
      {NEAR_DUP_PAIRS}
    ),
    e AS ({UNDIRECTED_EDGES}),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u),
    n AS (SELECT doc_id AS node FROM documents),
    it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM n),
    {",".join(rounds)}
    SELECT n.node AS doc_id,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
           f.s AS score_micro
    FROM n LEFT JOIN deg d ON d.u = n.node
    JOIN it{_PR_ITERS} f USING (node)
    ORDER BY doc_id"""


@query(
    "graph_neardup_pagerank",
    oracle=_build_pagerank_oracle(),
    tags=("llm", "dedup", "graph"),
)
def graph_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup graph
    (operators/graph.pagerank_fixed): MinHash-LSH verified pairs as the
    edge list, 4 synchronous integer-fixed-point push rounds — the
    canonical-representative signal that upgrades dedup_clusters' min-id
    keep-rule to "keep the most-connected member of each dup family".
    Engine-exact: BIGINT micro scores, integer-quotient contributions, so
    the unrolled-CTE DuckDB replay matches bit-for-bit. Edges partition
    once and stay put; each round shuffles only the per-node score row."""
    from ..operators import dedup as D
    from ..operators import graph as G

    t = load_tables(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    return G.pagerank_fixed(t.documents, pairs, iters=_PR_ITERS).orderBy(
        "doc_id"
    )


# ------------------------------------------------------------- BPE tokenizer

_BPE_MERGES = 24
_bpe_cache: dict[str, object] = {}


def bpe_train_py(parquet_path: str, n_merges: int = _BPE_MERGES):
    """Import-time oracle-trainer: DuckDB word counts from the gate corpus
    → the pure-python BPE trainer (operators/bpe.py_train_bpe, byte-level
    contract-identical to the distributed trainer). Returns the merge list
    or None when the gate parquet is absent."""
    key = f"{parquet_path}|{n_merges}"
    if key not in _bpe_cache:
        if not os.path.exists(parquet_path):
            return None  # absent gate data: expected skip, not cached;
            # training errors on present data propagate (r3 ADVICE #1)
        import duckdb

        from ..operators.bpe import py_train_bpe

        rows = duckdb.sql(
            f"SELECT w, COUNT(*) AS n FROM (SELECT unnest("
            f"string_split_regex(text, '\\s+')) AS w FROM "
            f"'{parquet_path}') WHERE len(w) > 0 GROUP BY w"
        ).fetchall()
        _bpe_cache[key] = py_train_bpe({w: int(n) for w, n in rows}, n_merges)
    return _bpe_cache[key]


def _sq(s: str) -> str:
    return s.replace("'", "''")


def _duck_merge_chain(merges) -> str:
    """DuckDB ``replace()`` chain applying ``merges`` in order to the
    space-separated symbols of ``s0``."""
    s = "s0"
    for left, right, _x in merges:
        s = (
            f"replace({s}, ' {_sq(left)} {_sq(right)} ',"
            f" ' {_sq(left)}{_sq(right)} ')"
        )
    return s


def _duck_merge_token_counts(merges, col: str) -> str:
    """Oracle of a merge-list tokenizer (BPE, WordPiece): per document the
    word count and the token count ``col`` after applying ``merges``."""
    return f"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents
      ) WHERE len(w) > 0
    ), ap AS (
      SELECT doc_id, {_duck_merge_chain(merges)} AS s FROM (
        SELECT doc_id,
               ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s0
        FROM words
      )
    ), tok AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT)
               AS {col}
      FROM ap GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(t.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(t.{col}, 0) AS BIGINT) AS {col}
    FROM documents d LEFT JOIN tok t USING (doc_id)
    ORDER BY d.doc_id"""


def _build_bpe_oracle() -> str | None:
    merges = bpe_train_py(os.path.join(ORACLE_SF_DIR, "documents.parquet"))
    if merges is None:
        return None
    return _duck_merge_token_counts(merges, "n_bpe_tokens")


def bpe_train_spark(spark: SparkSession, sf_dir: str):
    """Memoized DISTRIBUTED training run (operators/bpe.train_bpe) over the
    gate corpus — the registered query uses this, so the driver's value
    hash checks the distributed trainer end-to-end against the oracle's
    pure-python trainer: if any round's pair count, argmax tie-break, or
    merge application diverged, the learned merges — and hence every
    token count — would differ."""
    key = f"spark|{sf_dir}|{_BPE_MERGES}"
    if key not in _bpe_cache:
        from ..operators.bpe import train_bpe

        t = load_tables(spark, sf_dir, "documents")
        _bpe_cache[key] = train_bpe(t.documents, _BPE_MERGES)
    return _bpe_cache[key]


@query(
    "tokenizer_bpe_counts",
    oracle=_build_bpe_oracle(),
    tags=("llm", "text"),
)
def tokenizer_bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer (arXiv:1508.07909, operators/bpe.py): train 24 merges
    DISTRIBUTED on the gate corpus (word-frequency table → per-round
    pair-count shuffle + 1-row argmax + map-side merge; memoized
    per-process), then apply corpus-wide as a pure projection (merge list
    baked into the expression tree — zero shuffles, zero Python). Output =
    per-doc whitespace-word and BPE-token counts; the oracle retrains with
    the pure-python reference trainer and re-applies in SQL, so the driver
    hash proves trainer parity end-to-end."""
    from ..operators.bpe import bpe_token_count

    gate = ORACLE_SF_DIR if os.path.exists(
        os.path.join(ORACLE_SF_DIR, "documents.parquet")
    ) else sf_dir
    merges = bpe_train_spark(spark, gate)
    t = load_tables(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    return t.documents.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        bpe_token_count("text", merges).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


# ------------------------------------------------------ leakage-safe split

from ..operators import curation as C  # noqa: E402
from ..operators import dedup as D  # noqa: E402
from ..operators import graph as G  # noqa: E402


@query(
    "curation_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {NEAR_DUP_CLUSTERS},
    assigned AS (
      SELECT d.doc_id,
             CAST(COALESCE(l.cluster, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN lbls l ON l.node = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN {C.duck_split_bucket('cluster_id')} < 8000 THEN 'train'
                WHEN {C.duck_split_bucket('cluster_id')} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned ORDER BY doc_id
    """,
    tags=("llm", "curation", "dedup"),
)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash-split on the DEDUP-CLUSTER
    id, not the document id, so near-duplicates can never straddle splits
    (the eval-contamination failure mode of naive per-doc splitting). The
    composition is three existing primitives — MinHash-LSH pairs →
    large/small-star connected components → the portable-hash 80/10/10
    bucket rule applied to the cluster id. One extra shuffle versus the
    per-doc split (the CC rounds); the split assignment itself stays a
    pure projection."""
    t = load_tables(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(t.documents, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    clustered = G.dedup_clusters(t.documents, pairs)
    return (
        C.hash_split(clustered, id_col="cluster_id")
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    )


# ------------------------------------------------------------ z-order layout

_Z_BITS = 8
_zorder_cache: dict[str, object] = {}


def zorder_boundaries_np(parquet_path: str, bits: int = _Z_BITS):
    """Gate-pinned EXACT quantile cut points for the registered z-order
    query: 2^bits - 1 discrete quantiles of user_id and epoch_us(ts) from
    the gate events corpus (DuckDB quantile_disc → actual data values, so
    the literals are integers and engine-exact). The operator's scale path
    is approxQuantile (operators/layout.quantile_boundaries); pinning the
    registered query to gate literals follows the whiten/DSIR/BPE
    train-once convention so the oracle holds at every sf."""
    key = f"{parquet_path}|{bits}"
    if key not in _zorder_cache:
        if not os.path.exists(parquet_path):
            return None  # absent gate data: expected skip, not cached;
            # errors on present data propagate (r3 ADVICE #1)
        import duckdb

        n = (1 << bits) - 1
        qs = ", ".join(str(i / (n + 1)) for i in range(1, n + 1))
        u, t = duckdb.sql(
            f"SELECT quantile_disc(user_id, [{qs}]), "
            f"quantile_disc(epoch_us(ts), [{qs}]) FROM '{parquet_path}'"
        ).fetchone()
        _zorder_cache[key] = ([int(x) for x in u], [int(x) for x in t])
    return _zorder_cache[key]


def _duck_zval(bx: str, by: str, bits: int = _Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({bx}) // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({by}) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _build_zorder_oracle() -> str | None:
    bounds = zorder_boundaries_np(os.path.join(ORACLE_SF_DIR, "events.parquet"))
    if bounds is None:
        return None
    bu, bt = bounds

    def blit(bs):
        return "[" + ", ".join(str(v) for v in bs) + "]"

    bx = f"len(list_filter({blit(bu)}, b -> user_id >= b))"
    by = f"len(list_filter({blit(bt)}, b -> epoch_us(ts) >= b))"
    return f"""
    SELECT event_id,
           CAST({bx} AS INT) AS bx,
           CAST({by} AS INT) AS by,
           {_duck_zval(bx, by)} AS zval
    FROM events ORDER BY event_id"""


@query(
    "layout_zorder_events",
    oracle=_build_zorder_oracle(),
    tags=("layout", "scale"),
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event time) —
    operators/layout.py: bucket indices via a fold over gate-pinned
    quantile-literal arrays, bit-interleave via integer arithmetic; both
    pure map-side projections (no window, no shuffle — the classic
    ntile-based z-order funnels the corpus through ONE partition; this
    shape never does). The write path (repartitionByRange(zval) +
    sortWithinPartitions) and the measured row-group pruning win are
    pinned in tests/test_layout.py."""
    from ..operators.layout import bucket_expr, zvalue_expr

    bounds = zorder_boundaries_np(os.path.join(ORACLE_SF_DIR, "events.parquet"))
    if bounds is None:
        bounds = zorder_boundaries_np(os.path.join(sf_dir, "events.parquet"))
    if bounds is None:
        raise FileNotFoundError(f"no events parquet under {sf_dir}")
    bu, bt = bounds
    t = load_tables(spark, sf_dir, "events")
    bx = bucket_expr("user_id", bu).cast("int")
    by = bucket_expr(F.unix_micros(F.col("ts")), bt).cast("int")
    return (
        t.events.select("event_id", bx.alias("bx"), by.alias("by"))
        .select(
            "event_id",
            "bx",
            "by",
            zvalue_expr(F.col("bx"), F.col("by")).alias("zval"),
        )
        .orderBy("event_id")
    )


# ------------------------------------------------------------ table profiling

_PROFILE_COLS = ["doc_id", "lang", "n_chars", "source", "text"]


def _duck_profile_row(c: str) -> str:
    return (
        f"SELECT '{c}' AS column_name,"
        f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
        f" CAST(MIN({c}) AS VARCHAR) AS min_str,"
        f" CAST(MAX({c}) AS VARCHAR) AS max_str"
        f" FROM documents"
    )


@query(
    "profile_documents",
    oracle="\nUNION ALL ".join(_duck_profile_row(c) for c in _PROFILE_COLS)
    + "\nORDER BY column_name",
    tags=("llm", "quality"),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the documents table — the data-quality
    report every ingest gate starts with: row/null/exact-distinct counts
    and lexicographic min/max per column, ONE aggregation pass over the
    table (5 columns × 4 aggregates in a single groupBy-less agg; the
    5-row reshape explodes the 1-row aggregate, never re-scans). At scale
    swap exact COUNT(DISTINCT) for approx_count_distinct per tolerance —
    the exact form is the oracle-checkable contract."""
    t = load_tables(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = t.documents.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("column_name")
    )


# -------------------------------------------------- contrastive triple mining

from .llm_ops import _duck_cosine  # noqa: E402

_TRIP = dict(pos=0.45, lo=0.15, hi=0.35, n_neg=3)


@query(
    "triples_hard_negatives",
    oracle=f"""
    WITH p AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
             {_duck_cosine('a.embedding', 'b.embedding')} AS s
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), pos AS (
      SELECT anchor_id, cand_id AS pos_id, s AS pos_sim,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY s DESC, cand_id) AS rk
      FROM p WHERE s >= {_TRIP['pos']}
    ), neg AS (
      SELECT anchor_id, cand_id AS neg_id, s AS neg_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY s DESC, cand_id) AS INT) AS neg_rank
      FROM p WHERE s >= {_TRIP['lo']} AND s < {_TRIP['hi']}
    )
    SELECT pos.anchor_id, pos_id, pos_sim, neg_rank, neg_id, neg_sim
    FROM pos JOIN neg USING (anchor_id)
    WHERE pos.rk = 1 AND neg_rank <= {_TRIP['n_neg']}
    ORDER BY anchor_id, neg_rank
    """,
    tags=("llm", "similarity"),
)
def triples_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triples (operators/similarity.contrastive_triples):
    per anchor, the top positive at cos ≥ 0.45 plus the 3 hardest negatives
    in [0.15, 0.35) — the (anchor, positive, hard-negative) mining step of
    embedding-model training data. Exact all-pairs is the oracle contract
    (near_dup_pairs convention); the banded-LSH candidate swap is the
    documented scale path. Cosines are the shared JVM fold, bit-identical
    to the oracle's list_reduce."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.contrastive_triples(
        t.embeddings,
        pos_thresh=_TRIP["pos"],
        neg_lo=_TRIP["lo"],
        neg_hi=_TRIP["hi"],
        n_neg=_TRIP["n_neg"],
    ).orderBy("anchor_id", "neg_rank")


# -------------------------------------------------- cross-source contamination

@query(
    "contamination_matrix_sources",
    oracle=f"""
    WITH toks AS (
      SELECT source, {_TOKS} AS tk FROM documents
    ), pos AS (
      SELECT source, tk, unnest(generate_series(1, len(tk) - 2)) AS i
      FROM toks WHERE len(tk) >= 3
    ), sh AS (
      SELECT source, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS sh
      FROM pos
    ), ds AS (SELECT DISTINCT source, sh FROM sh)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_shingles
    FROM ds a JOIN ds b ON a.sh = b.sh AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "curation", "dedup"),
)
def contamination_matrix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: distinct shared 3-gram shingles
    per source pair — the corpus-audit view of decontamination (which
    sources copy from which). One distinct (source, shingle) relation, one
    shingle-keyed self-join (volume scales with shared text, never
    sources²×docs²), one pair-keyed count; the 20×20 output is trivially
    collectable at any corpus size."""
    from ..operators.dedup import shingles

    t = load_tables(spark, sf_dir, "documents")
    ds = (
        t.documents.select(
            "source", F.explode(shingles("text")).alias("sh")
        ).distinct()
    )
    a = ds.select(F.col("source").alias("source_a"), "sh")
    b = ds.select(F.col("source").alias("source_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_shingles"))
        .orderBy("source_a", "source_b")
    )


# ------------------------------------------------------------- portable HLL

from ..operators.sketch import HLL_M, HLL_W  # noqa: E402


@query(
    "sketch_hll_per_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({T.duck_tokens('text')}) AS token FROM documents
    ), h AS (
      SELECT source, {T.duck_char_fold("md5(token)")} AS h FROM tok
    ), br AS (
      SELECT source, CAST(h % {HLL_M} AS INT) AS bucket,
             CASE WHEN h // {HLL_M} = 0 THEN {HLL_W + 1}
                  ELSE {HLL_W + 1} - length(bin(h // {HLL_M})) END AS rho
      FROM h
    ), regs AS (
      SELECT source, bucket, MAX(rho) AS r FROM br GROUP BY source, bucket
    ), summ AS (
      SELECT source,
             CAST(SUM(CAST(1 AS BIGINT) << (32 - r)) AS BIGINT) AS present_sum,
             CAST(COUNT(*) AS BIGINT) AS n_present
      FROM regs GROUP BY source
    ), ex AS (
      SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS n_exact
      FROM tok GROUP BY source
    )
    SELECT s.source,
           CAST(s.present_sum + ({HLL_M} - s.n_present) * (CAST(1 AS BIGINT) << 32)
                AS BIGINT) AS denom_q32,
           CAST({HLL_M} - s.n_present AS BIGINT) AS zero_registers,
           e.n_exact
    FROM summ s JOIN ex e USING (source)
    ORDER BY s.source""",
    tags=("llm", "sketch"),
)
def sketch_hll_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog per source (operators/sketch.hll_registers):
    approximate distinct-token cardinality whose ENTIRE register build —
    fold, bucket, leading-zeros rank via bin-length — replays in SQL, so
    the sketch itself is value-hash checked at any sf (unlike Spark's
    xxhash64-based approx_count_distinct, which only a golden can pin).
    Output is the exact-integer summary (denom_q32, zero_registers) the
    float estimate derives from, plus the true distinct count the accuracy
    tests compare against. Build = one geometry-bounded register
    aggregate; registers merge by max ⇒ valid streaming accumulator."""
    from ..operators.sketch import hll_registers, hll_summary
    from ..operators.text import tokens

    t = load_tables(spark, sf_dir, "documents")
    tok = t.documents.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    regs = hll_registers(tok, "token", group_cols=["source"])
    summ = hll_summary(regs, group_cols=["source"])
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").cast("long").alias("n_exact")
    )
    return summ.join(exact, "source").select(
        "source", "denom_q32", "zero_registers", "n_exact"
    ).orderBy("source")


# ------------------------------------------------------------- portable KMV

from ..operators.sketch import KMV_K  # noqa: E402


@query(
    "sketch_kmv_jaccard_sources",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT source, unnest({T.duck_tokens('text')}) AS token
      FROM documents
    ), hs AS (
      SELECT DISTINCT source, {T.duck_char_fold("md5(token)")} AS h FROM tok
    ), kmv AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM hs
      ) WHERE rk <= {KMV_K}
    ), srcs AS (SELECT DISTINCT source FROM kmv),
    pairs AS (
      SELECT a.source AS ga, b.source AS gb
      FROM srcs a JOIN srcs b ON a.source < b.source
    ), uni AS (
      SELECT p.ga, p.gb, k.h, COUNT(DISTINCT k.source) AS sides
      FROM pairs p JOIN kmv k ON k.source = p.ga OR k.source = p.gb
      GROUP BY p.ga, p.gb, k.h
    ), top AS (
      SELECT ga, gb, h, sides,
             ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
      FROM uni
    )
    SELECT ga AS source_a, gb AS source_b,
           CAST(COUNT(*) AS BIGINT) AS k_used,
           CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS shared_in_topk
    FROM top WHERE rk <= {KMV_K}
    GROUP BY ga, gb ORDER BY source_a, source_b""",
    tags=("llm", "sketch"),
)
def sketch_kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard via KMV sketches
    (operators/sketch.kmv_sketch / kmv_pair_overlap, Beyer et al. 2007):
    the set-operation sketch — per source the k=256 smallest distinct
    md5-fold hash values, pairwise estimate = shared-in-top-k of the
    union, ALL integer set algebra ⇒ the oracle replays every step and
    the driver hash checks the sketches themselves. The scale story: the
    exact pairwise computation (contamination_matrix_sources) touches the
    full shared-token volume; this touches k rows per source regardless
    of corpus size."""
    from ..operators.sketch import kmv_pair_overlap, kmv_sketch
    from ..operators.text import tokens

    t = load_tables(spark, sf_dir, "documents")
    tok = t.documents.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    kmv = kmv_sketch(tok, "token", "source")
    return (
        kmv_pair_overlap(kmv, "source")
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "k_used",
            "shared_in_topk",
        )
        .orderBy("source_a", "source_b")
    )


# ----------------------------------------------------------- text normalize

@query(
    "text_normalize_stats",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS ntext
      FROM documents
    )
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS raw_chars,
           CAST(length(n.ntext) AS BIGINT) AS norm_chars,
           md5(n.ntext) AS norm_fp
    FROM documents d JOIN norm n USING (doc_id)
    ORDER BY d.doc_id""",
    tags=("llm", "text"),
)
def text_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the dedup-key preprocessing step:
    casefold → strip non-alphanumerics → squash whitespace → trim) as pure
    chained JVM regexp projections — zero shuffle, zero Python — with the
    md5 of the normalized form as the canonical fingerprint (what
    normalization-aware exact dedup keys on). Oracle replays the identical
    regex pipeline in DuckDB."""
    t = load_tables(spark, sf_dir, "documents")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return t.documents.select(
        "doc_id",
        F.length("text").cast("long").alias("raw_chars"),
        F.length(ntext).cast("long").alias("norm_chars"),
        F.md5(ntext).alias("norm_fp"),
    ).orderBy("doc_id")
