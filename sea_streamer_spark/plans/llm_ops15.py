"""Round-11 operator waves.

Wave 1 — Adamic-Adar hub cap, measured (r10 VERDICT task #4): the
registered ``graph_adamic_adar_linkpred`` (llm_ops14) is exact and
uncapped; its wedge volume is Σ deg(w)², which hub parts dominate at
production scale. The standard mitigation (Liben-Nowell & Kleinberg,
CIKM 2003 practice): drop wedge CENTERS with degree above a cap D —
each dropped center contributes only 1/ln(deg) per wedge (the smallest
terms in the score, by Adamic-Adar's own design), and per-center
fan-out becomes bounded at C(D,2). ``graph_adamic_adar_hubcapped``
REGISTERS the capped shape and measures exactly what the cap costs on
this corpus: wedge volume kept, AA mass kept, and top-20 agreement with
the uncapped registered row — the same measure-the-caveat discipline as
the CDC explode row and the SemDeDup cell sweep. Both engines
single-source the graph from llm_ops14 (``_aa_graph`` /
``_AA_GRAPH_CTES``), so the comparison can never drift from the row it
names.

House rules (llm_ops.py): integer fixed-point for every ranked
comparison, deterministic tie-breaks, every aggregate aliased
identically in Spark and the oracle.

Reference basis: the reference engine (sea-streamer, Rust) has no ops
layer — this family exists for the 100 TB training-data pipeline
mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..sources.tables import load_tables
from .llm_ops3 import _SEM_THRESHOLD
from .llm_ops14 import DUCK_ORDER_COHORTS, _build_cell_sweep_oracle, _cell_sweep
from .registry import query

# ---------------------------------------------------------------- wave 1
# Hub-capped Adamic-Adar: the production posture of llm_ops14's
# registered AA row, with the cap's cost MEASURED in-row.

#: wedge-center degree cap. deg > 8 centers contribute < 1/ln(8) ≈ 0.48
#: per wedge but C(deg,2) wedges each — the classic volume/information
#: inversion the cap exploits. At the test scales the cap genuinely
#: bites (sf0.001's dense co-purchase graph keeps only ~2‰ of wedges;
#: sf0.1 keeps ~930‰), so the measured columns span both regimes.
_AA_DEG_CAP = 8

#: AA term: micro-rounded 1/ln(deg) — identical expression in both
#: engines (single float per term, rounded before the order-free sum),
#: exactly as the registered uncapped row computes it.
_AA_TERM_SQL = "CAST(ROUND(1000000 / ln(CAST(dw.d AS DOUBLE))) AS BIGINT)"


def _build_aa_hubcap_oracle() -> str:
    from .llm_ops14 import _AA_GRAPH_CTES

    return f"""
    WITH {_AA_GRAPH_CTES},
    cand AS (
      SELECT wg.u, wg.v,
             CAST(SUM({_AA_TERM_SQL}) AS BIGINT) AS aa_micro,
             CAST(SUM(CASE WHEN dw.d <= {_AA_DEG_CAP}
                      THEN {_AA_TERM_SQL} ELSE 0 END) AS BIGINT) AS aa_cap
      FROM wedges wg JOIN deg dw ON dw.u = wg.w
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = wg.u AND p.pb = wg.v)
      GROUP BY wg.u, wg.v
    ),
    wvol AS (
      SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges_total,
             CAST(SUM(CASE WHEN d <= {_AA_DEG_CAP}
                      THEN d * (d - 1) // 2 ELSE 0 END) AS BIGINT)
               AS n_wedges_kept
      FROM deg
    ),
    mass AS (
      SELECT CAST(SUM(aa_micro) AS BIGINT) AS m_all,
             CAST(SUM(aa_cap) AS BIGINT) AS m_cap
      FROM cand
    ),
    top_u AS (
      SELECT u, v FROM cand
      ORDER BY aa_micro DESC, u, v LIMIT 20
    ),
    top_c AS (
      SELECT u, v FROM cand WHERE aa_cap > 0
      ORDER BY aa_cap DESC, u, v LIMIT 20
    ),
    ovl AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_top20_overlap
      FROM top_u JOIN top_c USING (u, v)
    )
    SELECT CAST({_AA_DEG_CAP} AS BIGINT) AS d_cap,
           wvol.n_wedges_total, wvol.n_wedges_kept,
           CAST(1000 * wvol.n_wedges_kept // wvol.n_wedges_total AS BIGINT)
             AS wedge_share_permille,
           CAST(1000 * mass.m_cap // mass.m_all AS BIGINT)
             AS aa_mass_kept_permille,
           ovl.n_top20_overlap
    FROM wvol, mass, ovl
    """


@query(
    "graph_adamic_adar_hubcapped",
    oracle=_build_aa_hubcap_oracle(),
    tags=("relational", "graph", "eval"),
)
def graph_adamic_adar_hubcapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the degree-D hub cap costs Adamic-Adar on this corpus — one
    measured row: wedge volume kept (the cap's whole point: per-center
    fan-out bounded at C(D,2), so total volume is ≤ N·C(D,2)/ something
    linear in nodes instead of Σ deg²), AA score mass kept (the dropped
    terms are the 1/ln(deg)-smallest), and top-20 agreement with the
    registered uncapped row. The graph and the AA term are
    single-sourced from llm_ops14 (``_aa_graph``; same micro-rounded
    float), so this row measures the CAP, not a reimplementation.

    Shape: the wedge join runs ONCE (both sums in one keyed aggregate
    via F.when); rankings and overlap run on the already-aggregated
    candidate relation; the five scalars ride broadcast crossJoins."""
    from .llm_ops12 import _idiv_col
    from .llm_ops14 import _aa_graph

    pairs, e, deg, wedges = _aa_graph(spark, sf_dir)
    unlinked = wedges.join(
        pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    term = F.round(
        F.lit(1_000_000) / F.log(F.col("d").cast("double"))
    ).cast("long")
    cand = (
        unlinked.join(deg.withColumnRenamed("u", "w"), "w")
        .groupBy("u", "v")
        .agg(
            F.sum(term).cast("long").alias("aa_micro"),
            F.sum(
                F.when(F.col("d") <= F.lit(_AA_DEG_CAP), term).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("aa_cap"),
        )
    )
    # d·(d−1) is even, so long-space `div 2` is exact (no double division)
    wedge_n = F.expr("(d * (d - 1)) div 2").cast("long")
    wvol = deg.agg(
        F.sum(wedge_n).cast("long").alias("n_wedges_total"),
        F.sum(
            F.when(F.col("d") <= F.lit(_AA_DEG_CAP), wedge_n).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_wedges_kept"),
    )
    mass = cand.agg(
        F.sum("aa_micro").cast("long").alias("m_all"),
        F.sum("aa_cap").cast("long").alias("m_cap"),
    )
    top_u = cand.orderBy(F.desc("aa_micro"), "u", "v").limit(20).select(
        "u", "v"
    )
    top_c = (
        cand.filter(F.col("aa_cap") > 0)
        .orderBy(F.desc("aa_cap"), "u", "v")
        .limit(20)
        .select("u", "v")
    )
    ovl = top_u.join(top_c, ["u", "v"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_top20_overlap")
    )
    return (
        wvol.crossJoin(F.broadcast(mass))
        .crossJoin(F.broadcast(ovl))
        .select(
            F.lit(_AA_DEG_CAP).cast("long").alias("d_cap"),
            "n_wedges_total",
            "n_wedges_kept",
            _idiv_col(
                F.col("n_wedges_kept"), F.col("n_wedges_total"), scale=1000
            ).alias("wedge_share_permille"),
            _idiv_col(F.col("m_cap"), F.col("m_all"), scale=1000).alias(
                "aa_mass_kept_permille"
            ),
            "n_top20_overlap",
        )
    )


# ---------------------------------------------------------------- wave 2
# Planted-near-dup SemDeDup recall (r10 VERDICT task #1): the r10 cell
# sweep proved candidate-volume LINEARITY of the scaled cell count, but
# its recall column is measured on synthetic embeddings that do not
# cluster semantically, so recall falls monotonically with cells
# (229‰ → 111‰) and the sweep cannot show the operating point SemDeDup's
# regime (arXiv:2303.09540: near-dups are ε-perturbations of shared
# content) actually buys. This wave PLANTS that regime deterministically
# in BOTH engines, derived from the embeddings table itself: every
# vec_id ≡ 0 (mod 10) base spawns 3 replicas, replica j scaling
# dimension j−1 by ×1.25 (within-cluster cosine ≈ 0.999 ≥ the 0.45
# threshold — measured, every planted pair is in the exact truth at all
# three sfs). The sweep below then measures, per quantizer size, recall
# over PLANTED pairs (true near-dups) separately from overall truth
# recall (dominated by the organic random-cosine pairs the r10 sweep
# measured): at the `semantic_cells_for(N)` rung, planted recall stays
# ≥ ~900‰ (measured: 970/1000/946‰ at sf0.001/0.01/0.1) while candidate
# volume stays well under 32·N — the missing half of the r9/r10
# evidence. Fixture generator: tools/gen_planted_fixture.py; schema:
# FIXTURES.md §4.

_PLANTED_STRIDE = 10
_PLANTED_REPS = 3
_PLANTED_FACTOR = 1.25
_PLANTED_ID_BASE = 1_000_000
#: swept quantizer sizes: 16 = the r9 fixed pin, 32/128 = the
#: semantic_cells_for rungs the planted corpus sizes (650 / 2600) hit.
_PLANTED_SWEEP = (16, 32, 128)


def planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-near-dup corpus: base embeddings (widened to double)
    plus, for every base with ``vec_id % 10 == 0``, replicas j = 1..3
    with dimension j−1 scaled ×1.25. Replica id = 1_000_000 +
    base·100 + j, so ``base_key = (id − 1_000_000) // 100 if id ≥ 10^6
    else id`` recovers the planted cluster. Both engines derive the
    corpus from the same expression (Spark ``F.transform`` with 0-based
    index; DuckDB indexed lambda, 1-based) — identical IEEE doubles, no
    side files."""
    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    js = spark.range(1, _PLANTED_REPS + 1).select(
        F.col("id").cast("int").alias("j")
    )
    reps = (
        emb.filter(F.col("vec_id") % _PLANTED_STRIDE == 0)
        .crossJoin(F.broadcast(js))
        .select(
            (
                F.lit(_PLANTED_ID_BASE)
                + F.col("vec_id") * 100
                + F.col("j")
            )
            .cast("long")
            .alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    i == F.col("j") - 1,
                    x.cast("double") * F.lit(_PLANTED_FACTOR),
                ).otherwise(x.cast("double")),
            ).alias("embedding"),
        )
    )
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    return base.unionByName(reps)


_PLANTED_CORPUS_SQL = f"""corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings
      UNION ALL
      SELECT {_PLANTED_ID_BASE} + e.vec_id * 100 + j.j AS vec_id,
             list_transform(CAST(e.embedding AS DOUBLE[]),
                            (x, i) -> CASE WHEN i = j.j
                                      THEN x * {_PLANTED_FACTOR}
                                      ELSE x END) AS embedding
      FROM embeddings e
      CROSS JOIN (SELECT UNNEST([{", ".join(str(j) for j in range(1, _PLANTED_REPS + 1))}]) AS j) j
      WHERE e.vec_id % {_PLANTED_STRIDE} = 0
    )"""

_BASE_KEY_SQL = (
    "CASE WHEN {id} >= " + str(_PLANTED_ID_BASE) + " THEN ({id} - "
    + str(_PLANTED_ID_BASE) + ") // 100 ELSE {id} END"
)


@query(
    "dedup_semantic_recall_planted",
    oracle=_build_cell_sweep_oracle(
        _PLANTED_SWEEP, (_PLANTED_CORPUS_SQL, _BASE_KEY_SQL)
    ),
    tags=("llm", "dedup", "eval"),
)
def dedup_semantic_recall_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup recall where true near-dups actually exist (r10 VERDICT
    task #1): the cell sweep re-run on the planted-near-dup corpus
    (``planted_embeddings`` — every 10th base + 3 deterministic ×1.25
    single-dimension replicas, within-cluster cosine ≈ 0.999), with
    recall over PLANTED pairs reported beside overall truth recall. The
    r10 sweep's falling recall column (229‰ → 111‰) measured organic
    random-cosine pairs on non-clustering noise; here the planted
    column shows the paper's operating point: at the recommended
    ``semantic_cells_for(N)`` rung the ε-perturbation clusters land in
    one cell (planted recall ≥ ~900‰ at every sf) while candidate
    volume stays under 32·N — linearity and recall TOGETHER. Truth side
    is the blocked numpy tile sweep (exact all-pairs BY DESIGN); the
    counting side never leaves vec_id/cell-keyed equi-joins; quantizers
    are the gate-trained k-means family (train-once-apply-at-any-scale,
    so each size matches its centroid-literal oracle at every sf)."""
    from ..operators.scale import fan_out

    # r12: fan_out — the three quantizer applies below are the expensive
    # per-row stages and the derived corpus otherwise inherits the single
    # small-file scan split (no-op at production split counts)
    corpus = fan_out(planted_embeddings(spark, sf_dir), key="vec_id")
    key_a = _BASE_KEY_SQL.format(id="va")
    key_b = _BASE_KEY_SQL.format(id="vb")
    # the truth side collects every corpus row anyway — reuse its count
    # instead of paying a separate corpus.count() job (r12, guide §5)
    truth_df, n_vec = S.exact_cosine_pairs_n(corpus, _SEM_THRESHOLD)
    truth = (
        truth_df
        .select(
            F.col("id_a").alias("va"),
            F.col("id_b").alias("vb"),
        )
        .withColumn(
            "planted",
            F.expr(key_a.replace("//", "div")) == F.expr(
                key_b.replace("//", "div")
            ),
        )
    )
    return _cell_sweep(spark, corpus, truth, n_vec, _PLANTED_SWEEP)


# ---------------------------------------------------------------- wave 3
# End-to-end curation pipeline (r10 VERDICT task #5): every stage of the
# canonical training-data curation run — PII redaction → exact dedup (on
# the REDACTED text, so documents differing only in their PII collide) →
# MinHash near-dup clusters → scale-aware SemDeDup → Gopher quality gate
# → Hamilton-apportioned sampling — composed as ONE registered query
# with one DuckDB oracle, proving the stages hand off without
# cross-stage dtype/determinism drift. Every stage is single-sourced
# from its registered machinery (llm_ops14 redaction chain + injector,
# llm_ops2's dedup_clusters oracle embedded verbatim, llm_ops14's
# scaled-SemDeDup oracle embedded verbatim, llm_ops11's Gopher pass
# fragment, llm_ops14's Hamilton shape over the SURVIVOR counts), so
# the pipeline can never disagree with the stages it names. Documents
# without an embedding row (sf0.1: 5000 docs, 2000 vectors) pass the
# semantic stage unchanged — stated: no vector means SemDeDup has no
# evidence to drop on.


def _e2e_front_sql() -> str:
    """Shared inj/red/ex/cl CTE text (inject -> redact -> exact-dedup
    flag -> near-dup cluster relation) — single-sourced by the e2e
    funnel AND the order-sensitivity row so they can never disagree on
    the stages they share."""
    from .llm_ops14 import _PII_INJECT_SQL, _redact_chain_sql
    from .registry import QUERIES

    clusters = QUERIES["dedup_clusters"].oracle.strip()
    return f"""inj AS (
      SELECT doc_id, source, text || {_PII_INJECT_SQL} AS t
      FROM documents
    ),
    red AS (
      SELECT doc_id, source, t, {_redact_chain_sql('t')} AS r
      FROM inj
    ),
    ex AS (
      SELECT doc_id, source, (r <> t) AS had_pii,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(r)) AS keep2
      FROM red
    ),
    cl AS (SELECT doc_id, cluster_id FROM ({clusters}))"""


def _build_e2e_oracle() -> str:
    from .llm_ops11 import _duck_gopher_pass
    from .llm_ops14 import _APPORTION_BUDGET
    from .registry import QUERIES

    scaled = QUERIES["dedup_semantic_cluster_scaled"].oracle.strip()
    return f"""
    WITH {_e2e_front_sql()},
    sem AS (SELECT vec_id, kept FROM ({scaled})),
    {_duck_gopher_pass()},
    st3 AS (
      SELECT e.*, c.cluster_id,
             e.keep2 AND e.doc_id = MIN(CASE WHEN e.keep2 THEN e.doc_id
                                        END) OVER (PARTITION BY c.cluster_id)
               AS keep3
      FROM ex e JOIN cl c ON c.doc_id = e.doc_id
    ),
    flags AS (
      SELECT s.source, s.had_pii, s.keep2, s.keep3,
             s.keep3 AND COALESCE(m.kept, TRUE) AS keep4,
             s.keep3 AND COALESCE(m.kept, TRUE) AND l.passes AS keep5
      FROM st3 s
      LEFT JOIN sem m ON m.vec_id = s.doc_id
      JOIN labels l ON l.doc_id = s.doc_id
    ),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN had_pii THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pii_docs,
             CAST(SUM(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_exact,
             CAST(SUM(CASE WHEN keep3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_neardup,
             CAST(SUM(CASE WHEN keep4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_semantic,
             CAST(SUM(CASE WHEN keep5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_quality
      FROM flags GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_after_quality) AS BIGINT) AS n FROM per),
    q AS (
      SELECT source,
             CAST({_APPORTION_BUDGET} * n_after_quality // (SELECT n FROM tot)
                  AS BIGINT) AS quota_floor,
             CAST({_APPORTION_BUDGET} * n_after_quality % (SELECT n FROM tot)
                  AS BIGINT) AS rem
      FROM per
    ),
    seats AS (
      SELECT CAST({_APPORTION_BUDGET} - SUM(quota_floor) AS BIGINT) AS r FROM q
    ),
    ranked AS (
      SELECT source, quota_floor, rem,
             CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT)
               AS rk
      FROM q
    )
    SELECT p.source, p.n_docs, p.n_pii_docs, p.n_after_exact,
           p.n_after_neardup, p.n_after_semantic, p.n_after_quality,
           CAST(LEAST(r.quota_floor + CASE WHEN r.rk <= (SELECT r FROM
                seats) THEN 1 ELSE 0 END, p.n_after_quality) AS BIGINT)
             AS n_sampled
    FROM per p JOIN ranked r ON r.source = p.source
    ORDER BY p.source
    """


def _e2e_funnel_tail(
    spark: SparkSession,
    sf_dir: str,
    ex: DataFrame | None = None,
    ex_fn=None,
) -> DataFrame:
    """The funnel stages downstream of exact dedup, shared verbatim by
    the batch pipeline and the streamed one (llm_ops16
    ``curation_streaming_e2e`` — r11 VERDICT task #1): ``ex`` carries
    per-doc (doc_id, source, had_pii, keep2) however those flags were
    produced; this builds the registered near-dup cluster and scaled
    SemDeDup relations, and everything after — Gopher gate, Hamilton
    apportionment — is the ONE composition :func:`_e2e_funnel`, so the
    two registered rows can only differ in the exact-dedup front.

    ``ex_fn`` (callable returning the ``ex`` relation) is the streamed
    caller's form: its front BLOCKS the driver for the whole bounded
    micro-batch replay, so it runs on a pool thread concurrently with
    the cluster/semantic builds below instead of serially before them.

    r13: the three expensive upstream builds — ``ex_fn`` (streamed
    front: per-batch driver loop), ``dedup_clusters`` (CC fixpoint
    rounds: one blocking job + probe per round) and
    ``dedup_semantic_cluster_scaled`` (count + quantizer-apply actions)
    — are INDEPENDENT subtrees, but each blocks the driver during plan
    BUILD, so they used to run strictly back-to-back while most
    executor cores sat idle (each round/batch job is graph- or
    batch-sized, nowhere near cluster-wide). Guide §2.6 ("overlap
    independent jobs"): build them on a small driver thread pool —
    Spark's scheduler interleaves their jobs, the values are unchanged
    (same deterministic relations, joined the same way), and the tail
    latency of each loop back-fills with the others' work. The pool is
    bounded (3) and joined before the tail composes, so no build
    escapes the call."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ..sources.tables import load_tables
    from .llm_ops2 import dedup_clusters
    from .llm_ops14 import dedup_semantic_cluster_scaled

    docs = load_tables(spark, sf_dir, "documents").documents

    def _cl() -> DataFrame:
        return dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")

    def _sem() -> DataFrame:
        return dedup_semantic_cluster_scaled(spark, sf_dir).select(
            F.col("vec_id").alias("doc_id"), "kept"
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_ex = (
            pool.submit(inheritable_thread_target(ex_fn))
            if ex_fn is not None
            else None
        )
        f_cl = pool.submit(inheritable_thread_target(_cl))
        f_sem = pool.submit(inheritable_thread_target(_sem))
        cl = f_cl.result()
        sem = f_sem.result()
        if f_ex is not None:
            ex = f_ex.result()
    return _e2e_funnel(ex, cl, sem, docs)


def _e2e_funnel(
    ex: DataFrame, cl: DataFrame, sem: DataFrame, docs: DataFrame
) -> DataFrame:
    """The per-source funnel over the stage relations: ``ex`` (doc_id,
    source, had_pii, keep2) exact-dedup flags, ``cl`` (doc_id,
    cluster_id) near-dup clusters, ``sem`` (doc_id, kept) SemDeDup
    verdicts — docs without a row pass — and ``docs`` for the Gopher
    gate. Near-dup keeps the min surviving doc_id per cluster; the
    sample is the Hamilton apportionment (llm_ops14 ``_hamilton_alloc``)
    of the budget over the SURVIVOR counts, capped at availability."""
    from pyspark.sql.window import Window

    from ..operators import quality as Q
    from .llm_ops14 import _hamilton_alloc

    st3 = ex.join(cl, "doc_id").select(
        "*",
        (
            F.col("keep2")
            & (
                F.col("doc_id")
                == F.min(
                    F.when(F.col("keep2"), F.col("doc_id"))
                ).over(Window.partitionBy("cluster_id"))
            )
        ).alias("keep3"),
    )
    labels = Q.gopher_quality_flags(docs).select("doc_id", "passes")
    flags = (
        st3.join(sem, "doc_id", "left")
        .join(labels, "doc_id")
        .select(
            "source",
            "had_pii",
            "keep2",
            "keep3",
            (F.col("keep3") & F.coalesce(F.col("kept"), F.lit(True))).alias(
                "keep4"
            ),
            (
                F.col("keep3")
                & F.coalesce(F.col("kept"), F.lit(True))
                & F.col("passes")
            ).alias("keep5"),
        )
    )

    def _csum(c, alias):
        return (
            F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long").alias(alias)
        )

    # r13: one eager checkpoint of the ≤|sources|-row funnel table — it
    # is referenced three times below (grand total, Hamilton quotas, the
    # final join) and each reference otherwise replays the whole
    # LSH/CC/semantic/Gopher chain above whatever exchange reuse happens
    # to cover (guide §5; interleaved A/B −7 % on curation_e2e_pipeline,
    # positive in every pair).
    per = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        _csum("had_pii", "n_pii_docs"),
        _csum("keep2", "n_after_exact"),
        _csum("keep3", "n_after_neardup"),
        _csum("keep4", "n_after_semantic"),
        _csum("keep5", "n_after_quality"),
    ).localCheckpoint(eager=True)
    alloc = _hamilton_alloc(per, "n_after_quality").select("source", "alloc")
    return (
        per.join(alloc, "source")
        .select(
            "source",
            "n_docs",
            "n_pii_docs",
            "n_after_exact",
            "n_after_neardup",
            "n_after_semantic",
            "n_after_quality",
            F.least(F.col("alloc"), F.col("n_after_quality")).alias(
                "n_sampled"
            ),
        )
        .orderBy("source")
    )


@query(
    "curation_e2e_pipeline",
    oracle=_build_e2e_oracle(),
    tags=("llm", "curation", "dedup", "privacy"),
)
def curation_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation run as one per-source funnel row: documents →
    PII-redact (llm_ops14 chain; redaction feeds the NEXT stage, so
    docs differing only in PII exact-collide) → exact dedup (min doc_id
    per md5 of redacted text) → MinHash near-dup clusters (registered
    dedup_clusters relation; min surviving doc_id per cluster) →
    scale-aware SemDeDup (registered kept flag via vec_id = doc_id;
    no-vector docs pass, stated) → Gopher gate → Hamilton apportionment
    of a {100}-doc budget over SURVIVOR counts (n_sampled, capped at
    availability). Plan shape: the funnel is ONE conditional-sum
    aggregate over per-doc flags (two window shuffles: md5 key, cluster
    key); the Hamilton tail rides broadcast crossJoins on the
    source-dimension relation; zero Python, no cartesian."""
    from pyspark.sql.window import Window

    from .llm_ops14 import _pii_injected_col, _redact_chain_spark

    docs = load_tables(spark, sf_dir, "documents").documents
    red = docs.select(
        "doc_id", "source", _pii_injected_col().alias("t")
    ).select(
        "doc_id", "source", "t", _redact_chain_spark(F.col("t")).alias("r")
    )
    ex = red.select(
        "doc_id",
        "source",
        (F.col("r") != F.col("t")).alias("had_pii"),
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5(F.col("r"))))
        ).alias("keep2"),
    )
    return _e2e_funnel_tail(spark, sf_dir, ex)


# ---------------------------------------------------------------- wave 4
# Matthews correlation coefficient + balanced accuracy of the NB
# distilled gate vs the Gopher rule truth (Matthews, BBA 1975 — the
# standard single-number 2x2 summary robust to class imbalance;
# balanced accuracy per Brodersen et al., ICPR 2010). Completes the
# gate-agreement family: fidelity (raw agreement), kappa
# (chance-corrected), McNemar (direction of disagreement), Youden
# (threshold choice) — MCC is the correlation view of the SAME 2x2
# cells, single-sourced from the NB chain so the five rows can never
# disagree about the table they summarize. MCC's sqrt is the ONE float
# (products ride DOUBLE: at production counts the 4-way margin product
# passes 2^63, so long-space is wrong there by construction);
# FLOOR(x + 0.5) rounds half-up identically in both engines, including
# for negative MCC.


def _build_mcc_oracle() -> str:
    from .llm_ops11 import _nb_cells_sql

    return f"""
    WITH {_nb_cells_sql()}
    SELECT a + b + c + d AS n_docs,
           a AS n_tp, b AS n_fn, c AS n_fp, d AS n_tn,
           CAST(CASE WHEN a + b = 0 OR a + c = 0 OR b + d = 0
                          OR c + d = 0
                THEN 0
                ELSE FLOOR(1000.0 * CAST(a * d - b * c AS DOUBLE)
                     / sqrt(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                            * CAST(b + d AS DOUBLE) * CAST(c + d AS DOUBLE))
                     + 0.5)
                END AS BIGINT) AS mcc_milli,
           CAST((CASE WHEN a + b > 0 THEN 1000 * a // (a + b)
                 ELSE 0 END
                 + CASE WHEN c + d > 0 THEN 1000 * d // (c + d)
                   ELSE 0 END) // 2 AS BIGINT) AS balanced_acc_milli
    FROM cells
    """


@query(
    "quality_mcc_gates",
    oracle=_build_mcc_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_mcc_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCC (milli; one sqrt float, half-up-rounded) and balanced
    accuracy (milli; truncated TPR/TNR permille halved — stated) of the
    NB distilled gate against the Gopher rule truth, over the SAME
    single-sourced 2x2 cells as the kappa/McNemar waves (pinned equal
    in tests). One pass over the shared NB score relation."""
    from .llm_ops11 import _nb_cells
    from .llm_ops12 import _idiv_col

    cells = _nb_cells(spark, sf_dir)
    a, b, c, d = (F.col(x) for x in "abcd")
    n = a + b + c + d
    margins = (
        (a + b).cast("double")
        * (a + c).cast("double")
        * (b + d).cast("double")
        * (c + d).cast("double")
    )
    mcc = F.floor(
        F.lit(1000.0) * (a * d - b * c).cast("double") / F.sqrt(margins)
        + F.lit(0.5)
    ).cast("long")
    tpr = F.when(a + b > 0, _idiv_col(a, a + b, scale=1000)).otherwise(
        F.lit(0)
    )
    tnr = F.when(c + d > 0, _idiv_col(d, c + d, scale=1000)).otherwise(
        F.lit(0)
    )
    return cells.select(
        n.cast("long").alias("n_docs"),
        a.alias("n_tp"),
        b.alias("n_fn"),
        c.alias("n_fp"),
        d.alias("n_tn"),
        F.when(
            (a + b == 0) | (a + c == 0) | (b + d == 0) | (c + d == 0),
            F.lit(0),
        )
        .otherwise(mcc)
        .cast("long")
        .alias("mcc_milli"),
        _idiv_col(tpr + tnr, F.lit(2)).cast("long").alias(
            "balanced_acc_milli"
        ),
    )


# ---------------------------------------------------------------- wave 5
# Lexical concentration per source: Yule's characteristic K (Yule, "The
# Statistical Study of Literary Vocabulary", 1944) and Simpson's
# repeat-rate D (Simpson, Nature 1949) — the two classic
# length-robust vocabulary-concentration statistics, both EXACT
# integer-expressible from the type-frequency spectrum: with N tokens
# and per-type counts n_w, S2 = Σ n_w²,
#     K = 10^4 · (S2 − N) / N²          (reported milli-scaled)
#     D = Σ n_w(n_w − 1) / (N(N − 1))   (reported micro-scaled)
# Complements STTR (chunked type ratio) and the Good-Turing spectrum:
# K/D measure how much probability mass repeats concentrate, and a
# corpus whose K jumps source-over-source is boilerplate-heavy. N² and
# N(N−1) ride DECIMAL(38,0)/HUGEINT (production token counts square
# past 2^63 by construction).


@query(
    "text_lexical_concentration",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                w -> len(w) > 0)) AS w
      FROM documents
    ),
    types AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_w
      FROM toks GROUP BY source, w
    ),
    per AS (
      SELECT source,
             CAST(SUM(n_w) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CAST(n_w AS HUGEINT) * n_w) AS HUGEINT) AS s2,
             CAST(SUM(CAST(n_w AS HUGEINT) * (n_w - 1)) AS HUGEINT) AS rep
      FROM types GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           CAST(10000000 * (s2 - n_tokens)
                // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
             AS yule_k_milli,
           CAST(1000000 * rep
                // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
             AS simpson_micro
    FROM per ORDER BY source
    """,
    tags=("llm", "text"),
)
def text_lexical_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Yule's K (milli) and Simpson's repeat-rate (micro) per source —
    exact integers end-to-end: one token explode, one (source, type)
    rollup, one source rollup; squares and the N²/N(N−1) denominators
    in DECIMAL(38,0)."""
    from .llm_ops12 import _idiv_col

    docs = load_tables(spark, sf_dir, "documents").documents
    toks = docs.select(
        "source",
        F.explode(F.split(F.col("text"), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    types = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_w")
    )
    per = types.groupBy("source").agg(
        F.sum("n_w").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("n_w").cast("decimal(38,0)") * F.col("n_w"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(F.col("n_w").cast("decimal(38,0)") * (F.col("n_w") - 1))
        .cast("decimal(38,0)")
        .alias("rep"),
    )
    n_dec = F.col("n_tokens").cast("decimal(38,0)")
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        _idiv_col(
            F.col("s2") - F.col("n_tokens"),
            n_dec * F.col("n_tokens"),
            scale=10_000_000,
        ).alias("yule_k_milli"),
        _idiv_col(
            F.col("rep"),
            n_dec * (F.col("n_tokens") - 1),
            scale=1_000_000,
        ).alias("simpson_micro"),
    ).orderBy("source")


# ---------------------------------------------------------------- wave 6
# Fisher's index of dispersion for the per-type daily-count series
# (Fisher, "Statistical Methods for Research Workers", 1925 §16; Cox &
# Lewis 1966): the chi-square statistic Σ(c − c̄)²/c̄ — under a
# homogeneous Poisson arrival process it is ~χ²_{n−1}, so VMR (the
# variance-to-mean ratio) far above 1 says over-dispersion (bursty
# days), far below says under-dispersion (throttled/uniform). The
# integer identity clears the mean: with n days, daily counts c, sum S,
#     chi2 = (n·Σc² − S²) / S        (exact; one truncated division)
#     VMR  = chi2 / (n − 1)
# Completes the arrival-process battery beside the inter-arrival KS
# (exponential gaps), runs test (sign randomness) and weekday ANOVA
# (seasonal mean shifts). n·Σc² rides DECIMAL(38,0)/HUGEINT.


@query(
    "events_dispersion_index",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, s AS n_events,
           CAST(1000 * s // n_days AS BIGINT) AS mean_daily_milli,
           CAST(1000 * (CAST(n_days AS HUGEINT) * s2 - CAST(s AS HUGEINT)
                        * s) // s AS BIGINT) AS chi2_milli,
           CAST((1000 * (CAST(n_days AS HUGEINT) * s2 - CAST(s AS HUGEINT)
                         * s) // s) // (n_days - 1) AS BIGINT) AS vmr_milli
    FROM per ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (chi2, milli) and variance-to-mean ratio
    (milli) of daily counts per event type — exact integers with one
    truncated division (then a truncated halving into VMR, stated; the
    oracle performs the identical nested `//`). One daily rollup, one
    type rollup; products in DECIMAL(38,0)."""
    from .llm_ops12 import _idiv_col

    ev = load_tables(spark, sf_dir, "events").events
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    chi2 = _idiv_col(
        F.col("n_days").cast("decimal(38,0)") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s"),
        F.col("s"),
        scale=1000,
    )
    return per.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        _idiv_col(F.col("s"), F.col("n_days"), scale=1000).alias(
            "mean_daily_milli"
        ),
        chi2.alias("chi2_milli"),
        _idiv_col(chi2, F.col("n_days") - 1).alias("vmr_milli"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- wave 7
# Spearman rank agreement between the two registered market-concentration
# measures (Spearman, Am. J. Psychol. 1904): do Gini and HHI RANK the
# nations the same way? Both relations are single-sourced from the
# registry (agg_gini_by_nation / agg_hhi_by_nation embedded verbatim),
# and with distinct ranks Spearman is EXACT integer arithmetic:
#     rho = 1 − 6·Σd² / (n(n² − 1))
#     rho_milli = (1000·(n(n²−1) − 6Σd²)) // (n(n²−1))   (signed trunc)
# — the Pearson-of-ranks companion to the Kendall tau wave (tau counts
# inversions; Spearman weights displacement quadratically, so one
# far-displaced nation moves rho more than tau). Ranks tie-break by
# nation asc, stated in both engines. Values: gini_micro / hhi_micro.


def _build_spearman_oracle() -> str:
    from .registry import QUERIES

    gini = QUERIES["agg_gini_by_nation"].oracle.strip()
    hhi = QUERIES["agg_hhi_by_nation"].oracle.strip()
    return f"""
    WITH gr AS (
      SELECT nation, CAST(ROW_NUMBER() OVER (ORDER BY gini_micro DESC,
                                             nation) AS BIGINT) AS rg
      FROM ({gini})
    ),
    hr AS (
      SELECT nation, CAST(ROW_NUMBER() OVER (ORDER BY hhi_micro DESC,
                                             nation) AS BIGINT) AS rh
      FROM ({hhi})
    ),
    d2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((rg - rh) * (rg - rh)) AS BIGINT) AS sd2
      FROM gr JOIN hr USING (nation)
    )
    SELECT n AS n_nations, sd2 AS sum_d2,
           CAST(CASE WHEN n > 1
                THEN (1000 * (n * (n * n - 1) - 6 * sd2))
                     // (n * (n * n - 1))
                ELSE 1000 END AS BIGINT) AS spearman_rho_milli
    FROM d2
    """


@query(
    "agg_concentration_rank_agreement",
    oracle=_build_spearman_oracle(),
    tags=("relational", "stats", "eval"),
)
def agg_concentration_rank_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rho (milli, exact integer — ranks are distinct by the
    nation tie-break) between the registered Gini and HHI nation
    rankings. Reuses both registered relations verbatim; the rank join
    is nation-dimension bounded (25 rows)."""
    from pyspark.sql.window import Window

    from .llm_ops8 import agg_gini_by_nation, agg_hhi_by_nation
    from .llm_ops12 import _idiv_col

    gr = agg_gini_by_nation(spark, sf_dir).select(
        "nation",
        F.row_number()
        .over(Window.orderBy(F.desc("gini_micro"), F.asc("nation")))
        .cast("long")
        .alias("rg"),
    )
    hr = agg_hhi_by_nation(spark, sf_dir).select(
        "nation",
        F.row_number()
        .over(Window.orderBy(F.desc("hhi_micro"), F.asc("nation")))
        .cast("long")
        .alias("rh"),
    )
    d2 = gr.join(hr, "nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("rg") - F.col("rh")) * (F.col("rg") - F.col("rh")))
        .cast("long")
        .alias("sd2"),
    )
    n = F.col("n")
    denom = n * (n * n - 1)
    return d2.select(
        n.alias("n_nations"),
        F.col("sd2").alias("sum_d2"),
        F.when(n > 1, _idiv_col(denom - 6 * F.col("sd2"), denom, scale=1000))
        .otherwise(F.lit(1000))
        .cast("long")
        .alias("spearman_rho_milli"),
    )


# ---------------------------------------------------------------- wave 8
# Log-rank test between user cohorts (Mantel, Cancer Chemother. Rep.
# 1966; Peto & Peto, JRSS-A 1972): do HEAVY users (per-user event count
# above the lower median) wait a different time between events than
# LIGHT users? The survival subject is the inter-event gap, bucketed to
# MINUTES by design so the event-time grid is value-bounded (≤ 43k rows
# for a 30-day window) — at production scale the grid, not the corpus,
# sizes the risk-set window (the standard coarsening mitigation,
# stated). No censoring here (every gap completes inside the fixture
# window; the Kaplan-Meier wave owns the censored formulation), so
# O1 = the heavy cohort's gap count and the information is in O1 − E1.
# Per-time hypergeometric terms are micro-rounded integers
# (numerators in DECIMAL(38,0)/HUGEINT — n_j⁴-scale products pass 2^63
# at production counts); z is the ONE float:
#     z_milli = FLOOR((O1µ − E1µ) / sqrt(Vµ) + 0.5).


@query(
    "events_logrank_cohorts",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    med AS (
      SELECT c AS m FROM (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM per_user
      ) WHERE rn = (n + 1) // 2
    ),
    gaps AS (
      SELECT CASE WHEN p.c > (SELECT m FROM med) THEN 1 ELSE 0 END AS grp,
             CAST((epoch_us(e.ts) - epoch_us(LAG(e.ts) OVER
                  (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)))
                  // 60000000 AS BIGINT) AS t
      FROM events e JOIN per_user p ON p.user_id = e.user_id
      QUALIFY t IS NOT NULL
    ),
    times AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS dj,
             CAST(SUM(grp) AS BIGINT) AS d1j
      FROM gaps GROUP BY t
    ),
    risk AS (
      SELECT t, dj, d1j,
             CAST(SUM(dj) OVER (ORDER BY t DESC) AS BIGINT) AS nj,
             CAST(SUM(d1j) OVER (ORDER BY t DESC) AS BIGINT) AS n1j
      FROM times
    ),
    terms AS (
      SELECT dj, d1j, nj, n1j,
             CAST(1000000 * CAST(dj AS HUGEINT) * n1j // nj AS BIGINT)
               AS e1_micro,
             CAST(CASE WHEN nj > 1
                  THEN 1000000 * CAST(dj AS HUGEINT) * n1j * (nj - n1j)
                       * (nj - dj)
                       // (CAST(nj AS HUGEINT) * nj * (nj - 1))
                  ELSE 0 END AS BIGINT) AS v_micro
      FROM risk
    ),
    tot AS (
      SELECT CAST((SELECT COUNT(*) FROM per_user
                   WHERE c > (SELECT m FROM med)) AS BIGINT)
               AS n_users_heavy,
             CAST((SELECT COUNT(*) FROM per_user
                   WHERE c <= (SELECT m FROM med)) AS BIGINT)
               AS n_users_light,
             CAST(SUM(d1j) AS BIGINT) AS o1,
             CAST(SUM(dj - d1j) AS BIGINT) AS n_gaps_light,
             CAST(SUM(e1_micro) AS BIGINT) AS e1_micro,
             CAST(SUM(v_micro) AS BIGINT) AS v_micro
      FROM terms
    )
    SELECT n_users_heavy, n_users_light, o1 AS n_gaps_heavy,
           n_gaps_light, e1_micro, v_micro,
           CAST(CASE WHEN v_micro > 0
                THEN FLOOR((1000000.0 * o1 - e1_micro)
                           / sqrt(CAST(v_micro AS DOUBLE)) + 0.5)
                ELSE 0 END AS BIGINT) AS z_milli
    FROM tot
    """,
    tags=("streaming", "events", "stats"),
)
def events_logrank_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank z (milli; one float) comparing minute-bucketed
    inter-event gaps between heavy (count > lower-median) and light
    users. One per-user rollup, one lag window, one grid rollup, one
    reverse-cumulative risk window over the bounded minute grid, one
    scalar combine."""
    from pyspark.sql.window import Window

    from .llm_ops12 import _idiv_col

    ev = load_tables(spark, sf_dir, "events").events
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ranked = per_user.select(
        "user_id",
        "c",
        F.row_number()
        .over(Window.orderBy("c", "user_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(F.col("c").alias("m"))
    gaps = (
        ev.join(per_user, "user_id")
        .crossJoin(F.broadcast(med))
        .select(
            F.when(F.col("c") > F.col("m"), 1).otherwise(0).alias("grp"),
            F.expr(
                "(unix_micros(ts) - unix_micros(lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id))) "
                "div 60000000"
            ).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .select("grp", "t")
    )
    times = gaps.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("dj"),
        F.sum("grp").cast("long").alias("d1j"),
    )
    wd = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = times.select(
        "dj",
        "d1j",
        F.sum("dj").over(wd).cast("long").alias("nj"),
        F.sum("d1j").over(wd).cast("long").alias("n1j"),
    )
    dj_d = F.col("dj").cast("decimal(38,0)")
    nj_d = F.col("nj").cast("decimal(38,0)")
    terms = risk.select(
        "dj",
        "d1j",
        _idiv_col(dj_d * F.col("n1j"), F.col("nj"), scale=1_000_000).alias(
            "e1_micro"
        ),
        F.when(
            F.col("nj") > 1,
            _idiv_col(
                dj_d
                * F.col("n1j")
                * (F.col("nj") - F.col("n1j"))
                * (F.col("nj") - F.col("dj")),
                nj_d * F.col("nj") * (F.col("nj") - 1),
                scale=1_000_000,
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("v_micro"),
    )
    heavy = per_user.crossJoin(F.broadcast(med))
    cohorts = heavy.agg(
        F.sum(F.when(F.col("c") > F.col("m"), 1).otherwise(0))
        .cast("long")
        .alias("n_users_heavy"),
        F.sum(F.when(F.col("c") <= F.col("m"), 1).otherwise(0))
        .cast("long")
        .alias("n_users_light"),
    )
    tot = terms.agg(
        F.sum("d1j").cast("long").alias("o1"),
        F.sum(F.col("dj") - F.col("d1j")).cast("long").alias(
            "n_gaps_light"
        ),
        F.sum("e1_micro").cast("long").alias("e1_micro"),
        F.sum("v_micro").cast("long").alias("v_micro"),
    )
    return cohorts.crossJoin(F.broadcast(tot)).select(
        "n_users_heavy",
        "n_users_light",
        F.col("o1").alias("n_gaps_heavy"),
        "n_gaps_light",
        "e1_micro",
        "v_micro",
        F.when(
            F.col("v_micro") > 0,
            F.floor(
                (
                    F.lit(1_000_000.0) * F.col("o1")
                    - F.col("e1_micro")
                ).cast("double")
                / F.sqrt(F.col("v_micro").cast("double"))
                + F.lit(0.5)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("z_milli"),
    )


# ---------------------------------------------------------------- wave 9
# Two-sample embedding drift via linear-kernel MMD (Gretton, Borgwardt,
# Rasch, Schölkopf & Smola, JMLR 2012): with the dot-product kernel,
# MMD² between corpora A and B is exactly ||μ_A − μ_B||² — the squared
# distance of the mean embeddings — so the whole statistic reduces to
# per-dimension keyed aggregates (ONE pass, map-side partial means: the
# 100 TB shape; no pairwise kernel matrix anywhere). The registered
# split is even/odd vec_id — a NULL split by construction, so the row
# doubles as the family's honesty check (MMD ≈ 0; the same machinery
# pointed at source or time splits is the production drift monitor,
# like the PSI/KS/Mann-Whitney rows for scalar features). Float
# discipline: each embedding component is micro-rounded BEFORE any
# cross-row sum (one-float-then-fixed-point; double sums are
# order-dependent and would drift cross-engine), so means, gaps and
# MMD² are exact integers in micro/micro² space.


@query(
    "embedding_mmd_split_drift",
    oracle="""
    WITH comp AS (
      SELECT CAST(vec_id % 2 AS BIGINT) AS grp,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS x_micro
      FROM embeddings
    ),
    per AS (
      SELECT grp, dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_micro) AS BIGINT) AS s
      FROM comp GROUP BY grp, dim
    ),
    means AS (
      SELECT dim,
             MAX(CASE WHEN grp = 0 THEN CAST(s // n AS BIGINT) END)
               AS mu_a,
             MAX(CASE WHEN grp = 1 THEN CAST(s // n AS BIGINT) END)
               AS mu_b,
             MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
             MAX(CASE WHEN grp = 1 THEN n END) AS n_b
      FROM per GROUP BY dim
    ),
    gaps AS (
      SELECT dim, mu_a - mu_b AS gap, n_a, n_b,
             ABS(mu_a - mu_b) AS agap
      FROM means
    )
    SELECT CAST((SELECT MAX(n_a) FROM gaps) AS BIGINT) AS n_even,
           CAST((SELECT MAX(n_b) FROM gaps) AS BIGINT) AS n_odd,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(CAST(gap AS HUGEINT) * gap) // 1000000 AS BIGINT)
             AS mmd2_micro,
           CAST(MAX(agap) AS BIGINT) AS max_dim_gap_micro,
           CAST((SELECT MIN(dim) FROM gaps g2
                 WHERE g2.agap = (SELECT MAX(agap) FROM gaps)) AS BIGINT)
             AS max_gap_dim
    FROM gaps
    """,
    tags=("llm", "embedding", "stats"),
)
def embedding_mmd_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD² (micro; exact integer after per-component
    micro-rounding) between even- and odd-vec_id embedding halves, with
    the worst-drifting dimension. One posexplode, one (grp, dim)
    aggregate, one dim-dimension combine — never a kernel matrix."""
    from .llm_ops12 import _idiv_col

    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    comp = emb.select(
        (F.col("vec_id") % 2).cast("long").alias("grp"),
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "grp",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1_000_000) + F.lit(0.5))
        .cast("long")
        .alias("x_micro"),
    )
    per = comp.groupBy("grp", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_micro").cast("long").alias("s"),
    )
    means = per.groupBy("dim").agg(
        F.max(
            F.when(F.col("grp") == 0, _idiv_col(F.col("s"), F.col("n")))
        ).alias("mu_a"),
        F.max(
            F.when(F.col("grp") == 1, _idiv_col(F.col("s"), F.col("n")))
        ).alias("mu_b"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
    )
    gaps = means.select(
        "dim",
        (F.col("mu_a") - F.col("mu_b")).alias("gap"),
        F.abs(F.col("mu_a") - F.col("mu_b")).alias("agap"),
        "n_a",
        "n_b",
    )
    mx = gaps.agg(F.max("agap").alias("mg"))
    argdim = (
        gaps.crossJoin(F.broadcast(mx))
        .filter(F.col("agap") == F.col("mg"))
        .agg(F.min("dim").cast("long").alias("max_gap_dim"))
    )
    return (
        gaps.agg(
            F.max("n_a").cast("long").alias("n_even"),
            F.max("n_b").cast("long").alias("n_odd"),
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            _idiv_col(
                F.sum(
                    F.col("gap").cast("decimal(38,0)") * F.col("gap")
                ).cast("decimal(38,0)"),
                F.lit(1_000_000),
            ).alias("mmd2_micro"),
            F.max("agap").cast("long").alias("max_dim_gap_micro"),
        )
        .crossJoin(F.broadcast(argdim))
    )


# --------------------------------------------------------------- wave 10
# Directional association rules over co-purchased parts (support /
# confidence / lift: Agrawal, Imieliński & Swami, SIGMOD 1993;
# conviction: Brin, Motwani, Ullman & Tsur, SIGMOD 1997; leverage:
# Piatetsky-Shapiro 1991): the rule-quality quartet the basket-lift
# wave (brand level) leaves to part level. Rules A→B over DISTINCT
# parts per order with pair support ≥ 2 orders (the AA wave's floor —
# same basket-bounded candidate shape, Σ basket² pairs, never
# all-parts²). All measures exact integers: conf/supp in micro,
# lift_milli = 1000·n·c_ab // (c_a·c_b), leverage_micro =
# 1e6·(n·c_ab − c_a·c_b) // n², and conviction_milli =
# 1000·(n − c_b)·c_a // (n·(c_a − c_ab)) with the conf=1 rows flagged
# `certain` instead of dividing by zero (conviction → ∞ by definition).
# Top-20 by (lift desc, antecedent, consequent) — deterministic.


@query(
    "basket_part_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n_ord AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM baskets),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM baskets
             GROUP BY p),
    pair AS (
      SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS cab
      FROM baskets a JOIN baskets b ON b.o = a.o AND a.p <> b.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    rules AS (
      SELECT pr.pa AS antecedent, pr.pb AS consequent, pr.cab,
             ia.c AS c_a, ib.c AS c_b, (SELECT n FROM n_ord) AS n
      FROM pair pr
      JOIN item ia ON ia.p = pr.pa
      JOIN item ib ON ib.p = pr.pb
    )
    SELECT antecedent, consequent, cab AS n_joint,
           CAST(1000000 * cab // n AS BIGINT) AS support_micro,
           CAST(1000000 * cab // c_a AS BIGINT) AS confidence_micro,
           CAST(1000 * CAST(n AS HUGEINT) * cab // (CAST(c_a AS HUGEINT)
                * c_b) AS BIGINT) AS lift_milli,
           CAST(1000000 * (CAST(n AS HUGEINT) * cab - CAST(c_a AS HUGEINT)
                * c_b) // (CAST(n AS HUGEINT) * n) AS BIGINT)
             AS leverage_micro,
           (cab = c_a) AS certain,
           CAST(CASE WHEN cab = c_a THEN 0
                ELSE 1000 * CAST(n - c_b AS HUGEINT) * c_a
                     // (CAST(n AS HUGEINT) * (c_a - cab))
                END AS BIGINT) AS conviction_milli
    FROM rules
    ORDER BY lift_milli DESC, antecedent, consequent LIMIT 20
    """,
    tags=("relational", "basket"),
)
def basket_part_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part-level association rules by lift, with support /
    confidence / leverage / conviction (all exact integer fixed-point;
    conf=1 rules flagged `certain`, conviction 0 by convention — the
    infinity case stated, never a division by zero). r13 (guide §2.4,
    the _aa_graph basket-expansion recipe): ONE order-keyed
    ``sort_array(collect_set(part))`` aggregate — collect_set subsumes
    the DISTINCT (o, p) projection — feeds the order count (one row per
    order with ≥1 lineitem = COUNT DISTINCT o), the per-part order
    counts (set explode), and the pair counts (task-local i<j expansion
    of the sorted array, symmetrized — the directional self-join's count
    is symmetric). The old shape was a baskets self-join plus THREE more
    evaluations of the distinct (n_ord/item/both join sides: 10 lineitem
    scans, 26 Exchanges in the before-plan); now lineitem is scanned and
    shuffled ONCE into the eager-checkpointed basket relation (computed
    inside every invocation, never reused across runs; baskets are
    order-line bounded — ≤7 in TPC-H — so the expansion is O(1) per
    order, no skew). Two item-count joins; TakeOrdered(20)."""
    from .llm_ops12 import _idiv_col

    li = load_tables(spark, sf_dir, "lineitem").lineitem
    g = (
        li.groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=True)
    )
    n_ord = g.agg(F.count(F.lit(1)).cast("long").alias("n"))
    item = (
        g.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    up = (
        g.select(
            F.explode(D.ordered_pairs_expr(F.col("ps"), "pa", "pb")).alias("_p")
        )
        .groupBy(F.col("_p.pa").alias("pa"), F.col("_p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= 2)
    )
    pair = up.unionByName(
        up.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "cab"
        )
    )
    rules = (
        pair.join(
            item.select(F.col("p").alias("pa"), F.col("c").alias("c_a")),
            "pa",
        )
        .join(
            item.select(F.col("p").alias("pb"), F.col("c").alias("c_b")),
            "pb",
        )
        .crossJoin(F.broadcast(n_ord))
    )
    n_h = F.col("n").cast("decimal(38,0)")
    ca_h = F.col("c_a").cast("decimal(38,0)")
    return rules.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        F.col("cab").alias("n_joint"),
        _idiv_col(F.col("cab"), F.col("n"), scale=1_000_000).alias(
            "support_micro"
        ),
        _idiv_col(F.col("cab"), F.col("c_a"), scale=1_000_000).alias(
            "confidence_micro"
        ),
        _idiv_col(
            n_h * F.col("cab"), ca_h * F.col("c_b"), scale=1000
        ).alias("lift_milli"),
        _idiv_col(
            n_h * F.col("cab") - ca_h * F.col("c_b"),
            n_h * F.col("n"),
            scale=1_000_000,
        ).alias("leverage_micro"),
        (F.col("cab") == F.col("c_a")).alias("certain"),
        F.when(F.col("cab") == F.col("c_a"), F.lit(0))
        .otherwise(
            _idiv_col(
                (F.col("n") - F.col("c_b")).cast("decimal(38,0)")
                * F.col("c_a"),
                n_h * (F.col("c_a") - F.col("cab")),
                scale=1000,
            )
        )
        .cast("long")
        .alias("conviction_milli"),
    ).orderBy(F.desc("lift_milli"), "antecedent", "consequent").limit(20)


# --------------------------------------------------------------- wave 11
# Cohort retention triangle (the classic cohort-analysis layout; see
# Fader & Hardie's CLV literature for the framing): customers cohorted
# by FIRST-order year, and for each cohort × order-age-in-years, the
# count and share (permille) of the cohort's customers that placed ANY
# order at that age — the RATE companion to the revenue LTV triangle
# (llm_ops14 wave 14, which rolls up cents; this rolls up distinct
# active customers). Exact integers end-to-end: one firsts rollup, one
# distinct (customer, age) projection, one cohort×age aggregate, one
# cohort-size join.


@query(
    "orders_retention_triangle",
    oracle=f"""
    WITH {DUCK_ORDER_COHORTS},
    active AS (
      SELECT DISTINCT f.cohort_year, o.o_custkey,
             CAST(date_part('year', o.o_orderdate) AS BIGINT)
               - f.cohort_year AS age
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    ),
    tri AS (
      SELECT cohort_year, age, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM active GROUP BY cohort_year, age
    )
    SELECT t.cohort_year, t.age, s.n_customers, t.n_active,
           CAST(1000 * t.n_active // s.n_customers AS BIGINT)
             AS retention_permille
    FROM tri t JOIN sized s ON s.cohort_year = t.cohort_year
    ORDER BY t.cohort_year, t.age
    """,
    tags=("relational", "orders"),
)
def orders_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × age retention: distinct active customers per cohort-year
    and order-age-in-years, with the cohort share in permille. Exact
    integers; the triangle is (years × years)-bounded regardless of
    order volume."""
    from .llm_ops12 import _idiv_col

    o = load_tables(spark, sf_dir, "orders").orders
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("long").alias("cohort_year")
    )
    sized = firsts.groupBy("cohort_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    active = (
        o.join(firsts, "o_custkey")
        .select(
            "cohort_year",
            "o_custkey",
            (F.year("o_orderdate").cast("long") - F.col("cohort_year")).alias(
                "age"
            ),
        )
        .distinct()
    )
    tri = active.groupBy("cohort_year", "age").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return (
        tri.join(sized, "cohort_year")
        .select(
            "cohort_year",
            "age",
            "n_customers",
            "n_active",
            _idiv_col(
                F.col("n_active"), F.col("n_customers"), scale=1000
            ).alias("retention_permille"),
        )
        .orderBy("cohort_year", "age")
    )


# --------------------------------------------------------------- wave 12
# Burstiness of the arrival process per event type (Goh & Barabási, EPL
# 2008): B = (σ − μ)/(σ + μ) over inter-event gaps — the
# scale-free companion to the dispersion index (wave 6 judges daily
# COUNTS against Poisson; B judges the GAP distribution itself: B → −1
# periodic, B ≈ 0 Poisson, B → +1 bursty). Gaps in seconds (exact
# integers); μ and σ² come from exact integer sums (Σg, Σg² in
# DECIMAL(38,0)/HUGEINT; population variance with the n² denominator
# cleared), σ is the ONE float:
#     b_milli = FLOOR(1000·(σ_scaled − μ_scaled)/(σ_scaled + μ_scaled)
#               + 0.5),  σ_scaled = sqrt(n·Σg² − (Σg)²), μ_scaled = Σg
# (both sides scaled by n so the ratio is unchanged — no division
# before the final expression; identical doubles in both engines).


@query(
    "events_burstiness_index",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST((epoch_us(ts) - epoch_us(LAG(ts) OVER
                  (PARTITION BY event_type, user_id
                   ORDER BY ts, event_id))) // 1000000 AS BIGINT) AS g
      FROM events
      QUALIFY g IS NOT NULL
    ),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(g) AS BIGINT) AS s,
             CAST(SUM(CAST(g AS HUGEINT) * g) AS HUGEINT) AS s2
      FROM gaps GROUP BY event_type
    )
    SELECT event_type, n AS n_gaps,
           CAST(s // n AS BIGINT) AS mean_gap_s,
           CAST(FLOOR(1000.0 * (sqrt(CAST(CAST(n AS HUGEINT) * s2
                                          - CAST(s AS HUGEINT) * s
                                          AS DOUBLE)) - CAST(s AS DOUBLE))
                      / (sqrt(CAST(CAST(n AS HUGEINT) * s2
                                   - CAST(s AS HUGEINT) * s AS DOUBLE))
                         + CAST(s AS DOUBLE)) + 0.5) AS BIGINT)
             AS burstiness_milli
    FROM per ORDER BY event_type
    """,
    tags=("streaming", "events", "stats"),
)
def events_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B (milli; one sqrt float, half-up
    rounded) of per-user inter-event gaps per event type. One lag
    window, one keyed aggregate; moment products in DECIMAL(38,0)."""
    from pyspark.sql.window import Window

    from .llm_ops12 import _idiv_col

    ev = load_tables(spark, sf_dir, "events").events
    wu = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    gaps = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) OVER "
            "(PARTITION BY event_type, user_id ORDER BY ts, event_id)))"
            " div 1000000"
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    per = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    var_scaled = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    ).cast("double")
    sig = F.sqrt(var_scaled)
    mu = F.col("s").cast("double")
    return per.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        _idiv_col(F.col("s"), F.col("n")).alias("mean_gap_s"),
        F.floor(F.lit(1000.0) * (sig - mu) / (sig + mu) + F.lit(0.5))
        .cast("long")
        .alias("burstiness_milli"),
    ).orderBy("event_type")


# --------------------------------------------------------------- wave 13
# Dedup stage-order sensitivity (the pipeline-design honesty row): the
# e2e funnel FIXES an order (exact dedup on redacted text, then the
# near-dup cluster keep-rule among exact survivors). Stage order is a
# real design choice — keep-min-per-cluster over ALL docs then exact
# dedup can keep a DIFFERENT set (the cluster representative may be an
# exact duplicate that order A already removed, whose group then
# re-elects). This row MEASURES the divergence on this corpus instead
# of asserting it away: both orders' final survivor sets, their
# intersection, and the set Jaccard (permille). Front stages are
# single-sourced from the e2e funnel (``_e2e_front_sql`` / the same
# Spark flags), so the sensitivity row can never drift from the
# pipeline it audits.


def _build_order_sensitivity_oracle() -> str:
    return f"""
    WITH {_e2e_front_sql()},
    joined AS (
      SELECT e.doc_id, e.keep2, c.cluster_id
      FROM ex e JOIN cl c ON c.doc_id = e.doc_id
    ),
    order_a AS (
      SELECT doc_id FROM (
        SELECT doc_id, keep2 AND doc_id = MIN(CASE WHEN keep2 THEN doc_id
                 END) OVER (PARTITION BY cluster_id) AS keep
        FROM joined
      ) WHERE keep
    ),
    nd_first AS (
      SELECT j.doc_id, j.keep2,
             j.doc_id = MIN(j.doc_id) OVER (PARTITION BY j.cluster_id)
               AS keep_nd
      FROM joined j
    ),
    order_b AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               keep_nd AND doc_id = MIN(CASE WHEN keep_nd THEN doc_id END)
                 OVER (PARTITION BY h) AS keep
        FROM (SELECT n.doc_id, n.keep_nd, md5(r.r) AS h
              FROM nd_first n JOIN red r ON r.doc_id = n.doc_id)
      ) WHERE keep
    ),
    counts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM joined) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM order_a) AS n_a,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM order_b) AS n_b,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM order_a JOIN order_b USING (doc_id)) AS n_common
    )
    SELECT n_docs, n_a AS n_exact_first, n_b AS n_neardup_first, n_common,
           CAST(1000 * n_common // (n_a + n_b - n_common) AS BIGINT)
             AS survivor_jaccard_permille
    FROM counts
    """


@query(
    "curation_dedup_order_sensitivity",
    oracle=_build_order_sensitivity_oracle(),
    tags=("llm", "curation", "dedup", "eval"),
)
def curation_dedup_order_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivor-set agreement between the two dedup stage orders
    (exact-then-neardup vs neardup-then-exact) on the shared redacted
    corpus: counts, intersection, and set Jaccard (permille). Same
    front stages as the e2e funnel (single-sourced)."""
    from pyspark.sql.window import Window

    from .llm_ops2 import dedup_clusters
    from .llm_ops12 import _idiv_col
    from .llm_ops14 import _pii_injected_col, _redact_chain_spark

    docs = load_tables(spark, sf_dir, "documents").documents
    red = docs.select(
        "doc_id", "source", _pii_injected_col().alias("t")
    ).select("doc_id", _redact_chain_spark(F.col("t")).alias("r"))
    h = F.md5(F.col("r"))
    ex = red.select(
        "doc_id",
        F.col("r"),
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(h))
        ).alias("keep2"),
    )
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    joined = ex.join(cl, "doc_id")
    # r12: both orders' keep flags as COLUMNS on one relation, so the
    # redact + window chain evaluates once — the previous shape combined
    # four aggregates by crossJoin, re-evaluating `joined` four times
    # (guide §1.2: don't compute things twice). doc_id is unique, so
    # |A ∩ B| = Σ (keep_a AND keep_b) exactly.
    w_cl = Window.partitionBy("cluster_id")
    flagged = joined.select(
        "doc_id",
        "r",
        (
            F.col("keep2")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("keep2"), F.col("doc_id"))).over(w_cl)
            )
        ).alias("keep_a"),
        (F.col("doc_id") == F.min("doc_id").over(w_cl)).alias("keep_nd"),
    ).select(
        "doc_id",
        "keep_a",
        (
            F.col("keep_nd")
            & (
                F.col("doc_id")
                == F.min(
                    F.when(F.col("keep_nd"), F.col("doc_id"))
                ).over(Window.partitionBy(F.md5(F.col("r"))))
            )
        ).alias("keep_b"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("keep_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("keep_a") & F.col("keep_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_common"),
    ).select(
        "n_docs",
        F.col("n_a").alias("n_exact_first"),
        F.col("n_b").alias("n_neardup_first"),
        "n_common",
        _idiv_col(
            F.col("n_common"),
            F.col("n_a") + F.col("n_b") - F.col("n_common"),
            scale=1000,
        ).alias("survivor_jaccard_permille"),
    )


# --------------------------------------------------------------- wave 14
# Precision/recall@k curve of the NB distilled gate's RANKING (standard
# IR evaluation; Manning, Raghavan & Schütze, "Introduction to IR",
# ch. 8): rank held-out docs by NB margin (score_pass − score_fail,
# doc_id tie-break), then exact cumulative relevance at k ∈ {10, 25,
# 50, 100} against the Gopher truth. AUC (threshold-free), Youden
# (threshold pick), calibration (probability quality) and the 2x2
# family (fixed gate) are registered; this is the remaining view — gate
# quality AS A RANKER when a curation run takes "the best k docs", the
# operation curation actually performs. Exact integers end-to-end (the
# margin is already an integer micro score; counts and permilles via
# truncated division).


_PK_GRID = (10, 25, 50, 100)


def _build_precision_at_k_oracle() -> str:
    from .llm_ops11 import _nb_chain_sql

    ks = ", ".join(str(k) for k in _PK_GRID)
    return f"""
    WITH {_nb_chain_sql()},
    ranked AS (
      SELECT truth,
             CAST(ROW_NUMBER() OVER (ORDER BY score_pass - score_fail
                                     DESC, doc_id) AS BIGINT) AS rk
      FROM scored
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ranked
    ),
    grid(k) AS (SELECT UNNEST([{ks}])),
    at_k AS (
      SELECT g.k,
             CAST(SUM(CASE WHEN r.truth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_at_k
      FROM grid g JOIN ranked r ON r.rk <= g.k
      GROUP BY g.k
    )
    SELECT CAST(a.k AS BIGINT) AS k, a.n_rel_at_k,
           CAST(1000 * a.n_rel_at_k // a.k AS BIGINT)
             AS precision_permille,
           CAST(1000 * a.n_rel_at_k // t.n_rel AS BIGINT)
             AS recall_permille,
           CAST(1000 * t.n_rel // t.n AS BIGINT) AS base_rate_permille
    FROM at_k a, tot t
    ORDER BY k
    """


@query(
    "quality_precision_at_k",
    oracle=_build_precision_at_k_oracle(),
    tags=("llm", "quality", "eval"),
)
def quality_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision/recall@k of the NB margin ranking vs the Gopher
    truth, k ∈ {10, 25, 50, 100}, with the base rate for reference. One
    pass over the shared NB score relation + one rank window; the grid
    join is k-dimension bounded."""
    from pyspark.sql.window import Window

    from .llm_ops11 import _nb_scored
    from .llm_ops12 import _idiv_col

    scored = _nb_scored(spark, sf_dir)
    ranked = scored.select(
        "truth",
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(F.col("score_pass") - F.col("score_fail")),
                F.asc("doc_id"),
            )
        )
        .cast("long")
        .alias("rk"),
    )
    tot = ranked.agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    grid = spark.createDataFrame([(k,) for k in _PK_GRID], "k long")
    at_k = (
        F.broadcast(grid)
        .join(ranked, ranked.rk <= grid.k)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("truth"), 1).otherwise(0))
            .cast("long")
            .alias("n_rel_at_k")
        )
    )
    return (
        at_k.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_rel_at_k",
            _idiv_col(F.col("n_rel_at_k"), F.col("k"), scale=1000).alias(
                "precision_permille"
            ),
            _idiv_col(
                F.col("n_rel_at_k"), F.col("n_rel"), scale=1000
            ).alias("recall_permille"),
            _idiv_col(F.col("n_rel"), F.col("n"), scale=1000).alias(
                "base_rate_permille"
            ),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------- wave 15
# Weekend odds ratio for error events (case-control 2x2; odds ratio per
# Cornfield, JNCI 1951; the log-OR standard error per Woolf, Ann. Hum.
# Genet. 1955): are errors relatively MORE likely on weekends, after
# conditioning out overall weekend traffic? Cells are exact counts
# (a = weekend errors, b = weekend non-errors, c = weekday errors,
# d = weekday non-errors), OR_milli = 1000·a·d // (b·c) is EXACT
# integer (products in DECIMAL(38,0)/HUGEINT), and the Woolf z =
# ln(OR)/sqrt(1/a + 1/b + 1/c + 1/d) is the ONE float (half-up milli).
# Weekend = Spark dayofweek ∈ {1, 7} == DuckDB dayofweek+1 ∈ {1, 7}
# (the llm_ops8 convention).


@query(
    "events_weekend_error_odds",
    oracle="""
    WITH flags AS (
      SELECT (dayofweek(CAST(ts AS DATE)) + 1) IN (1, 7) AS weekend,
             event_type = 'error' AS is_err
      FROM events
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN weekend AND is_err THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN weekend AND NOT is_err THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN NOT weekend AND is_err THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN NOT weekend AND NOT is_err THEN 1 ELSE 0
                      END) AS BIGINT) AS d
      FROM flags
    )
    SELECT a AS n_weekend_err, b AS n_weekend_other,
           c AS n_weekday_err, d AS n_weekday_other,
           CAST(CASE WHEN b = 0 OR c = 0 THEN 0
                ELSE 1000 * CAST(a AS HUGEINT) * d
                     // (CAST(b AS HUGEINT) * c) END AS BIGINT)
             AS odds_ratio_milli,
           CAST(CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN 0
                ELSE FLOOR(1000.0 * ln((CAST(a AS DOUBLE) * d)
                                       / (CAST(b AS DOUBLE) * c))
                     / sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) + 0.5)
                END AS BIGINT) AS woolf_z_milli
    FROM cells
    """,
    tags=("streaming", "events", "stats"),
)
def events_weekend_error_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday error odds ratio (milli, exact integer) with
    Woolf's log-OR z (milli; one ln + one sqrt float, half-up). One
    scan, one scalar aggregate — the 2x2 never shuffles data."""
    from .llm_ops12 import _idiv_col

    ev = load_tables(spark, sf_dir, "events").events
    weekend = F.dayofweek(F.to_date("ts")).isin(1, 7)
    is_err = F.col("event_type") == "error"
    cells = ev.agg(
        F.sum(F.when(weekend & is_err, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(weekend & ~is_err, 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~weekend & is_err, 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~weekend & ~is_err, 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    orr = _idiv_col(
        a.cast("decimal(38,0)") * d, b.cast("decimal(38,0)") * c, scale=1000
    )
    z = F.floor(
        F.lit(1000.0)
        * F.log(
            (a.cast("double") * d.cast("double"))
            / (b.cast("double") * c.cast("double"))
        )
        / F.sqrt(
            F.lit(1.0) / a + F.lit(1.0) / b + F.lit(1.0) / c + F.lit(1.0) / d
        )
        + F.lit(0.5)
    ).cast("long")
    return cells.select(
        a.alias("n_weekend_err"),
        b.alias("n_weekend_other"),
        c.alias("n_weekday_err"),
        d.alias("n_weekday_other"),
        F.when((b == 0) | (c == 0), F.lit(0))
        .otherwise(orr)
        .cast("long")
        .alias("odds_ratio_milli"),
        F.when((a == 0) | (b == 0) | (c == 0) | (d == 0), F.lit(0))
        .otherwise(z)
        .cast("long")
        .alias("woolf_z_milli"),
    )


# --------------------------------------------------------------- wave 16
# Priority-mix homogeneity across order years (Pearson's chi-square for
# contingency tables, Phil. Mag. 1900): did the o_orderpriority MIX
# shift year-over-year? The r×c test statistic with expected counts
# cleared to integers: for cell (y, p) with observed o, row total r_y,
# column total c_p, grand total n,
#     chi2 = Σ (n·o − r_y·c_p)² / (n·r_y·c_p)
# — each term micro-rounded via _idiv_col (truncated per cell, stated),
# numerators in DECIMAL(38,0)/HUGEINT (n·o squares past 2^63 at
# production volume). Cramér's V (1946) is reported beside it as the
# effect size: V = sqrt(chi2 / (n·min(r−1, c−1))) — the ONE float.
# The contingency table is (years × priorities)-bounded regardless of
# order volume; the relational sibling of the weekday-ANOVA /
# dispersion-index arrival battery.


@query(
    "orders_priority_mix_chi2",
    oracle="""
    WITH cells AS (
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
             o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    rows_t AS (SELECT y, CAST(SUM(o) AS BIGINT) AS ry FROM cells
               GROUP BY y),
    cols_t AS (SELECT p, CAST(SUM(o) AS BIGINT) AS cp FROM cells
               GROUP BY p),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT y) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT p) AS BIGINT) AS nc
            FROM cells),
    terms AS (
      SELECT CAST(1000000 * (CAST(t.n AS HUGEINT) * c.o - CAST(r.ry AS
                  HUGEINT) * l.cp)
                  * (CAST(t.n AS HUGEINT) * c.o - CAST(r.ry AS HUGEINT)
                     * l.cp)
                  // (CAST(t.n AS HUGEINT) * r.ry * l.cp) AS BIGINT)
               AS term_micro
      FROM cells c
      JOIN rows_t r ON r.y = c.y
      JOIN cols_t l ON l.p = c.p
      CROSS JOIN tot t
    )
    SELECT t.nr AS n_years, t.nc AS n_priorities, t.n AS n_orders,
           CAST((t.nr - 1) * (t.nc - 1) AS BIGINT) AS dof,
           CAST(SUM(m.term_micro) // 1000 AS BIGINT) AS chi2_milli,
           CAST(FLOOR(1000 * sqrt(CAST(SUM(m.term_micro) AS DOUBLE)
                / 1000000.0
                / (CAST(t.n AS DOUBLE)
                   * CAST(LEAST(t.nr - 1, t.nc - 1) AS DOUBLE))) + 0.5)
             AS BIGINT) AS cramers_v_milli
    FROM terms m CROSS JOIN tot t
    GROUP BY t.nr, t.nc, t.n
    """,
    tags=("relational", "orders", "stats"),
)
def orders_priority_mix_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square (milli) of the year × priority contingency
    table with Cramér's V effect size (milli; one sqrt float). Exact
    per-cell integer terms via cleared expected counts; the table is
    dimension-bounded (years × priorities)."""
    from .llm_ops12 import _idiv_col

    o = load_tables(spark, sf_dir, "orders").orders
    cells = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows_t = cells.groupBy("y").agg(F.sum("o").cast("long").alias("ry"))
    cols_t = cells.groupBy("p").agg(F.sum("o").cast("long").alias("cp"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("y").cast("long").alias("nr"),
        F.countDistinct("p").cast("long").alias("nc"),
    )
    n_h = F.col("n").cast("decimal(38,0)")
    diff = n_h * F.col("o") - F.col("ry").cast("decimal(38,0)") * F.col("cp")
    terms = (
        cells.join(rows_t, "y")
        .join(cols_t, "p")
        .crossJoin(F.broadcast(tot))
        .select(
            _idiv_col(
                (diff * diff).cast("decimal(38,0)"),
                n_h * F.col("ry") * F.col("cp"),
                scale=1_000_000,
            ).alias("term_micro"),
            "n",
            "nr",
            "nc",
        )
    )
    agg = terms.groupBy("nr", "nc", "n").agg(
        F.sum("term_micro").cast("long").alias("s_micro")
    )
    return agg.select(
        F.col("nr").alias("n_years"),
        F.col("nc").alias("n_priorities"),
        F.col("n").alias("n_orders"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        _idiv_col(F.col("s_micro"), F.lit(1000)).alias("chi2_milli"),
        F.floor(
            F.lit(1000)
            * F.sqrt(
                F.col("s_micro").cast("double")
                / F.lit(1_000_000.0)
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("nr") - 1, F.col("nc") - 1).cast(
                        "double"
                    )
                )
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cramers_v_milli"),
    )


# --------------------------------------------------------------- wave 17
# Stationary distribution of the behavioral Markov chain (power
# iteration / Perron-Frobenius; Kemeny & Snell, "Finite Markov
# Chains", 1960): where does a user's event process SPEND its time in
# the long run, vs where the raw event mix says it is today? The
# transition relation is single-sourced from the registered
# events_transition_matrix; rows normalize to micro fixed-point
# (p_micro = 1e6·n_ij // row_i, truncated — stated), and K = 16
# iterations of pi·P run in EXACT integer arithmetic (per-term
# pi·p // 1e6, truncation order identical in both engines — the oracle
# unrolls the same 16 joins). The chain is type-dimension bounded
# (|types|² = 25 cells), so every iteration is a 5-row join no matter
# the corpus size. The empirical marginal rides beside the fixed point:
# delta ≈ 0 says the observed mix IS the stationary mix (no transient).

_MARKOV_ITERS = 16
_MARKOV_SCALE = 1_000_000


def _build_markov_oracle() -> str:
    from .registry import QUERIES

    tm = QUERIES["events_transition_matrix"].oracle.strip()
    it = """pi0 AS (
      SELECT prev_type AS state,
             CAST({s} // (SELECT COUNT(DISTINCT prev_type) FROM p)
                  AS BIGINT) AS pi
      FROM (SELECT DISTINCT prev_type FROM p) d(prev_type)
    )""".format(s=_MARKOV_SCALE)
    steps = []
    for k in range(1, _MARKOV_ITERS + 1):
        steps.append(f"""pi{k} AS (
      SELECT p.next_type AS state,
             CAST(SUM(CAST(q.pi AS HUGEINT) * p.p_micro
                      // {_MARKOV_SCALE}) AS BIGINT) AS pi
      FROM pi{k - 1} q JOIN p ON p.prev_type = q.state
      GROUP BY p.next_type
    )""")
    chain = ",\n    ".join([it] + steps)
    return f"""
    WITH tm AS ({tm}),
    rowt AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS rt FROM tm
             GROUP BY prev_type),
    p AS (
      SELECT t.prev_type, t.next_type,
             CAST({_MARKOV_SCALE} * t.n // r.rt AS BIGINT) AS p_micro
      FROM tm t JOIN rowt r ON r.prev_type = t.prev_type
    ),
    {chain},
    emp AS (
      SELECT event_type AS state,
             CAST({_MARKOV_SCALE} * COUNT(*)
                  // (SELECT COUNT(*) FROM events) AS BIGINT) AS e
      FROM events GROUP BY event_type
    )
    SELECT f.state, f.pi AS stationary_micro, emp.e AS empirical_micro,
           f.pi - emp.e AS delta_micro
    FROM pi{_MARKOV_ITERS} f JOIN emp ON emp.state = f.state
    ORDER BY f.state
    """


@query(
    "events_markov_stationary",
    oracle=_build_markov_oracle(),
    tags=("llm", "events", "sequence", "stats"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution (micro fixed-point, 16 exact integer
    power iterations) of the registered transition matrix, beside the
    empirical event mix and their gap. Every iteration is a
    type-dimension-bounded 5-row join; the oracle unrolls the identical
    iterations."""
    from .llm_ops7 import events_transition_matrix
    from .llm_ops12 import _idiv_col

    tm = events_transition_matrix(spark, sf_dir)
    rowt = tm.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("rt")
    )
    p = tm.join(rowt, "prev_type").select(
        "prev_type",
        "next_type",
        _idiv_col(F.col("n"), F.col("rt"), scale=_MARKOV_SCALE).alias(
            "p_micro"
        ),
    )
    # r12: materialize the k²-bounded transition matrix ONCE — the 16
    # unrolled iterations each embedded the full events-scan subtree, so
    # the analyzed plan grew superlinearly with rounds (planning time,
    # not data, dominated the 2.3 s wall; guide §7.3 "very large plans").
    # One eager checkpoint of ≤ k² rows; values unchanged.
    p = p.localCheckpoint(eager=True)
    states = p.select(F.col("prev_type").alias("state")).distinct()
    n_states = states.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "state",
        _idiv_col(F.lit(_MARKOV_SCALE), F.col("k")).alias("pi"),
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            pi.join(p, pi.state == p.prev_type)
            .groupBy(F.col("next_type").alias("state"))
            .agg(
                F.sum(
                    _idiv_col(
                        F.col("pi").cast("decimal(38,0)")
                        * F.col("p_micro"),
                        F.lit(_MARKOV_SCALE),
                    )
                )
                .cast("long")
                .alias("pi")
            )
        )
    ev = load_tables(spark, sf_dir, "events").events
    n_ev = ev.agg(F.count(F.lit(1)).cast("long").alias("tot"))
    emp = (
        ev.groupBy(F.col("event_type").alias("state"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .crossJoin(F.broadcast(n_ev))
        .select(
            "state",
            _idiv_col(F.col("c"), F.col("tot"), scale=_MARKOV_SCALE).alias(
                "e"
            ),
        )
    )
    return (
        pi.join(emp, "state")
        .select(
            "state",
            F.col("pi").alias("stationary_micro"),
            F.col("e").alias("empirical_micro"),
            (F.col("pi") - F.col("e")).cast("long").alias("delta_micro"),
        )
        .orderBy("state")
    )
