"""Embedding audits: SQ8 quantization, exact duplicate vectors, dimension
variance, centroid shift, anisotropy and MMD split drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .fragments import ORACLE_SF_DIR
from .registry import query


def _sq8_oracle() -> str:
    import os

    from ..operators.embedding import sq8_fit_np
    from ..operators.text import BASE, MOD

    mins, scales = sq8_fit_np(os.path.join(ORACLE_SF_DIR, "embeddings.parquet"))

    def dlist(v):
        # element-wise ::DOUBLE — a bare 64-element decimal-literal list
        # would first take a COMMON DECIMAL type (losing ulps) before any
        # outer CAST(.. AS DOUBLE[]) could run
        return "[" + ", ".join(f"{float(x)!r}::DOUBLE" for x in v) + "]"

    idx = "[" + ", ".join(str(i) for i in range(1, 65)) + "]"
    code = (
        "LEAST(255, GREATEST(0, CAST(FLOOR((CAST(embedding[i] AS DOUBLE)"
        f" - mn[i]) * sc[i] + 1e-9) AS BIGINT)))"
    )
    return f"""
    WITH m AS (
      SELECT {dlist(mins)} AS mn, {dlist(scales)} AS sc
    ), c AS (
      SELECT vec_id,
             list_transform({idx}, i -> {code}) AS codes
      FROM embeddings, m
    )
    SELECT vec_id,
           CAST(list_reduce(codes, (a, b) -> a + b) AS BIGINT) AS code_sum,
           CAST(list_min(codes) AS BIGINT) AS code_min,
           CAST(list_max(codes) AS BIGINT) AS code_max,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                (a, b) -> (a * {BASE} + b) % {MOD}) AS BIGINT) AS code_hash
    FROM c ORDER BY vec_id"""


@query("embedding_quantize_sq8", oracle=_sq8_oracle(), tags=("llm", "embedding"))
def embedding_quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization of the embedding column (the FAISS-SQ8
    storage path, completing the vector-compression family next to the PQ
    codebooks and IVF cells): per-dim (min, scale) fitted ONCE on the gate
    corpus (train-once-apply-at-any-sf), codes = clamp(floor((x-mn)*s))
    as a pure JVM projection — zero Python, zero shuffle, 4x smaller
    at-rest vectors. The driver hash checks the code arrays themselves
    via the polynomial fold; float32 -> double casts are exact, so both
    engines compute bit-identical codes."""
    import os

    from ..operators.embedding import sq8_encode, sq8_fit_np
    from ..operators.text import BASE, MOD

    mins, scales = sq8_fit_np(os.path.join(ORACLE_SF_DIR, "embeddings.parquet"))
    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    codes = sq8_encode(emb, mins, scales)
    withc = emb.select("vec_id", codes.alias("codes"))
    return withc.select(
        "vec_id",
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, c: a + c)
        .cast("long")
        .alias("code_sum"),
        F.array_min("codes").cast("long").alias("code_min"),
        F.array_max("codes").cast("long").alias("code_max"),
        F.aggregate(
            "codes",
            F.lit(0).cast("long"),
            lambda a, c: (a * BASE + c) % MOD,
        )
        .cast("long")
        .alias("code_hash"),
    )


@query(
    "embedding_dim_variance_audit",
    oracle="""
    WITH m AS (
      SELECT generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings
    ), cent AS (
      SELECT pos, CAST(FLOOR(SUM(xm) * 1.0 / COUNT(*)) AS BIGINT) AS mm,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM m GROUP BY pos
    )
    SELECT CAST(m.pos AS BIGINT) AS pos, cent.mm AS mean_micro,
           CAST(SUM((xm - mm) * (xm - mm)) // MAX(n) AS BIGINT)
             AS var_micro2,
           CAST(MIN(xm) AS BIGINT) AS min_micro,
           CAST(MAX(xm) AS BIGINT) AS max_micro
    FROM m JOIN cent USING (pos)
    GROUP BY m.pos, cent.mm ORDER BY pos
    """,
    tags=("llm", "embedding", "profile"),
)
def embedding_dim_variance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension variance audit of the embedding column — the
    collapsed-dimension screen run before PCA/whitening or truncated
    serving (a near-zero-variance dimension carries no information; a few
    dominant ones means the encoder rank-collapsed). Exact integers
    end-to-end via the two-pass trick: the d-row integer-micros centroid
    embeds as a literal (the outlier-query pattern), then Σ(x−m)² is a
    pure BIGINT sum (|diff| ~1e6 ⇒ Σ ≤ ~6e15, no overflow) and the
    variance is one floor division by the row count.

    Plan: one dim-keyed partial-agg shuffle for the centroid (d ×
    partitions exchange rows), a geometry-bounded d-row collect, then ONE
    map-only posexplode + dim-keyed agg for all four moments together.
    Linear; no float accumulation anywhere."""
    t = load_tables(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    m = t.embeddings.select(micro.alias("xm"))
    sums = (
        m.select(F.posexplode("xm").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    mean = {int(r["pos"]): int(r["s"]) // int(r["n"]) for r in sums}
    n_rows = int(sums[0]["n"])
    from ..operators.litexpr import lit_longs

    mean_lit = lit_longs(mean[p] for p in sorted(mean))  # one-parse literal (r13)
    ex = m.select(F.posexplode("xm").alias("pos", "v")).select(
        "pos", "v",
        F.element_at(mean_lit, F.col("pos") + 1).alias("mm"),
    )
    return (
        ex.groupBy("pos")
        .agg(
            F.max("mm").alias("mean_micro"),
            F.floor(
                F.sum((F.col("v") - F.col("mm")) * (F.col("v") - F.col("mm")))
                / F.lit(n_rows)
            ).cast("long").alias("var_micro2"),
            F.min("v").cast("long").alias("min_micro"),
            F.max("v").cast("long").alias("max_micro"),
        )
        .select(
            # DuckDB generate_subscripts is 1-based; posexplode is 0-based
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.col("mean_micro").cast("long"),
            "var_micro2", "min_micro", "max_micro",
        )
        .orderBy("pos")
    )


@query(
    "embedding_centroid_shift_by_label",
    oracle="""
    WITH m AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings
    ), lp AS (
      SELECT label, pos, SUM(xm) AS s, COUNT(*) AS n
      FROM m GROUP BY label, pos
    ), g AS (
      SELECT pos, CAST(FLOOR(SUM(s) * 1.0 / SUM(n)) AS BIGINT) AS gm
      FROM lp GROUP BY pos
    ), cl AS (
      SELECT label, pos, CAST(FLOOR(s * 1.0 / n) AS BIGINT) AS lm, n
      FROM lp
    )
    SELECT cl.label,
           CAST(MIN(cl.n) AS BIGINT) AS n_vecs,
           CAST(SUM((cl.lm - g.gm) * (cl.lm - g.gm)) AS BIGINT) AS shift_sq
    FROM cl JOIN g USING (pos)
    GROUP BY cl.label ORDER BY cl.label
    """,
    tags=("llm", "embedding"),
)
def embedding_centroid_shift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift audit: squared distance between each
    label's centroid and the corpus centroid, in micro-unit fixed point —
    the screen for 'one class embeds somewhere else entirely' (an encoder
    version mix or a label leak) run before trusting per-class retrieval
    eval. Engine-exact by the embedding_outlier_centroid convention:
    components quantized to floor(x·1e6) BIGINT first, centroids are
    floor(Σ/n) per dimension, distances pure BIGINT sums.

    Plan: one posexplode → one (label, pos)-keyed partial-agg shuffle
    (labels × d rows); the global centroid derives from the SAME
    aggregate (a second d-row agg, no second pass over vectors); one
    labels×d join + label-keyed sum. No collects at all — fully
    distributed, geometry-bounded end to end."""
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, "embeddings")
    micro = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    m = t.embeddings.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(micro).alias("pos", "xm"),
    )
    lp = m.groupBy("label", "pos").agg(
        F.sum("xm").alias("s"), F.count(F.lit(1)).alias("n")
    )
    g = lp.groupBy("pos").agg(
        F.floor(F.sum("s") * F.lit(1.0) / F.sum("n")).cast("long").alias("gm")
    )
    cl = lp.select(
        "label", "pos",
        F.floor(F.col("s") * F.lit(1.0) / F.col("n")).cast("long").alias("lm"),
        "n",
    )
    return (
        cl.join(g, "pos")
        .groupBy("label")
        .agg(
            F.min("n").cast("long").alias("n_vecs"),
            F.sum((F.col("lm") - F.col("gm")) * (F.col("lm") - F.col("gm")))
            .cast("long")
            .alias("shift_sq"),
        )
        .orderBy("label")
    )


# Embedding anisotropy audit (Ethayarajh, "How Contextual are
# Contextualized Word Representations?", EMNLP 2019; Mu & Viswanath,
# "All-but-the-Top", ICLR 2018): the expected cosine between two
# RANDOM vectors — isotropic spaces give ~0, collapsed ("cone-shaped")
# embedding spaces give large positive values that wreck cosine
# retrieval. The audit is exact and O(n·d), never pairwise:
#     Σ_{a≠b} û_a·û_b = |Σ û|² − Σ|û|²
# over unit vectors û milli-rounded per component (the DEFINITION is
# over the rounded unit vectors, so every engine sums identical
# integers; milli keeps |Σ û|² within BIGINT at any corpus size that
# fits a cluster). Also reports the dominant dimension of the mean
# vector and its energy share — the "all-but-the-top" common-direction
# diagnostic.
@query(
    "embedding_anisotropy_audit",
    oracle="""
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(1000 * x / sqrt(list_reduce(
                      list_prepend(CAST(0 AS DOUBLE),
                        list_transform(embedding,
                          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
                      (a, b) -> a + b))) AS BIGINT)) AS um
      FROM embeddings
    ),
    comp AS (
      SELECT j, CAST(uv AS BIGINT) AS uv FROM (
        SELECT generate_subscripts(um, 1) AS j,
               unnest(um) AS uv
        FROM u
      )
    ),
    dims AS (
      SELECT j, CAST(SUM(uv) AS BIGINT) AS s,
             CAST(SUM(uv * uv) AS BIGINT) AS ssq
      FROM comp GROUP BY j
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM u),
    tot AS (
      SELECT CAST(SUM(s * s) AS BIGINT) AS s2,
             CAST(SUM(ssq) AS BIGINT) AS ssq
      FROM dims
    ),
    top AS (
      SELECT j AS top_dim, s * s AS top_e FROM dims
      ORDER BY s * s DESC, j LIMIT 1
    )
    SELECT n.nv AS n_vectors,
           CAST((tot.s2 - tot.ssq) // (n.nv * (n.nv - 1)) AS BIGINT)
             AS anisotropy_micro,
           CAST(top.top_dim AS BIGINT) AS top_dim,
           CAST(CASE WHEN tot.s2 = 0 THEN 0
                ELSE 1000 * top.top_e // tot.s2 END AS BIGINT)
             AS top_dim_share_permille
    FROM n CROSS JOIN tot CROSS JOIN top
    """,
    tags=("llm", "embedding", "eval"),
)
def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected random-pair cosine of the embedding space (micro; large
    positive = anisotropic cone), plus the mean vector's dominant
    dimension and its energy share (permille). Exact integers after the
    per-component milli rounding of unit vectors; one pass, O(n·d) —
    the pairwise sum is recovered from |Σû|² − Σ|û|², so the audit
    never materializes a pair. Plan: one vector projection, one
    d-row dimension aggregate (1-based dim index, both engines). The
    anisotropy quotient can be negative; both engines divide with
    truncation toward zero (the house _idiv semantics on signed
    numerators)."""
    from ..operators.similarity import dot

    emb = load_tables(spark, sf_dir, "embeddings").embeddings
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    u = emb.select(
        F.transform(
            "embedding",
            lambda x: F.round(1000 * x.cast("double") / nrm).cast("long"),
        ).alias("um")
    )
    comp = u.select(F.posexplode("um").alias("j0", "uv")).select(
        (F.col("j0") + 1).alias("j"), "uv"
    )
    # every dimension row also carries the vector count (each vector
    # contributes exactly one uv per dim), so n, the moment totals AND
    # the dominant-dim argmax all fold into ONE aggregate chain — the
    # embedding table is scanned exactly once (plan-pinned).
    dims = comp.groupBy("j").agg(
        F.sum("uv").cast("long").alias("s"),
        F.sum(F.col("uv") * F.col("uv")).cast("long").alias("ssq"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    tot = dims.agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("s2"),
        F.sum("ssq").cast("long").alias("ssq"),
        F.max("cnt").cast("long").alias("nv"),
        F.max(
            F.struct(
                (F.col("s") * F.col("s")).alias("e"),
                (-F.col("j")).alias("nj"),
            )
        ).alias("mx"),
    )
    return tot.select(
        F.col("nv").alias("n_vectors"),
        idiv_col(
            F.col("s2") - F.col("ssq"),
            F.col("nv") * (F.col("nv") - 1),
        ).alias("anisotropy_micro"),
        (-F.col("mx.nj")).cast("long").alias("top_dim"),
        F.when(F.col("s2") == 0, F.lit(0))
        .otherwise(idiv_col(F.lit(1000) * F.col("mx.e"), F.col("s2")))
        .cast("long")
        .alias("top_dim_share_permille"),
    )


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
            F.when(F.col("grp") == 0, idiv_col(F.col("s"), F.col("n")))
        ).alias("mu_a"),
        F.max(
            F.when(F.col("grp") == 1, idiv_col(F.col("s"), F.col("n")))
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
            idiv_col(
                F.sum(
                    F.col("gap").cast("decimal(38,0)") * F.col("gap")
                ).cast("decimal(38,0)"),
                F.lit(1_000_000),
            ).alias("mmd2_micro"),
            F.max("agap").cast("long").alias("max_dim_gap_micro"),
        )
        .crossJoin(F.broadcast(argdim))
    )
