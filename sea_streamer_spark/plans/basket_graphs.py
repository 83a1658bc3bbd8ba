"""Co-purchase graphs and baskets over TPC-H: Adamic-Adar link prediction,
HITS over nations and part association rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.exact import idiv_col
from ..operators.linkpred import aa_graph
from ..sources.tables import load_tables
from .fragments import AA_GRAPH_CTES
from .registry import query


@query(
    "basket_brand_pair_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
    marg AS (SELECT brand, COUNT(*) AS n FROM ob GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_both
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, CAST(n_both AS BIGINT) AS n_both,
           CAST(FLOOR((1000000.0 * n_both * n.n_orders)
                      / (ma.n * mb.n)) AS BIGINT) AS lift_micro
    FROM pairs, n
    JOIN marg ma ON ma.brand = brand_a
    JOIN marg mb ON mb.brand = brand_b
    ORDER BY lift_micro DESC, brand_a, brand_b LIMIT 20
    """,
    tags=("relational", "events"),
)
def basket_brand_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association lift at the brand level — the classic
    retail co-occurrence analysis (Agrawal et al.'s association rules,
    reduced to pairwise lift): lift(a,b) = P(a,b) / (P(a)·P(b)) over
    orders, > 1 meaning the brands are bought together more than chance.
    Brand level (25 values), not part level, because pair statistics at
    the part grain are all-singletons at any realistic basket size.
    lift_micro = floor(1e6·n_both·N / (n_a·n_b)) — both engines evaluate
    the identical double expression tree on integers far below 2^53, then
    floor, so the result is engine-exact.

    Plan (r13, guide §2.4 — the aa_graph basket-expansion recipe): ONE
    order-keyed ``sort_array(collect_set(brand))`` aggregate over the
    broadcast part join — collect_set subsumes the DISTINCT (order,
    brand) projection — feeds the order count (one row per order with
    ≥1 brand = COUNT DISTINCT okey), the 25-row marginals (set explode),
    and the pair counts (task-local i<j expansion of the sorted array —
    sortedness makes brand_a < brand_b by construction). The old shape
    self-joined the distinct relation on the order key and re-evaluated
    it for n_orders/marginals/both join sides (20 scans, 38 Exchanges in
    the before-plan); now lineitem is scanned and shuffled ONCE into the
    eager-checkpointed basket relation (computed inside every
    invocation, never reused across runs; baskets are ≤ 7 lineitems in
    this schema so the expansion is O(1) per order). Marginals are a
    25-row broadcast; top-20 is TakeOrdered. The 1-row N relation rides
    a broadcast nested-loop join by construction (1 × 300 rows)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    g = (
        t.lineitem.select(F.col("l_orderkey").alias("okey"), "l_partkey")
        .join(
            F.broadcast(t.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("okey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .localCheckpoint(eager=True)
    )
    n_orders = g.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    marg = (
        g.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        g.select(
            F.explode(
                D.ordered_pairs_expr(F.col("bs"), "brand_a", "brand_b")
            ).alias("_p")
        )
        .groupBy(
            F.col("_p.brand_a").alias("brand_a"),
            F.col("_p.brand_b").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = F.broadcast(marg.select(F.col("brand").alias("brand_a"), F.col("n").alias("na")))
    mb = F.broadcast(marg.select(F.col("brand").alias("brand_b"), F.col("n").alias("nb")))
    lift = F.floor(
        (1000000.0 * F.col("n_both") * F.col("n_orders"))
        / (F.col("na") * F.col("nb"))
    ).cast("long")
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(ma, "brand_a")
        .join(mb, "brand_b")
        .select(
            "brand_a", "brand_b",
            F.col("n_both").cast("long").alias("n_both"),
            lift.alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "graph_adamic_adar_linkpred",
    oracle=f"""
    WITH {AA_GRAPH_CTES},
    cand AS (
      SELECT wg.u, wg.v,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(CAST(ROUND(1000000 / ln(CAST(dw.d AS DOUBLE)))
                  AS BIGINT)) AS BIGINT) AS aa_micro
      FROM wedges wg JOIN deg dw ON dw.u = wg.w
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = wg.u AND p.pb = wg.v)
      GROUP BY wg.u, wg.v
    )
    SELECT c.u AS part_a, c.v AS part_b, c.cn AS n_common,
           CAST(1000 * c.cn // (du.d + dv.d - c.cn) AS BIGINT)
             AS jaccard_permille,
           c.aa_micro
    FROM cand c JOIN deg du ON du.u = c.u JOIN deg dv ON dv.u = c.v
    ORDER BY c.aa_micro DESC, part_a, part_b LIMIT 20
    """,
    tags=("relational", "graph"),
)
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted co-purchase links: unlinked part pairs ranked by
    Adamic-Adar (micro; Σ 1/ln(deg) over common co-purchase partners,
    each term micro-rounded) with the common-neighbor count and
    neighbor-Jaccard (permille). One basket self-join with a support
    floor, one wedge join, one anti-join against existing edges, one
    keyed aggregate; TakeOrdered(20).

    Hub posture (r10 VERDICT task #4): wedge volume is Σ deg(w)², which
    a 100× co-purchase graph with hub parts turns into the dominant
    cost. The standard mitigation — drop (or sample) wedge CENTERS with
    degree above a cap D — removes only the LEAST informative terms
    (each contributes 1/ln(deg) → 0 as deg grows, Adamic-Adar's whole
    point) while bounding per-center fan-out at C(D,2). This registered
    row keeps the exact uncapped semantics (the test graphs are
    support-floored and small-degree); the capped production shape is
    REGISTERED AND MEASURED as ``graph_adamic_adar_hubcapped``
    (below): same graph single-sourced from ``aa_graph``/
    ``AA_GRAPH_CTES``, wedge volume kept/dropped, AA mass kept, and
    top-20 agreement vs this row, all oracle-checked."""

    pairs, e, deg, wedges = aa_graph(spark, sf_dir)
    unlinked = wedges.join(
        pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    cand = (
        unlinked.join(deg.withColumnRenamed("u", "w"), "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(
                F.round(
                    F.lit(1_000_000) / F.log(F.col("d").cast("double"))
                ).cast("long")
            )
            .cast("long")
            .alias("aa_micro"),
        )
    )
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("cn").alias("n_common"),
            idiv_col(
                F.col("cn"),
                F.col("du") + F.col("dv") - F.col("cn"),
                scale=1000,
            ).alias("jaccard_permille"),
            "aa_micro",
        )
        .orderBy(F.desc("aa_micro"), "part_a", "part_b")
        .limit(20)
    )


# Hub-capped Adamic-Adar: the production posture of the registered
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

    return f"""
    WITH {AA_GRAPH_CTES},
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
    single-sourced from operators/linkpred.py (``aa_graph``; same micro-rounded
    float), so this row measures the CAP, not a reimplementation.

    Shape: the wedge join runs ONCE (both sums in one keyed aggregate
    via F.when); rankings and overlap run on the already-aggregated
    candidate relation; the five scalars ride broadcast crossJoins."""

    pairs, e, deg, wedges = aa_graph(spark, sf_dir)
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
            idiv_col(
                F.col("n_wedges_kept"), F.col("n_wedges_total"), scale=1000
            ).alias("wedge_share_permille"),
            idiv_col(F.col("m_cap"), F.col("m_all"), scale=1000).alias(
                "aa_mass_kept_permille"
            ),
            "n_top20_overlap",
        )
    )


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
    the aa_graph basket-expansion recipe): ONE order-keyed
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
        idiv_col(F.col("cab"), F.col("n"), scale=1_000_000).alias(
            "support_micro"
        ),
        idiv_col(F.col("cab"), F.col("c_a"), scale=1_000_000).alias(
            "confidence_micro"
        ),
        idiv_col(
            n_h * F.col("cab"), ca_h * F.col("c_b"), scale=1000
        ).alias("lift_milli"),
        idiv_col(
            n_h * F.col("cab") - ca_h * F.col("c_b"),
            n_h * F.col("n"),
            scale=1_000_000,
        ).alias("leverage_micro"),
        (F.col("cab") == F.col("c_a")).alias("certain"),
        F.when(F.col("cab") == F.col("c_a"), F.lit(0))
        .otherwise(
            idiv_col(
                (F.col("n") - F.col("c_b")).cast("decimal(38,0)")
                * F.col("c_a"),
                n_h * (F.col("c_a") - F.col("cab")),
                scale=1000,
            )
        )
        .cast("long")
        .alias("conviction_milli"),
    ).orderBy(F.desc("lift_milli"), "antecedent", "consequent").limit(20)


# HITS hubs & authorities (Kleinberg, JACM 1999) on the directed
# supplier-nation → customer-nation trade graph (edge weight = lineitem
# count): which nations CHANNEL trade (hubs: their suppliers ship to
# authoritative buyers) vs ABSORB it (authorities). 8 exact integer
# power iterations in micro fixed-point, each followed by an exact
# idiv normalization to Σ = 1e6 (the same determinized-iteration
# pattern as the Markov-stationary and label-propagation rows — the
# oracle unrolls the identical stages, truncation order and all). The
# nation dimension (25 × 25 edges max) bounds every iteration.
_HITS_ITERS = 8


def _build_hits_oracle() -> str:
    stages = [
        "h0 AS (SELECT u, CAST(1000000 AS BIGINT) AS h FROM "
        "(SELECT DISTINCT u FROM edges))"
    ]
    # each stage references its predecessor exactly ONCE (window-sum
    # normalization, not a scalar subquery): DuckDB inlines CTEs, so a
    # stage read twice doubles the expanded tree per iteration — 2^16
    # scans of the edge relation exhausted the fd limit before the
    # window form made the expansion linear
    for i in range(1, _HITS_ITERS + 1):
        stages.append(f"""ar{i} AS (
      SELECT e.v, CAST(SUM(e.w * h.h) AS BIGINT) AS a
      FROM edges e JOIN h{i - 1} h ON h.u = e.u GROUP BY e.v
    ),
    a{i} AS (
      SELECT v, CAST(1000000 * a // SUM(a) OVER () AS BIGINT) AS a
      FROM ar{i}
    ),
    hr{i} AS (
      SELECT e.u, CAST(SUM(e.w * a.a) AS BIGINT) AS h
      FROM edges e JOIN a{i} a ON a.v = e.v GROUP BY e.u
    ),
    h{i} AS (
      SELECT u, CAST(1000000 * h // SUM(h) OVER () AS BIGINT) AS h
      FROM hr{i}
    )""")
    chain = ",\n    ".join(stages)
    return f"""
    WITH edges AS (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    {chain}
    SELECT n.n_name AS nation,
           COALESCE(h.h, 0) AS hub_micro,
           COALESCE(a.a, 0) AS auth_micro
    FROM nation n
    LEFT JOIN h{_HITS_ITERS} h ON h.u = n.n_nationkey
    LEFT JOIN a{_HITS_ITERS} a ON a.v = n.n_nationkey
    WHERE h.h IS NOT NULL OR a.a IS NOT NULL
    ORDER BY auth_micro DESC, nation
    """


@query(
    "graph_hits_nations",
    oracle=_build_hits_oracle(),
    tags=("llm", "graph", "relational"),
)
def graph_hits_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub and authority scores (micro, Σ = 1e6 each after every
    normalization) per trading nation after 8 iterations. Edge
    construction is the one data-sized step (three broadcast-dimension
    joins + one pair aggregate); every iteration is a ≤ 625-row join."""

    t = load_tables(
        spark, sf_dir, "lineitem", "supplier", "orders", "customer", "nation"
    )
    edges = (
        t.lineitem.join(
            F.broadcast(t.supplier),
            t.lineitem.l_suppkey == t.supplier.s_suppkey,
        )
        .join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .join(
            F.broadcast(t.customer),
            t.orders.o_custkey == t.customer.c_custkey,
        )
        .groupBy(
            F.col("s_nationkey").alias("u"),
            F.col("c_nationkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        # materialize the ≤625-row edge relation once: the iteration
        # references it twice per round and each normalization embeds
        # its numerator relation twice, so without truncating lineage
        # the analysis tree doubles per round (the connected-components
        # localCheckpoint rationale, operators/graph.py)
        .localCheckpoint(eager=True)
    )
    h = edges.select("u").distinct().select(
        "u", F.lit(1_000_000).cast("long").alias("h")
    )
    a = None
    for _ in range(_HITS_ITERS):
        ar = (
            edges.join(h, "u")
            .groupBy("v")
            .agg(F.sum(F.col("w") * F.col("h")).cast("long").alias("a"))
            .localCheckpoint(eager=True)
        )
        at = ar.agg(F.sum("a").cast("long").alias("ta"))
        a = ar.crossJoin(F.broadcast(at)).select(
            "v",
            idiv_col(F.col("a"), F.col("ta"), scale=1_000_000).alias("a"),
        )
        hr = (
            edges.join(a, "v")
            .groupBy("u")
            .agg(F.sum(F.col("w") * F.col("a")).cast("long").alias("h"))
            .localCheckpoint(eager=True)
        )
        ht = hr.agg(F.sum("h").cast("long").alias("th"))
        h = hr.crossJoin(F.broadcast(ht)).select(
            "u",
            idiv_col(F.col("h"), F.col("th"), scale=1_000_000).alias("h"),
        )
    nation = t.nation.select("n_nationkey", "n_name")
    return (
        nation.join(h, nation.n_nationkey == h.u, "left")
        .join(a, nation.n_nationkey == a.v, "left")
        .filter(F.col("h").isNotNull() | F.col("a").isNotNull())
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias(
                "hub_micro"
            ),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias(
                "auth_micro"
            ),
        )
        .orderBy(F.desc("auth_micro"), "nation")
    )
