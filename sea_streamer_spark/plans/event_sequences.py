"""Event sequences: transition matrices and entropy, Markov chains,
session bigrams and as-of joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.exact import idiv_col
from ..sources.tables import load_tables
from .registry import QUERIES, query


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("llm", "events", "sequence"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event sequence
    — the behavioral bigram table session-modeling / next-event-prediction
    pipelines train on. LAG over (ts, event_id) (the id tie-break makes the
    sequence total, so both engines see identical bigrams) then one
    (prev, next)-keyed count.

    Plan: one user-keyed window shuffle + one keyed partial-agg shuffle of
    the |types|² transition relation. Linear in events; the result is
    bounded by the type-vocabulary square, not the corpus."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "asof_join_tolerance_15m",
    oracle="""
    WITH j AS (
      SELECT l.event_id, l.user_id, l.ts, l.value,
             r.value AS value_click, r.ts AS ts_click
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN ts_click >= ts - INTERVAL 15 MINUTE
                THEN value_click END AS value_click,
           CASE WHEN ts_click >= ts - INTERVAL 15 MINUTE
                THEN ts_click END AS ts_click
    FROM j ORDER BY event_id
    """,
    tags=("events", "asof", "join"),
)
def asof_join_tolerance_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness TOLERANCE (pandas ``merge_asof``'s
    ``tolerance=``, exercised through operators/asof.py's
    ``tolerance_expr``): each purchase takes the latest preceding click by
    the same user ONLY if it is at most 15 minutes old — staler context is
    worse than none for attribution/feature joins, and because backward
    as-of picks the LATEST candidate, post-match nulling is exactly
    tolerance semantics (no earlier candidate can be fresher). Left rows
    survive with NULLs, preserving the left-join contract.

    Plan: identical to the registered backward as-of (union + ONE
    user-keyed window, struct carry-forward) plus a pure-projection
    tolerance gate — the knob costs zero extra shuffles."""
    from ..operators.asof import asof_join

    t = load_tables(spark, sf_dir, "events")
    purchases = t.events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = t.events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases, clicks, on="ts", by="user_id",
        value_cols=["value"], suffix="_click",
        tolerance_expr="INTERVAL 15 MINUTE",
    ).orderBy("event_id")


# Markov transition entropy per antecedent (Shannon 1948 over the
# events_transition_matrix relation) — the predictability audit of the
# behavioral bigram table: H(next | prev) near zero means the next
# event is scripted (bot traffic / instrumentation echo), near ln(K)
# means uniform. Per-cell p*ln(p) is the one float, micro-rounded per
# CELL (order-free integer sum), the probabilities are exact integer
# ratios first — the JSD-matrix recipe applied to the Markov row.
@query(
    "events_transition_entropy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    cells AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    rows_ AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n,
             CAST(COUNT(*) AS BIGINT) AS n_next
      FROM cells GROUP BY prev_type
    ),
    contrib AS (
      SELECT c.prev_type,
             CAST(ROUND(-ln(CAST(c.n AS DOUBLE) / r.row_n)
                        * c.n * 1000000 / r.row_n) AS BIGINT) AS micro
      FROM cells c JOIN rows_ r USING (prev_type)
    )
    SELECT r.prev_type, r.row_n AS n_transitions, r.n_next,
           CAST(SUM(co.micro) AS BIGINT) AS entropy_micro_nats
    FROM rows_ r JOIN contrib co USING (prev_type)
    GROUP BY r.prev_type, r.row_n, r.n_next
    ORDER BY r.prev_type
    """,
    tags=("llm", "events", "sequence"),
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy per antecedent event type (micro
    nats): H(next|prev) = -sum p ln p over the first-order Markov row,
    with p an exact integer ratio and each cell's contribution
    micro-rounded before the (order-free) integer sum. One user-keyed
    window + one (prev, next) count; everything after is
    event-type-dimension-sized."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "events")
    seq = t.events.select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    cells = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows_ = cells.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("row_n"),
        F.count(F.lit(1)).cast("long").alias("n_next"),
    )
    contrib = cells.join(rows_, "prev_type").select(
        "prev_type",
        F.round(
            -F.log(F.col("n").cast("double") / F.col("row_n"))
            * F.col("n")
            * 1000000
            / F.col("row_n")
        )
        .cast("long")
        .alias("micro"),
    )
    return (
        rows_.join(contrib, "prev_type")
        .groupBy("prev_type", F.col("row_n").alias("n_transitions"), "n_next")
        .agg(F.sum("micro").cast("long").alias("entropy_micro_nats"))
        .orderBy("prev_type")
    )


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

    tm = events_transition_matrix(spark, sf_dir)
    rowt = tm.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("rt")
    )
    p = tm.join(rowt, "prev_type").select(
        "prev_type",
        "next_type",
        idiv_col(F.col("n"), F.col("rt"), scale=_MARKOV_SCALE).alias(
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
        idiv_col(F.lit(_MARKOV_SCALE), F.col("k")).alias("pi"),
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            pi.join(p, pi.state == p.prev_type)
            .groupBy(F.col("next_type").alias("state"))
            .agg(
                F.sum(
                    idiv_col(
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
            idiv_col(F.col("c"), F.col("tot"), scale=_MARKOV_SCALE).alias(
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


# Sequential-pattern support within sessions (Agrawal & Srikant, ICDE
# 1995 — the k=2 contiguous case, i.e. the empirical transition support
# / confidence / lift table the reference's Markov row normalizes):
# consecutive event-type pairs inside the registered 30-minute
# sessionization, with association metrics over the bounded type x type
# dimension. Complements the Markov stationary wave (which models the
# SAME transitions) with the rule-mining view: confidence is
# P(next=b | cur=a), lift is confidence / P(next=b) — both integer
# fixed-point over exact counts.
@query(
    "events_session_bigrams",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    ), tr AS (
      SELECT event_type AS et_from,
             LEAD(event_type) OVER (PARTITION BY user_id, session_idx
                                    ORDER BY ts, event_id) AS et_to
      FROM s
    ), pairs AS (
      SELECT et_from, et_to, CAST(COUNT(*) AS BIGINT) AS support
      FROM tr WHERE et_to IS NOT NULL GROUP BY et_from, et_to
    ),
    margins AS (
      SELECT CAST(SUM(support) AS BIGINT) AS total FROM pairs
    ),
    fromc AS (
      SELECT et_from, CAST(SUM(support) AS BIGINT) AS nf FROM pairs
      GROUP BY et_from
    ),
    toc AS (
      SELECT et_to, CAST(SUM(support) AS BIGINT) AS nt FROM pairs
      GROUP BY et_to
    )
    SELECT p.et_from, p.et_to, p.support,
           CAST(1000 * p.support // f.nf AS BIGINT) AS confidence_milli,
           CAST(1000000 * p.support * m.total // (f.nf * t.nt)
                AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN fromc f ON f.et_from = p.et_from
    JOIN toc t ON t.et_to = p.et_to
    CROSS JOIN margins m
    ORDER BY p.support DESC, p.et_from, p.et_to
    LIMIT 25
    """,
    tags=("llm", "events", "mining"),
)
def events_session_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 within-session event-type transitions by support, with
    confidence (milli) and lift (micro). One user-keyed window (the
    registered sessionization shape, verbatim ordering ts/event_id) +
    one (user, session)-keyed LEAD window; everything after is over the
    ≤ |types|² pair dimension."""
    from pyspark.sql.window import Window as W


    t = load_tables(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1
    ).otherwise(0)
    s = t.events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_sess)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_idx"),
    )
    tr = s.select(
        F.col("event_type").alias("et_from"),
        F.lead("event_type")
        .over(
            W.partitionBy("user_id", "session_idx").orderBy("ts", "event_id")
        )
        .alias("et_to"),
    ).filter(F.col("et_to").isNotNull())
    pairs = tr.groupBy("et_from", "et_to").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    total = pairs.agg(F.sum("support").cast("long").alias("total"))
    fromc = pairs.groupBy("et_from").agg(
        F.sum("support").cast("long").alias("nf")
    )
    toc = pairs.groupBy("et_to").agg(
        F.sum("support").cast("long").alias("nt")
    )
    return (
        pairs.join(F.broadcast(fromc), "et_from")
        .join(F.broadcast(toc), "et_to")
        .crossJoin(F.broadcast(total))
        .select(
            "et_from",
            "et_to",
            "support",
            idiv_col(F.col("support"), F.col("nf"), scale=1000).alias(
                "confidence_milli"
            ),
            idiv_col(
                F.col("support") * F.col("total"),
                F.col("nf") * F.col("nt"),
                scale=1_000_000,
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("support"), "et_from", "et_to")
        .limit(25)
    )


# Markov-chain entropy rate (Shannon 1948 §7; Cover & Thomas ch.4:
# H(X) = −Σ_i π_i Σ_j p_ij ln p_ij for a stationary chain): how
# predictable the event stream is per step, in nano-nats, with the
# efficiency ratio against ln(k) (the i.i.d.-uniform ceiling). BOTH
# inputs are the registered rows verbatim — π from the 16-iteration
# stationary oracle, p from the transition-matrix oracle — so this row
# cannot drift from the chain it summarizes. Each of the ≤ k² cells
# contributes one float ln micro-product rounded to an integer BEFORE
# the order-free sum (the NB-score determinism recipe).
def _build_entropy_rate_oracle() -> str:

    pi = QUERIES["events_markov_stationary"].oracle.strip()
    tm = QUERIES["events_transition_matrix"].oracle.strip()
    return f"""
    WITH pi AS (
      SELECT state, stationary_micro FROM ({pi})
    ),
    tm AS (SELECT * FROM ({tm})),
    rowt AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS rt FROM tm
      GROUP BY prev_type
    ),
    cells AS (
      SELECT t.prev_type, CAST(1000000 * t.n // r.rt AS BIGINT) AS p
      FROM tm t JOIN rowt r ON r.prev_type = t.prev_type
    ),
    terms AS (
      SELECT CAST(FLOOR(1e9 * (CAST(pi.stationary_micro AS DOUBLE) / 1e6)
                        * (CAST(c.p AS DOUBLE) / 1e6)
                        * (-ln(CAST(c.p AS DOUBLE) / 1e6)) + 0.5)
                  AS BIGINT) AS t_nano
      FROM cells c JOIN pi ON pi.state = c.prev_type
      WHERE c.p > 0
    ),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM pi)
    SELECT k.k AS n_states,
           CAST(SUM(t.t_nano) AS BIGINT) AS entropy_rate_nano,
           CAST(FLOOR(1e9 * ln(CAST(k.k AS DOUBLE)) + 0.5) AS BIGINT)
             AS max_entropy_nano,
           CAST(1000 * SUM(t.t_nano)
                // CAST(FLOOR(1e9 * ln(CAST(k.k AS DOUBLE)) + 0.5)
                        AS BIGINT) AS BIGINT) AS efficiency_milli
    FROM terms t CROSS JOIN k
    GROUP BY k.k
    """


@query(
    "events_markov_entropy_rate",
    oracle=_build_entropy_rate_oracle(),
    tags=("llm", "events", "sequence", "stats"),
)
def events_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entropy rate (nano-nats/step) of the registered event Markov
    chain, its ln(k) ceiling, and the efficiency permille. k²-bounded
    cell relation; one ln per cell rounded before the exact sum."""

    # r12: materialize the k-row stationary vector ONCE — it is
    # referenced twice below (the terms join and the k count), and each
    # reference embeds the full 16-iteration unrolled chain whose
    # PLANNING cost dominates its wall time (the checkpoint
    # rationale; guide §7.3 "very large plans")
    pi = events_markov_stationary(spark, sf_dir).select(
        "state", "stationary_micro"
    ).localCheckpoint(eager=True)
    tm = events_transition_matrix(spark, sf_dir)
    rowt = tm.groupBy("prev_type").agg(F.sum("n").cast("long").alias("rt"))
    cells = tm.join(rowt, "prev_type").select(
        "prev_type",
        idiv_col(F.col("n"), F.col("rt"), scale=1_000_000).alias("p"),
    )
    terms = (
        cells.filter(F.col("p") > 0)
        .join(pi, cells.prev_type == pi.state)
        .select(
            F.floor(
                F.lit(1e9)
                * (F.col("stationary_micro").cast("double") / F.lit(1e6))
                * (F.col("p").cast("double") / F.lit(1e6))
                * (-F.log(F.col("p").cast("double") / F.lit(1e6)))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("t_nano")
        )
    )
    k = pi.agg(F.count(F.lit(1)).cast("long").alias("k"))
    hmax = F.floor(
        F.lit(1e9) * F.log(F.col("k").cast("double")) + F.lit(0.5)
    ).cast("long")
    return (
        terms.agg(F.sum("t_nano").cast("long").alias("h"))
        .crossJoin(F.broadcast(k))
        .select(
            F.col("k").alias("n_states"),
            F.col("h").alias("entropy_rate_nano"),
            hmax.alias("max_entropy_nano"),
            idiv_col(F.col("h"), hmax, scale=1000).alias(
                "efficiency_milli"
            ),
        )
    )
