"""Hamilton (largest-remainder) apportionment of a sample budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .exact import idiv_col, imod_col


# Largest-remainder (Hamilton) apportionment of a sampling budget
# across sources (Hamilton 1792; Balinski & Young, "Fair
# Representation", 1982): the exact integer allocation a curation run
# uses to split "take B documents" proportionally — floor quotas, then
# the leftover seats to the largest fractional remainders. Remainders
# compare as integers (B·n_s mod N), so the whole allocation is exact
# and deterministic (remainder desc, source asc tie-break); Hamilton
# satisfies quota by construction (|alloc − exact share| < 1).
APPORTION_BUDGET = 100


def hamilton_alloc(per: DataFrame, weight: str) -> DataFrame:
    """(source, ``weight``, quota_floor, extra, alloc): the Hamilton
    apportionment of the ``APPORTION_BUDGET`` over the per-source
    ``weight`` column of ``per`` — exact integer floor quotas
    (B·w // N) + one extra seat for each of the B − Σ floors largest
    remainders (B·w mod N desc, source asc). Shared by the apportionment
    row and the curation funnel (plans/dedup_curation.py) so the two can never
    allocate differently; the tail rides broadcast crossJoins on the
    source-dimension relation."""
    from pyspark.sql.window import Window


    tot = per.agg(F.sum(weight).cast("long").alias("n"))
    q = per.crossJoin(F.broadcast(tot)).select(
        "source",
        weight,
        idiv_col(
            F.col(weight), F.col("n"), scale=APPORTION_BUDGET
        ).alias("quota_floor"),
        imod_col(
            F.col(weight), F.col("n"), scale=APPORTION_BUDGET
        ).alias("rem"),
    )
    seats = q.agg(
        (F.lit(APPORTION_BUDGET) - F.sum("quota_floor"))
        .cast("long")
        .alias("r")
    )
    ranked = q.select(
        "source",
        weight,
        "quota_floor",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("source")))
        .cast("long")
        .alias("rk"),
    )
    extra = F.when(F.col("rk") <= F.col("r"), 1).otherwise(0)
    return ranked.crossJoin(F.broadcast(seats)).select(
        "source",
        weight,
        "quota_floor",
        extra.cast("long").alias("extra"),
        (F.col("quota_floor") + extra).cast("long").alias("alloc"),
    )
