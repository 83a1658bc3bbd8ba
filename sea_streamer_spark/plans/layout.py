"""Storage layout: Z-order clustering of the events table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_tables
from .fragments import ORACLE_SF_DIR
from .registry import query


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
