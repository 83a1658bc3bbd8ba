"""Exact integer division and remainder for Spark columns, computed in
DECIMAL(38,0) so they match DuckDB's ``//`` and ``%``.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def idiv_col(a, b, scale: int = 1):
    """Exact integer division (truncation toward zero on signed inputs,
    matching DuckDB ``//``'s verified behavior — the wave-13 note).

    Routed through DECIMAL(38,0): the original ``(a - a%b)/b`` modulo
    trick did its final division in DOUBLE, which is exact only while
    operands stay under 2^53 — above that, an exactly-integral quotient
    can land one ulp BELOW the integer and truncate down (caught by the
    arrival-uniformity KS wave: 1000·d_num // (n·span) flipped 7 → 6 at
    sf0.1 where n·span ≈ 5.3e16). Decimal subtraction, modulo and the
    exactly-divisible final division are all exact at 38 digits, far
    past any BIGINT operand.

    ``scale`` multiplies the numerator INSIDE decimal space (the r9
    ADVICE class: ``F.lit(1000) * a`` in the caller runs in BIGINT and
    silently wraps once a > 2^63/1000, while the DuckDB oracle errors
    loudly — the engines diverge exactly on the extreme inputs the
    diagnostic exists to flag). Callers that fixed-point-scale a
    quotient must pass the factor here, never pre-multiply in long."""
    ad = a.cast("decimal(38,0)")
    if scale != 1:
        ad = (ad * F.lit(scale)).cast("decimal(38,0)")
    bd = b.cast("decimal(38,0)")
    return ((ad - (ad % bd)) / bd).cast("long")


def imod_col(a, b, scale: int = 1):
    """Exact integer remainder ``(scale * a) % b`` — the modulo twin of
    :func:`idiv_col`, multiplying INSIDE ``DECIMAL(38,0)`` space for the
    same reason (r11 VERDICT task #8: ``F.lit(K) * col % n`` runs the
    product in BIGINT, which silently wraps once ``col > 2^63/K`` while
    the DuckDB oracle errors loudly). Non-negative operands only, like
    every Hamilton-remainder call site (DuckDB ``%`` and Spark decimal
    ``%`` agree on those; signed remainders differ by convention and are
    deliberately out of contract here)."""
    ad = a.cast("decimal(38,0)")
    if scale != 1:
        ad = (ad * F.lit(scale)).cast("decimal(38,0)")
    return (ad % b.cast("decimal(38,0)")).cast("long")
