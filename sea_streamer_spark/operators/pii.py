"""PII injection and redaction as Spark columns: the planted-PII corpus
and the ordered regex redaction chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# PII detection / redaction (r9 VERDICT task #2: "the one standard
# curation stage a real 100 TB pipeline runs that this repo lacks").
# Pure public-knowledge patterns (email / dashed phone / IPv4 /
# SSN-style id / dashed card number), JVM-side regexp_* on Spark and
# regexp_extract_all/regexp_replace(..., 'g') in DuckDB — zero Python
# anywhere. The synthetic corpus carries NO PII (the audit proves that
# too: n_raw_hits is computed honestly over the raw text and is 0), so
# each query also scans a deterministically PII-INJECTED companion
# column — the injection is a pure string expression of doc_id evaluated
# identically by both engines (the test vector is stated, not hidden):
# doc_id % 7 picks one of five categories (or none), and the injected
# value's digits derive from doc_id by fixed moduli.
#
# Pattern notes (Java regex on Spark, RE2 in DuckDB — the subset used
# here is semantics-identical in both): no lookaround, no backreferences
# (RE2 has neither), no capture groups (Spark counts with idx=0, DuckDB
# with its default group 0), ASCII \b on both. The five patterns are
# pairwise non-overlapping on any string (group widths differ: 3-3-4 vs
# 3-2-4 vs 4-4-4-4; \b blocks mid-number starts), so redaction order
# cannot change the result.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ccard", r"\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b", "<CC>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_injected_col():
    """text + the deterministic doc_id-derived PII suffix (Spark side)."""
    d = F.col("doc_id")

    def pad(expr, n):
        return F.lpad(expr.cast("string"), n, "0")

    email = F.concat(
        F.lit(" contact user"), d.cast("string"), F.lit("@example.org")
    )
    phone = F.concat(
        F.lit(" call 555-"),
        pad((d * 7) % 1000, 3),
        F.lit("-"),
        pad((d * 13) % 10000, 4),
    )
    ipv4 = F.concat(
        F.lit(" from 10."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 3) % 256).cast("string"),
        F.lit("."),
        ((d * 7) % 256).cast("string"),
    )
    ssn = F.concat(
        F.lit(" id "),
        pad(d % 1000, 3),
        F.lit("-"),
        pad((d * 3) % 100, 2),
        F.lit("-"),
        pad((d * 7) % 10000, 4),
    )
    cc = F.concat(
        F.lit(" card "),
        pad(d % 10000, 4),
        F.lit("-"),
        pad((d * 3) % 10000, 4),
        F.lit("-"),
        pad((d * 7) % 10000, 4),
        F.lit("-"),
        pad((d * 11) % 10000, 4),
    )
    m = d % 7
    return F.concat(
        F.col("text"),
        F.when(m == 0, email)
        .when(m == 1, phone)
        .when(m == 2, ipv4)
        .when(m == 3, ssn)
        .when(m == 4, cc)
        .otherwise(F.lit("")),
    )


def redact_chain_spark(col):
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out
