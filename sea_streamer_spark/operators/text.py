"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic stays JVM-side (built-in functions + higher-order array
lambdas) — no Python UDFs — so the operators run inside whole-stage codegen
and scale linearly with partitions: tokenization, hashing, fingerprinting are
pure per-row projections (zero shuffle).

Determinism contract: every hash is an explicit polynomial fold (base 31, mod
1e9+7) over ASCII codes, reproducible bit-for-bit in any engine — the DuckDB
oracles use the same fold. (The alternative — Spark's xxhash64 — is faster
but not portable to the oracle.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MOD = 1_000_000_007
BASE = 31

#: Tokenizer shared by all text ops (split on runs of whitespace).
TOKEN_RE = r"\s+"

#: Tiny in-vocabulary stopword lists for the language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "los", "y"),
    "de": ("der", "die", "das", "und", "zu"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def tokens(col: Column | str) -> Column:
    return F.split(F.col(col) if isinstance(col, str) else col, TOKEN_RE)


def char_fold_hash(col: Column) -> Column:
    """Polynomial rolling hash over the characters of a string column:
    ``h = fold(h*31 + ascii(c)) % (1e9+7)`` — the document-fingerprint
    primitive, expressed as a JVM-side aggregate over the char array."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * BASE + F.ascii(c)) % MOD,
    )


def token_hashes(col: Column | str) -> Column:
    """Array of per-token polynomial hashes (for minhash/simhash)."""
    return F.transform(tokens(col), char_fold_hash)


def duck_char_fold(expr: str) -> str:
    """DuckDB SQL fragment equivalent to :func:`char_fold_hash`."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {BASE} + b) % {MOD})"
    )


def duck_tokens(expr: str) -> str:
    return f"string_split_regex({expr}, '\\s+')"


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: totals, distincts, average token length."""
    t = tokens(text_col)
    return df.select(
        id_col,
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        (
            F.aggregate(t, F.lit(0).cast("long"), lambda a, w: a + F.length(w)).cast("double")
            / F.size(t)
        ).alias("avg_token_len"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality scoring: stopword ratio, punctuation ratio, length
    factor, combined linearly (rational arithmetic only — no transcendentals —
    so any engine reproduces the score exactly)."""
    t = tokens(text_col)
    n = F.size(t)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w)))
    punct = F.length(F.regexp_replace(F.col(text_col), "[a-zA-Z0-9 ]", ""))
    stop_ratio = n_stop.cast("double") / n
    punct_ratio = punct.cast("double") / F.length(text_col)
    length_factor = F.least(n.cast("double") / 100.0, F.lit(1.0))
    return df.select(
        id_col,
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(
            F.lit(0.5) * (1 - stop_ratio) + F.lit(0.2) * (1 - punct_ratio) + F.lit(0.3) * length_factor,
            6,
        ).alias("quality"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram/stopword language-ID heuristic: score = marker-token hits per
    language; argmax with deterministic tie-break by language-code order."""
    t = tokens(text_col)
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(t, lambda w: F.array_contains(arr, w))).cast("long")
    langs = sorted(LANG_MARKERS)  # tie-break order
    pred = F.lit(langs[0])
    best = scores[langs[0]]
    for lang in langs[1:]:
        pred = F.when(scores[lang] > best, F.lit(lang)).otherwise(pred)
        best = F.when(scores[lang] > best, scores[lang]).otherwise(best)
    cols = [F.col(id_col)] + [scores[lang].alias(f"score_{lang}") for lang in langs]
    return df.select(*cols, F.when(best > 0, pred).otherwise(F.lit("unknown")).alias("pred_lang"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whole-document rolling-hash fingerprint (exact-dup detection key)."""
    return df.select(id_col, char_fold_hash(F.col(text_col)).alias("fingerprint"))


def edit1_pairs(vocab: DataFrame, token_col: str = "token") -> DataFrame:
    """Edit-distance-1 token pairs via deletion-neighborhood blocking
    (the SymSpell/FastSS family): every token emits itself plus its
    single-character deletions as block keys; two tokens at edit distance
    1 (insert/delete/substitute) provably share at least one key, so
    candidates come from a key equi-join — never the vocabulary cross
    product — and the `levenshtein` verification runs on candidates only.
    Blocking volume = Σ(len+1) per DISTINCT token: scales with vocabulary,
    not corpus. Output: (token_a, token_b) with token_a < token_b.

    Correctness of the block cover: |a|=|b|+1 ⇒ some deletion of a equals
    b (b's own key); |a|=|b| differing at one position i ⇒ deleting i
    from each yields the same string."""
    t = vocab.select(F.col(token_col).alias("tok")).distinct()
    dels = (
        t.select(
            "tok",
            F.explode(F.sequence(F.lit(1), F.length("tok"))).alias("i"),
        )
        .select(
            "tok",
            F.concat(
                F.expr("substring(tok, 1, i - 1)"),
                F.expr("substring(tok, i + 1, length(tok))"),
            ).alias("k"),
        )
    )
    keys = t.select("tok", F.col("tok").alias("k")).unionByName(dels)
    a = keys.select(F.col("tok").alias("token_a"), "k")
    b = keys.select(F.col("tok").alias("token_b"), "k")
    cand = (
        a.join(b, "k")
        .filter(F.col("token_a") < F.col("token_b"))
        .select("token_a", "token_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("token_a", "token_b") == 1)


def word_counts(docs: DataFrame, key: str, alias: str) -> DataFrame:
    """(``key``, w, ``alias``): whitespace-token counts per ``key``
    (doc_id or source), empty tokens dropped."""
    return (
        docs.select(
            key,
            F.explode(
                F.filter(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                    lambda x: F.length(x) > 0,
                )
            ).alias("w"),
        )
        .groupBy(key, "w")
        .agg(F.count(F.lit(1)).cast("long").alias(alias))
    )
