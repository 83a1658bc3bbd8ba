"""Distributed BPE tokenizer training + application (Sennrich et al. 2016,
arXiv:1508.07909) — the subword-vocabulary step of a pretraining data
pipeline, done the way production BPE trainers do it: train on the
**word-frequency table** (one groupBy over the corpus — after which nothing
scales with corpus size, only with distinct-word count), then apply the
learned merge list corpus-wide as a pure projection.

Determinism contract (what makes the registered query oracle-checkable):

- A word is represented as its space-joined symbol sequence with sentinel
  spaces (``"low"`` → ``" l o w "``). Merging pair ``(a, b)`` is the plain
  left-to-right non-overlapping string replace of ``" a b "`` with
  ``" ab "`` — verified bit-identical across Python ``str.replace``, Spark
  ``replace`` and DuckDB ``replace`` (including the shared-separator scan
  case ``" a a a a " → " aa a a "``), so the trainer, the distributed
  apply, and the SQL oracle all evolve symbol sequences identically.
- Each round counts ALL adjacent symbol pairs weighted by word frequency
  and picks ``max by (count desc, left asc, right asc)`` — a total order
  (UTF-8 binary and code-point order agree), so training is deterministic.

Plan shape, 100 TB-first: the corpus is touched exactly once (word-count
shuffle). Each merge round over the word table is one explode + one
pair-count shuffle + a 1-row TakeOrdered argmax collect + a map-side
replace; the word table is cached and re-cached per round (bounded by
vocabulary, not corpus). Application never shuffles — a per-doc lambda
with the merge list baked into the expression tree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import iterate

__all__ = [
    "word_counts",
    "spaced",
    "train_bpe",
    "py_train_bpe",
    "bpe_token_count",
]


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over whitespace-split non-empty words — the ONE pass over
    the corpus; everything downstream scales with |vocabulary|. fan_out
    first: the explode multiplies volume ~tokens-per-doc, so the pass must
    not inherit a small scan's one-task split (no-op at production scale)."""
    from .scale import fan_out

    df = fan_out(df)
    w = df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: F.length(x) > 0)
        ).alias("word")
    )
    return w.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))


def spaced(word: Column) -> Column:
    """``"low"`` → ``" l o w "`` (sentinel-delimited symbol sequence)."""
    return F.concat(
        F.lit(" "), F.array_join(F.split(word, ""), " "), F.lit(" ")
    )


def _apply_merge(col: Column, left: str, right: str) -> Column:
    return F.replace(
        col, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
    )


def _symbols(wc: DataFrame) -> DataFrame:
    """(a = symbol array, n) per word of the spaced word table."""
    return wc.select(F.split(F.trim(F.col("s")), " ").alias("a"), "n")


def _pair_counts(syms: DataFrame) -> DataFrame:
    """(l, r, pc): adjacent symbol pairs occurring at least twice, weighted
    by word count (a pair seen once is not worth a merge)."""
    k = F.size(F.col("a")) - 1
    return (
        syms.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("a"), F.lit(1), k),
                    F.slice(F.col("a"), F.lit(2), k),
                    lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                )
            ).alias("p"),
            "n",
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").cast("long").alias("pc"))
        .filter(F.col("pc") >= 2)
    )


def _best(scored: DataFrame, score: str):
    """The top ``(l, r, score)`` by score desc then (l, r), or None."""
    top = scored.orderBy(F.col(score).desc(), "l", "r").limit(1).collect()
    return (top[0]["l"], top[0]["r"], int(top[0][score])) if top else None


def _train(
    df: DataFrame, n_merges: int, text_col: str, best
) -> list[tuple[str, str, int]]:
    """The merge loop of :func:`train_bpe` and :func:`train_wordpiece`:
    ``best(wc)`` picks the next ``(left, right, score)`` merge, or None
    when nothing is left to merge (the loop then stops)."""
    # One eager localCheckpoint per round: the word table materializes
    # immediately (the corpus word-count shuffle runs exactly once) and the
    # lineage is severed. Chained .cache() would nest every round's
    # InMemoryRelation; 24 of them blew up plan-string rendering (OOM).
    def step(state):
        wc, merges = state
        merge = best(wc)
        if merge is None:
            return state
        left, right, _ = merge
        wc = wc.select(_apply_merge(F.col("s"), left, right).alias("s"), "n")
        return wc.localCheckpoint(eager=True), merges + [merge]

    wc = (
        word_counts(df, text_col)
        .select(spaced(F.col("word")).alias("s"), "n")
        .localCheckpoint(eager=True)
    )
    # a round that returns its state unchanged found nothing to merge
    _, merges = iterate(
        (wc, []), step, n_merges, lambda prev, cur: cur is prev, strict=False
    )
    return merges


def train_bpe(
    df: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Distributed BPE training: returns up to ``n_merges`` merges as
    ``(left, right, weighted_pair_count)`` in rank order. Stops early when
    no pair occurs twice (nothing left to compress)."""
    return _train(
        df, n_merges, text_col, lambda wc: _best(_pair_counts(_symbols(wc)), "pc")
    )


def py_train_bpe(wc: dict[str, int], n_merges: int) -> list[tuple[str, str, int]]:
    """Pure-python reference trainer over a word-count dict — byte-for-byte
    the same contract as :func:`train_bpe` (the oracle-trainer replica)."""
    table = {f" {' '.join(w)} ": n for w, n in wc.items() if w}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, n in table.items():
            a = s.strip().split(" ")
            for x, y in zip(a, a[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + n
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < 2:
            break
        merges.append((left, right, c))
        table = {
            s.replace(f" {left} {right} ", f" {left}{right} "): n
            for s, n in table.items()
        }
        # identical-key collisions cannot happen: distinct words stay
        # distinct under merging (the spaced form is invertible)
    return merges


def bpe_token_count(
    text_col: Column | str, merges: list[tuple[str, str, int]]
) -> Column:
    """Per-document BPE token count after applying ``merges`` in rank order
    — a pure projection (the merge list is baked into the expression tree;
    zero shuffles, zero Python, whole-stage codegen end to end). NULL text
    counts as empty (0 tokens) — the oracle's COALESCE semantics."""

    def apply_word(w: Column) -> Column:
        s = spaced(w)
        for left, right, _ in merges:
            s = _apply_merge(s, left, right)
        return F.size(F.split(F.trim(s), " "))

    t = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(
        F.split(F.coalesce(t, F.lit("")), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + apply_word(w).cast("long"),
    )


#: Fixed-point resolution for the WordPiece likelihood score
#: ``count(ab) / (count(a)·count(b))``: the ratio is scaled by 1e12 and
#: floor-divided, so the argmax is exact integer arithmetic on every
#: engine. Bounds (documented, ANSI-safe): pair counts ≤ total symbol
#: occurrences S, so the numerator is ≤ S·1e12 — S stays below ~9.2e6 at
#: BIGINT range, far above any vocabulary-bounded word table this trains
#: on (the corpus itself never enters the per-round relations).
WP_SCALE = 10**12


def train_wordpiece(
    df: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Distributed WordPiece training (Schuster & Nakajima 2012; the
    likelihood-gain variant of the BPE loop): each round scores every
    adjacent symbol pair by ``count(ab) / (count(a)·count(b))`` — the
    pair whose merge most increases a unigram-LM likelihood — instead of
    BPE's raw ``count(ab)``. Ranking uses the exact fixed-point integer
    ``count(ab)·WP_SCALE div (count(a)·count(b))`` with the (left, right)
    lexicographic tie-break, so training is deterministic and replayable
    by the pure-python reference. Same plan economics as ``train_bpe``:
    the corpus is touched once (word-count shuffle); each round is one
    pair-count + one symbol-count aggregation over the vocabulary-bounded
    word table, a 1-row argmax collect, and a map-side replace.

    Returns ``(left, right, score_scaled)`` per merge in rank order; stops
    early when no pair occurs twice."""

    def best(wc: DataFrame):
        syms = _symbols(wc)
        sym_counts = (
            syms.select(F.explode(F.col("a")).alias("sym"), "n")
            .groupBy("sym")
            .agg(F.sum("n").cast("long").alias("sc"))
        )
        lc = sym_counts.select(F.col("sym").alias("l"), F.col("sc").alias("lsc"))
        rc = sym_counts.select(F.col("sym").alias("r"), F.col("sc").alias("rsc"))
        scored = _pair_counts(syms).join(lc, "l").join(rc, "r").select(
            "l", "r", F.expr(f"pc * {WP_SCALE} div (lsc * rsc)").cast("long").alias("score")
        )
        return _best(scored, "score")

    return _train(df, n_merges, text_col, best)


def py_train_wordpiece(
    wc: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Pure-python reference WordPiece trainer — the oracle replica of
    :func:`train_wordpiece` (identical fixed-point score, tie-break, stop
    rule, and merge application)."""
    table = {f" {' '.join(w)} ": n for w, n in wc.items() if w}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for s, n in table.items():
            a = s.strip().split(" ")
            for x in a:
                sym_counts[x] = sym_counts.get(x, 0) + n
            for x, y in zip(a, a[1:]):
                pair_counts[(x, y)] = pair_counts.get((x, y), 0) + n
        scored = {
            (x, y): (c * WP_SCALE) // (sym_counts[x] * sym_counts[y])
            for (x, y), c in pair_counts.items()
            if c >= 2
        }
        if not scored:
            break
        (left, right), score = min(
            scored.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right, score))
        table = {
            s.replace(f" {left} {right} ", f" {left}{right} "): n
            for s, n in table.items()
        }
    return merges
