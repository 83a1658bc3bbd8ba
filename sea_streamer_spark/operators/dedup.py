"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB posture):

- **exact**: hash-groupBy on the text (or its fingerprint) — one shuffle of
  (hash, id) pairs only.
- **ngram_jaccard_exact**: candidate pairs via an equi-join on shared
  shingles. Correct but the shingle join is quadratic in bucket size — used
  as the *oracle-verifiable* reference implementation at test scale.
- **minhash_lsh**: the scale path. Per-doc signatures are computed in a
  single projection (no shuffle); banding turns near-dup search into an
  equi-join on (band, band-signature) whose buckets only contain likely
  duplicates. Candidates are then verified with exact Jaccard. With B bands
  of R rows the candidate probability is 1-(1-j^R)^B — chosen here (B=12,
  R=2) so pairs with j>=0.9 are caught with probability 1-1e-8 while j<=0.1
  pairs almost never collide; because hashes and data are fixed, the output
  is deterministic and (on this corpus, which has no pairs between 0.1 and
  0.9) equals the exact-Jaccard answer — which is exactly what the DuckDB
  oracle computes.
- **simhash**: per-doc 30-bit signature by bitwise majority vote over token
  hashes — one keyed vote aggregate (map-side combined, like the minhash
  signature build); :func:`simhash_near_dup` then finds near-dups
  with no pairwise scan via the pigeonhole block join: split the signature
  into ``d+1`` blocks — two signatures within hamming distance ``d`` must
  agree exactly on at least one block — equi-join on (block index, block
  value), verify candidates with ``bit_count(xor)``. Exact (full recall) by
  construction, and the join buckets are tiny because a block match is a
  7-8-bit exact match.

All hashing uses the portable polynomial fold from operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import BASE, MOD, char_fold_hash, tokens

#: (a, b) parameters for the MinHash permutation family h_j = (a*x+b) % MOD.
#: Spread with large multiplicative constants (Fibonacci/murmur-style), NOT
#: small sequential values: with a_j = 2j+3 the permutations are pairwise
#: correlated enough that a j=0.9 pair measurably missed all 12 bands under
#: namespace-remapped shingles (caught by tests/test_scale.py's blow-up
#: sweep) — the banding-curve guarantee assumes independent permutations.
N_MINHASH = 24
MINHASH_AB = [
    ((0x9E3779B1 * (2 * j + 1)) % MOD, (0x85EBCA77 * (j + 1) + 0x27D4EB2F) % MOD)
    for j in range(N_MINHASH)
]
LSH_BANDS = 12
LSH_ROWS = N_MINHASH // LSH_BANDS

SIMHASH_BITS = 30


def _shingle_array(text_col: Column | str, k: int = 3) -> Column:
    """Positional k-word shingle array (index i = token window starting at
    token i; NOT distinct; empty for docs shorter than k).

    Built as k-1 ``zip_with`` folds over shifted slices of the token array —
    NOT ``transform(sequence, i -> element_at(arr, i+j))``: element_at inside
    a lambda re-inlines the tokenize expression per element after Catalyst's
    project-collapse, turning the build O(k * n^2) per document (measured 4x
    end-to-end on the jaccard path at sf0.1). Single-sourced here so the
    distinct (:func:`shingles`) and positional (:func:`positional_shingles`)
    views cannot drift."""
    arr = tokens(text_col)
    n = F.size(arr)
    m = n - k + 1  # number of shingles
    sh = F.slice(arr, 1, m)
    for j in range(1, k):
        sh = F.zip_with(
            sh, F.slice(arr, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


def shingles(text_col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles as strings (space-joined)."""
    return F.array_distinct(_shingle_array(text_col, k))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per identical text; report group size."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies")


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct shingle sets.

    The explode multiplies data ~tokens-per-doc times and the shingle
    expression (higher-order transform) runs outside whole-stage codegen, so
    its parallelism must not be pinned to the scan's split count: when the
    input has fewer partitions than the session's parallelism (a small-file
    artifact — one parquet file ⇒ one task doing ALL the shingling), pay one
    cheap pre-explode shuffle of the raw docs to fan out. At 100 TB the scan
    has orders of magnitude more splits than cores and this is a no-op.
    """
    from .scale import fan_out

    df = fan_out(df, key=id_col)
    return df.select(F.col(id_col), F.explode(shingles(text_col, k)).alias("sh"))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle
    (optionally restricted to a candidate-pair DataFrame [doc_a, doc_b]).

    ``shingle_df`` lets callers share one cached (id, shingle) relation with
    the signature build (minhash_lsh_dedup does) instead of exploding the
    corpus twice.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.
    """
    ds = shingle_df if shingle_df is not None else shingle_sets(df, text_col, id_col, k).cache()
    sizes = ds.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = ds.select(F.col(id_col).alias("doc_a"), "sh")
    b = ds.select(F.col(id_col).alias("doc_b"), "sh")
    if candidates is not None:
        # Direct candidate-pair intersection: expand each candidate pair by
        # doc_a's shingles, then equi-join doc_b's on (doc_b, shingle). The
        # work is |candidates| x shingles-per-doc — linear in the LSH output,
        # never the all-pairs bucket blow-up. No broadcast hint: AQE promotes
        # the joins when the candidate side is small at runtime (it almost
        # always is — that is the point of the banding), and degrades to a
        # shuffled hash join instead of an OOM when it is not.
        inter = (
            candidates.join(a, "doc_a")
            .join(b, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        inter = (
            a.join(b, "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_permille: int = 800,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder 1997's other resemblance
    measure): C(a→b) = |A∩B| / |A|. Catches the dedup case symmetric
    Jaccard misses by construction — a short document wholly quoted
    inside a much longer one (boilerplate embedded in articles, abstracts
    inside papers) has C ≈ 1 while J = |A|/|B| can sit far below any
    usable Jaccard threshold.

    Returns (doc_a, doc_b, cont_a_permille, cont_b_permille) with
    doc_a < doc_b where EITHER direction reaches ``threshold_permille``;
    permilles are floor(1000·inter/n) integer fixed-point, engine-exact.

    Plan: identical shape to :func:`jaccard_pairs`'s all-candidates path —
    one shared-shingle equi-join keyed by shingle, one pair-keyed count,
    two size joins. Volume scales with shared-shingle mass (near-dup +
    quote density), never corpus²; at 100 TB the shingle join inherits
    the same skew posture as every other shingle-keyed stage (a
    boilerplate heavy-hitter shingle is the known caveat, and the salted
    two-phase count is the documented production swap)."""
    ds = shingle_sets(df, text_col, id_col, k)
    sizes = ds.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = ds.select(F.col(id_col).alias("doc_a"), "sh")
    b = ds.select(F.col(id_col).alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    cont_a = F.floor(1000.0 * F.col("inter") / F.col("na")).cast("long")
    cont_b = F.floor(1000.0 * F.col("inter") / F.col("nb")).cast("long")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            cont_a.alias("cont_a_permille"),
            cont_b.alias("cont_b_permille"),
        )
        .filter(
            (F.col("cont_a_permille") >= threshold_permille)
            | (F.col("cont_b_permille") >= threshold_permille)
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature (array<long> of length N_MINHASH).

    Each shingle is hashed exactly once on the exploded (id, shingle) set;
    the N_MINHASH permutations are then cheap ``min((a*h+b) % MOD)``
    aggregates in a single keyed groupBy. (The tempting alternative — one
    projection with N nested array transforms — re-inlines the whole
    shingle+hash expression N times because Catalyst does not CSE expensive
    expressions across aliases; measured ~30x slower.)
    """
    ds = shingle_df if shingle_df is not None else shingle_sets(df, text_col, id_col, k)
    hashed = ds.select(id_col, char_fold_hash(F.col("sh")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MOD).alias(f"mh_{j}")
        for j, (a, b) in enumerate(MINHASH_AB)
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"mh_{j}") for j in range(N_MINHASH)]).alias("sig"),
        )
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Banded LSH: explode each signature into LSH_BANDS band keys, self-join
    on (band index, band signature), emit distinct candidate pairs."""
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.col("sig")[b * LSH_ROWS + r] for r in range(LSH_ROWS)]
                        ).alias("bkey"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "bkey")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Scale-path near-dup detection: MinHash signatures → banded LSH
    candidates → exact-Jaccard verification of candidates only. The exploded
    (id, shingle) relation is cached once and shared by the signature build
    and the verification join."""
    ds = shingle_sets(df, text_col, id_col, k).cache()
    sigs = minhash_signatures(df, text_col, id_col, k, shingle_df=ds)
    cands = lsh_candidate_pairs(sigs, id_col).cache()
    return jaccard_pairs(df, text_col, id_col, k, threshold, candidates=cands, shingle_df=ds)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash fingerprint: bit i of the signature is the sign of the
    vote sum over token hashes' bit i.

    Shape mirrors :func:`minhash_signatures`: each token is hashed exactly
    once on an exploded (id, hash) relation, then the SIMHASH_BITS vote sums
    are conditional aggregates in a single keyed groupBy (map-side partial
    combine ⇒ the shuffle carries one 30-long row per doc per map partition).
    The tempting alternative — one projection with SIMHASH_BITS array
    aggregates over a token-hash array — re-inlines the tokenize+hash
    expression per bit because Catalyst's project-collapse does not CSE
    expensive expressions: measured 25x slower at sf0.1. ``explode_outer``
    keeps empty documents (null hash votes 0 ⇒ signature 0, identical to the
    all-array formulation)."""
    from .scale import fan_out

    ex = fan_out(df, key=id_col).select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("w")
    )
    hashed = ex.select(id_col, char_fold_hash(F.col("w")).alias("h"))
    votes = [
        F.sum(
            F.when(F.col("h").isNull(), F.lit(0))
            .when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        )
        .cast("long")
        .alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    grouped = hashed.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp + bit
    return grouped.select(id_col, fp.alias("simhash"))


def _signature_blocks(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """Partition [0, n_bits) into n_blocks contiguous (shift, width) spans."""
    base, extra = divmod(n_bits, n_blocks)
    spans, pos = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        spans.append((pos, width))
        pos += width
    return spans


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= ``max_distance``.

    Pigeonhole block search: the 30-bit signature splits into
    ``max_distance + 1`` contiguous blocks; if two signatures differ in at
    most ``max_distance`` bits, the differing bits touch at most
    ``max_distance`` blocks, so at least one block matches exactly.
    Candidates = equi-join on (block index, block bits) — a bucketed join,
    never all-pairs — then the exact ``bit_count(xor) <= d`` filter keeps
    only true near-dups. Full recall by construction (no probabilistic gap).

    Scale: the block join shuffles |docs| x (d+1) small rows; bucket sizes
    are corpus-dependent (a pathological corpus where every doc shares one
    7-bit block degrades toward that bucket's all-pairs — the standard
    remedy is more bits, SIMHASH_BITS, which shrinks buckets
    exponentially). Returns (doc_a, doc_b, hamming).
    """
    s = sigs if sigs is not None else simhash(df, text_col, id_col)
    n_blocks = max_distance + 1
    spans = _signature_blocks(SIMHASH_BITS, n_blocks)
    blocks = s.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), shift)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for i, (shift, width) in enumerate(spans)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", F.col("b.blk").alias("blk"), F.col("b.bval").alias("bval"))
    a = blocks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "blk", "bval"
    )
    b = blocks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "blk", "bval"
    )
    return (
        a.join(b, ["blk", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def minhash_signature_expr(text_col: Column | str, k: int = 3) -> Column:
    """Row-local MinHash signature (array<long>, length N_MINHASH) — the
    streaming-safe formulation: no groupBy, so it composes with watermarked
    stateful operators downstream. The shingle-hash array is built once per
    permutation reference; for streaming messages (small payloads) the
    re-inline cost is bounded by message length, unlike the corpus-scale
    batch path where :func:`minhash_signatures`'s explode+groupBy is the
    right plan."""
    sh = shingles(text_col, k)
    hs = F.transform(sh, char_fold_hash)

    def perm(a: int, b: int):
        # closure, not default-args: extra lambda params would be handed to
        # Spark as lambda variables and fail arity resolution
        return lambda h: (F.lit(a) * h + F.lit(b)) % MOD

    mins = [F.array_min(F.transform(hs, perm(a, b))) for a, b in MINHASH_AB]
    return F.array(*mins)


def streaming_near_dup_new_docs(
    stream, text_col: str = "text", id_col: str = "doc_id",
    ts_col: str = "timestamp", watermark: str = "1 hour", k: int = 3,
):
    """Streaming near-dup dedup: emit only documents that are NOT a near-dup
    of any earlier document within the watermark horizon.

    Mechanics (all incremental, bounded state):

    1. row-local MinHash signature (:func:`minhash_signature_expr`);
    2. explode into LSH_BANDS (band, band-key) rows;
    3. ``dropDuplicatesWithinWatermark`` on (band, band-key) — per bucket,
       only the FIRST document survives; a near-dup of an earlier doc
       collides in every band with high probability (1-(1-j^R)^B) and
       survives in none;
    4. watermarked count per doc: a doc that survives in ALL of its bands
       was first everywhere → genuinely new. Docs surviving in 0 bands are
       near-dups; partial survival (possible under same-batch ties or
       borderline similarity) is resolved conservatively: any lost band ⇒
       treated as a dup and withheld.

    State is two watermark-bounded stores (band buckets + per-doc counts) —
    the streaming analog of the batch LSH candidate join, with the horizon
    as the dedup scope. Returns (doc, ts, n_first_bands) rows for new docs
    in append mode.
    """
    sig = minhash_signature_expr(text_col, k)
    bands = stream.withColumn("sig", sig).select(
        F.col(id_col),
        F.col(ts_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.col("sig")[b * LSH_ROWS + r] for r in range(LSH_ROWS)]
                        ).alias("bkey"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, ts_col, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    first = bands.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["band", "bkey"]
    )
    return (
        first.groupBy(id_col, ts_col)
        .agg(F.count(F.lit(1)).alias("n_first_bands"))
        .filter(F.col("n_first_bands") == LSH_BANDS)
    )


def positional_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, pos, shingle) with 0-based token position — the positional
    variant of :func:`shingle_sets` (NOT distinct: every occurrence keeps
    its position, so within-doc repetition is visible). Shingle at ``pos``
    covers tokens ``pos .. pos+k-1``. Same zip_with fold as
    :func:`shingles` (the element_at-in-lambda O(k*n^2) trap applies here
    identically), same :func:`..scale.fan_out` guard before the explode."""
    from .scale import fan_out

    df = fan_out(df, key=id_col)
    return df.select(
        F.col(id_col), F.posexplode(_shingle_array(text_col, k)).alias("pos", "sh")
    )


def ordered_pairs_expr(arr: Column, a_name: str, b_name: str) -> Column:
    """array<struct<a_name, b_name>> of every (arr[i], arr[j]) with i < j —
    the task-local pair expansion of one array row, C(n,2) structs and no
    shuffle. On a sorted, distinct array (``sort_array(collect_set(..))``)
    every pair comes out ordered: a < b."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


def shared_key_pairs(
    rel: DataFrame,
    key_col: str,
    id_col: str,
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b): one row per key the pair shares, with
    ``doc_a < doc_b`` — exactly the multiset the classic inverted-index
    self-join ``a.join(b, key).filter(a.id < b.id)`` produces, computed
    instead as ONE keyed aggregate plus a task-local pair expansion:

        groupBy(key) → sort_array(collect_set(id)) → explode all C(df,2)
        ordered pairs of the sorted id array.

    Precondition: ``rel`` must be distinct on (key, id) — collect_set
    deduplicates, so feeding a non-distinct relation here CHANGES the
    multiplicity the self-join would have produced (every caller in this
    repo passes a distinct relation).

    Why: the self-join shuffles the relation TWICE (both sides) plus the
    join machinery, and a count-window ``df`` guard adds a third
    exchange with no map-side aggregation; this shape pays ONE exchange
    of (key, id) and generates each bucket's pairs locally. Per-task
    memory/skew is the same Σ df² bucket locality the self-join has (a
    hot key lands on one reducer either way); ``max_df`` bounds it where
    the consumer has a boilerplate cap, and the salted 2D-grid
    replication remains the documented production swap for uncapped
    adversarial corpora."""
    g = rel.groupBy(key_col).agg(
        F.sort_array(F.collect_set(id_col)).alias("_ds")
    )
    df_ok = F.size("_ds") >= min_df
    if max_df is not None:
        df_ok = df_ok & (F.size("_ds") <= max_df)
    return (
        g.filter(df_ok)
        .select(
            F.explode(ordered_pairs_expr(F.col("_ds"), "doc_a", "doc_b")).alias("_p")
        )
        .select(F.col("_p.doc_a").alias("doc_a"), F.col("_p.doc_b").alias("doc_b"))
    )


#: Power table bound for the composed shingle fold (31^n % MOD for
#: n = 0.._POW31_MAX): covers every shingle whose trailing k-1 tokens plus
#: separators total < _POW31_MAX characters; longer-token documents fall
#: back to the per-shingle string fold (same value, slower path).
_POW31_MAX = 4096


def _pow31_list() -> list[int]:
    p, out = 1, [1]
    for _ in range(_POW31_MAX):
        p = p * BASE % MOD
        out.append(p)
    return out


def positional_shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, n_pos, pos, h) where ``h = char_fold_hash(shingle at pos)`` —
    bit-identical to ``positional_shingles`` + :func:`..text.char_fold_hash`
    but WITHOUT materializing the shingle strings: per-token hashes and
    lengths are built once per document (each character folds exactly once
    instead of k times) and the per-position hash is the closed-form
    composition of the fold homomorphism

        fold(s1 + s2) = (fold(s1) * 31^len(s2) + fold(s2)) % MOD

    over the k tokens and their single-space separators (ascii 32), with
    31^n read from a constant-folded power table (``litexpr.lit_longs``).
    Exactness: every intermediate stays < ~1.1e18 < 2^63 (h < MOD,
    powers < MOD, so h*P + 32*P + h < MOD^2 + 2^35), and ``F.length``
    counts codepoints exactly like the fold's ``split(s, '')`` iteration
    (pinned incl. astral-plane chars by test_fold_composition). Documents
    whose tokens could index past the power table take a per-doc fallback
    branch computing the original string fold (value-identical).

    The token arrays are materialized behind a one-element explode — the
    Generate barrier of the CDC codes-array recipe — so CollapseProject
    cannot re-inline the array builds into the per-position lambda (the
    documented O(k·n²) element_at trap)."""
    from .litexpr import lit_longs
    from .scale import fan_out

    df = fan_out(df, key=id_col)
    arr = tokens(text_col)
    base = df.select(
        F.col(id_col),
        arr.alias("_tk"),
        F.transform(arr, char_fold_hash).alias("_th"),
        F.transform(arr, lambda t: F.length(t).cast("long")).alias("_tl"),
    )
    bar = base.select(
        id_col, "_tk", "_th", "_tl", F.explode(F.array(F.lit(0))).alias("_b")
    )
    powers = lit_longs(_pow31_list())
    th, tl = F.col("_th"), F.col("_tl")
    # n from the TOKEN array, never from _th: a caller's filter on n_pos
    # gets pushed below the barrier and the exchange, and a pushed
    # predicate re-inlines whatever expression defines it — size(_tk) is
    # a cheap split, size(_th) would re-run the whole per-token fold
    # serially inside the scan task (observed on dedup_winnowing_pairs).
    n = F.size(F.col("_tk"))
    m = n - k + 1

    def h_at(i):
        # i: 1-based index (Column) of the shingle's first token.
        h = F.element_at(th, i + (k - 1))
        rest = F.element_at(tl, i + (k - 1))
        for j in range(k - 2, -1, -1):
            pw = F.element_at(powers, (rest + 1).cast("int"))  # 31^rest
            h = (
                F.element_at(th, i + j) * (pw * BASE % MOD)
                + F.lit(32) * pw
                + h
            ) % MOD
            rest = rest + 1 + F.element_at(tl, i + j)
        return h

    fast = F.transform(F.sequence(F.lit(1), m), h_at)
    # fallback: rebuild the shingle strings from the materialized token
    # array (the _shingle_array zip_with fold) and fold each — only
    # evaluated for documents with tokens long enough to overrun the table.
    sh = F.slice(F.col("_tk"), 1, m)
    for j in range(1, k):
        sh = F.zip_with(
            sh, F.slice(F.col("_tk"), j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    slow = F.transform(sh, char_fold_hash)
    fits = (k - 1) * (F.coalesce(F.array_max(tl), F.lit(0)) + 1) <= _POW31_MAX - 1
    harr = F.when(n >= k, F.when(fits, fast).otherwise(slow)).otherwise(
        F.array().cast("array<long>")
    )
    n_pos = F.when(n >= k, m).otherwise(F.lit(0)).cast("int")
    return bar.select(
        F.col(id_col),
        n_pos.alias("n_pos"),
        F.posexplode(harr).alias("pos", "h"),
    )


def duplicated_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-document duplicated-text coverage (the exact-substring-dedup
    metric of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499 — their suffix-array substring scan
    re-expressed as the k-gram corpus join used by Dolma/RefinedWeb):

    a token position is *covered* when some k-gram through it occurs >=
    ``min_occurrences`` times corpus-wide (any doc, including repeats
    inside the same doc). Returns per-doc ``n_tokens``, ``covered_tokens``
    and ``dup_permille`` = floor(1000 * covered / n) — integer fixed-point
    so the result hashes engine-exactly.

    Plan shape (the 100 TB posture): positional k-gram explode → ONE
    count window keyed by the k-gram (one k-gram-keyed shuffle, no
    join-back and no cached shingle relation — r3 ADVICE #3 removed the
    never-unpersisted cache the join formulation needed). Caveat vs a
    groupBy count: the window has NO map-side partial aggregation, so a
    heavy-hitter k-gram (boilerplate that appears everywhere) buffers all
    its positional rows in one task — correct and spillable, but skewed;
    the production swap for adversarial corpora is a salted two-phase
    count joined back, trading a second shuffle for skew immunity. →
    covered positions = ``sequence(pos, pos+k-1)`` explode, distinct per
    (doc, idx), one doc-keyed count. Every shuffle is keyed by k-gram or
    doc id; the candidate volume scales with *duplicated* text, not
    corpus^2. Keys are the shingle strings (exact; a 128-bit hash is the
    production swap — the 1e9+7 polynomial fold would already
    birthday-collide at ~30k distinct shingles, so it is deliberately NOT
    used as the join key).
    """
    from pyspark.sql.window import Window

    pos_sh = positional_shingles(df, text_col, id_col, k)
    covered = (
        pos_sh.withColumn(
            "n_occ", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        )
        .filter(F.col("n_occ") >= min_occurrences)
        .select(F.col(id_col), F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("idx"))
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    return _coverage_output(df, covered, text_col, id_col)


def _coverage_output(df: DataFrame, covered: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shared tail of the span-coverage variants: join the per-doc covered
    count onto every document and emit the integer fixed-point metric."""
    base = df.select(F.col(id_col), F.size(tokens(text_col)).alias("n_tokens"))
    return (
        base.join(covered, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long").alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(F.coalesce(F.col("covered_tokens"), F.lit(0)) * 1000 / F.col("n_tokens")),
            ).otherwise(F.lit(0)).cast("long").alias("dup_permille"),
        )
    )


def duplicated_span_coverage_salted(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_occurrences: int = 2,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-immune formulation of :func:`duplicated_span_coverage` — the
    "salted two-phase count" production swap its docstring names (r4 ADVICE
    #4), for boilerplate-dominated corpora where one k-gram appears in a
    large fraction of all documents. Output is IDENTICAL; only the plan
    differs:

    1. corpus-wide occurrences via ``groupBy(sh).count()`` — the partial
       (map-side) aggregate compresses a heavy-hitter shingle to one row
       per map task *before* the shuffle, the property the count window
       fundamentally lacks (windows see raw rows);
    2. the count relation is joined BACK salted: every positional row
       carries ``salt = pmod(xxhash64(id, pos), n_salts)`` and the (tiny,
       one-row-per-distinct-shingle) count side is replicated across all
       ``n_salts`` keys, so the hottest shingle's probe rows spread over
       ``n_salts`` tasks instead of landing on one.

    Cost vs the window form: one extra shuffle (counts) whose volume is the
    *distinct*-shingle relation, and an n_salts-way replication of that
    relation — the classic salted-join trade of bounded extra volume for a
    bounded per-task maximum."""
    pos_sh = positional_shingles(df, text_col, id_col, k)
    counts = (
        pos_sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_occurrences)
    )
    salts = df.sparkSession.range(n_salts).select(
        F.col("id").cast("int").alias("_salt")
    )
    counts_rep = counts.crossJoin(F.broadcast(salts))
    probe = pos_sh.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col), F.col("pos")), F.lit(n_salts)).cast("int")
    )
    covered = (
        probe.join(counts_rep, ["sh", "_salt"])
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("idx"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    return _coverage_output(df, covered, text_col, id_col)


def duplicated_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_occurrences: int = 2,
) -> DataFrame:
    """The REMOVAL half of :func:`duplicated_span_coverage` (Lee et al.
    arXiv:2107.06499 apply-side): rewrite every document with its covered
    token positions cut out, keeping survivors in original order. Same
    plan economics as the metric — one k-gram-keyed count window (no
    cache, no join-back; r3 ADVICE #3; same heavy-hitter-skew caveat:
    no map-side partial agg, salted two-phase count is the production
    swap for boilerplate-dominated corpora), plus one (doc, idx)-keyed
    anti-join against the positional token relation and a doc-keyed
    positional reassembly; nothing ever scales with corpus². Returns
    (id, n_tokens, n_removed, clean_fp)."""
    from pyspark.sql.window import Window

    covered = (
        positional_shingles(df, text_col, id_col, k)
        .withColumn("n_occ", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .filter(F.col("n_occ") >= min_occurrences)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
                "idx"
            ),
        )
        .distinct()
    )
    toks_pos = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("idx", "tok")
    )
    kept = toks_pos.join(covered, [id_col, "idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("clean_fp"),
    )
    base = df.select(
        F.col(id_col), F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("clean_fp"), F.md5(F.lit(""))).alias("clean_fp"),
    )


def maximal_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 10,
    min_occurrences: int = 2,
    n_salts: int = 16,
) -> DataFrame:
    """Exact-substring dedup at suffix-array grain (Lee et al.
    arXiv:2107.06499's second half — their suffix-array scan emits the
    maximal duplicated substrings of length >= threshold; the k=3-gram
    coverage queries only measure/remove a token union at k-gram grain):
    extract every MAXIMAL duplicated token span of length >= ``min_len``,
    so removal can cut at exact duplication boundaries.

    A position ``p`` starts a duplicated L-gram iff the ``min_len``-token
    window at ``p`` occurs >= ``min_occurrences`` times corpus-wide. A
    maximal run of consecutive duplicated start positions ``[a..b]`` is
    exactly one maximal duplicated span ``[a .. b+L-1]``: it cannot extend
    left (the L-gram at ``a-1`` is not duplicated, and any longer
    substring through ``a-1`` contains it) nor right (symmetric at
    ``b+1``) — the provable-maximality argument the suffix array gives,
    recovered from the L-gram relation with one per-doc gaps-and-islands
    window. Returns (id, span_start 0-based, span_len, n_occ_min,
    span_fp = md5 of the span's space-joined tokens).

    Precise semantics (r6 ADVICE): a span is a maximal *duplicated-
    coverage region* — the union of overlapping duplicated L-grams —
    not necessarily a substring that repeats as a whole. When two
    DISTINCT duplicated regions in one doc overlap by >= L-1 tokens,
    their islands chain into a single span whose full text may occur
    only once corpus-wide; ``span_fp`` fingerprints that merged
    coverage region (a stable span identity, not proof the whole text
    repeats) and ``n_occ_min`` is the minimum L-gram occurrence count
    inside the region — an upper bound on, not a count of, whole-span
    repeats. Removal semantics (union of covered positions) are
    unaffected: every removed token sits inside SOME duplicated L-gram
    either way.

    Plan, 100 TB-first: positional L-gram explode → ONE map-side-partial
    ``groupBy(sh).count()`` (never a count window: a boilerplate L-gram
    must compress per map task) → the count relation joined back SALTED
    across ``n_salts`` replicas (the duplicated_span_coverage_salted
    pattern — heavy-hitter probe rows spread over n_salts tasks) → a
    per-DOC window over duplicated start positions only (bounded by doc
    length, volume scales with *duplicated* text) → doc-keyed join back
    to slice the span tokens. No corpus² anywhere; the shuffled L-gram
    key is the exact string (the production swap at petabyte scale is a
    2x64-bit hash pair — 64 bits alone birthday-collide at ~4B windows;
    exact strings keep the oracle comparison collision-free here).
    """
    from pyspark.sql.window import Window

    L = int(min_len)
    pos_sh = positional_shingles(df, text_col, id_col, k=L)
    counts = (
        pos_sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_occurrences)
    )
    salts = df.sparkSession.range(n_salts).select(
        F.col("id").cast("int").alias("_salt")
    )
    counts_rep = counts.crossJoin(F.broadcast(salts))
    starts = (
        pos_sh.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(id_col), F.col("pos")), F.lit(n_salts)).cast("int"),
        )
        .join(counts_rep, ["sh", "_salt"])
        .select(F.col(id_col), "pos", "n_occ")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        starts.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).alias("span_end"),
            # weakest duplication count along the run: every L-gram in the
            # span occurs at least this often
            F.min("n_occ").cast("long").alias("n_occ_min"),
        )
        .drop("grp")
    )
    toks = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    return (
        spans.join(toks, id_col)
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_len"),
            "n_occ_min",
            F.md5(
                F.array_join(
                    F.slice(
                        F.col("_tk"),
                        F.col("span_start") + 1,
                        F.col("span_end") - F.col("span_start") + 1,
                    ),
                    " ",
                )
            ).alias("span_fp"),
        )
    )
