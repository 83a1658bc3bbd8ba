"""Count-Min sketch: bounded-memory frequency estimation over unbounded key
domains — the frequency-side companion to :mod:`.bloom`'s membership gate.

Where exact per-key counts need a shuffle keyed by every distinct key (fine
once, expensive to keep live), a CMS is a d×w grid of counters that answers
"how often did key x occur?" with one-sided error: ``est >= true`` always,
``est <= true + ε·N`` with probability 1-δ for w=⌈e/ε⌉, d=⌈ln 1/δ⌉ (Cormode
& Muthukrishnan 2005). Like the Bloom build, the grid aggregate is bounded
by GEOMETRY, not data: map-side combine caps the shuffle at d·w rows per
task and the driver holds d·w longs, so the sketch can track a firehose's
token frequencies forever (counters add ⇒ :func:`cms_merge` of per-batch
deltas IS a rebuild).

Hashing is the repo's portable polynomial fold (operators/text.char_fold_hash
— base 31 mod 1e9+7) through d pairwise-independent ``(a·h+b) mod P mod w``
rows, NOT xxhash64: the fold is replayable in DuckDB SQL, so a query built
on this sketch is value-hash ORACLE-CHECKABLE — the oracle rebuilds the
entire grid and its estimates in SQL (see plans/sketch.sketch_heavy_hitters).

No reference analog (sea-streamer has no aggregation layer); part of the
beyond-reference LLM-pipeline block.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import MOD, char_fold_hash

#: (a, b) rows for the pairwise-independent family h_j = (a*h + b) % MOD % w
#: — same spread-constant recipe as the MinHash permutations (dedup.py):
#: large multiplicative constants, never small sequential ones.
CMS_DEPTH = 4
CMS_AB = [
    ((0x9E3779B1 * (2 * j + 3)) % MOD, (0x85EBCA77 * (j + 7) + 0x165667B1) % MOD)
    for j in range(CMS_DEPTH)
]


@dataclass(frozen=True)
class CmsModel:
    """d rows × w buckets of counters; ``grid[j][k]`` is row j, bucket k."""

    width: int
    grid: tuple[tuple[int, ...], ...]  # CMS_DEPTH rows of length width

    @property
    def total(self) -> int:
        """N — the stream length the error bound ε·N refers to."""
        return sum(self.grid[0])

    def estimate(self, key: str) -> int:
        h = 0
        for ch in key:
            h = (h * 31 + ord(ch)) % MOD
        return min(
            self.grid[j][((a * h + b) % MOD) % self.width]
            for j, (a, b) in enumerate(CMS_AB)
        )


def _bucket_cols(key: Column, width: int) -> list[Column]:
    h = char_fold_hash(key)
    return [
        ((F.lit(a) * h + F.lit(b)) % MOD % width).cast("long")
        for (a, b) in CMS_AB
    ]


def cms_build(
    df: DataFrame, key_col: str, width: int = 1024, weight_col: str | None = None
) -> CmsModel:
    """One pass → the counter grid. Each row contributes ``weight`` (default
    1) to d buckets; the (row, bucket)-keyed aggregate map-side-combines, so
    the shuffle and the driver collect are both ≤ d·w counters."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    buckets = _bucket_cols(F.col(key_col), width)
    rows = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("j"), b.alias("k"), w.alias("n"))
                        for j, b in enumerate(buckets)
                    ]
                )
            ).alias("e")
        )
        .groupBy("e.j", "e.k")
        .agg(F.sum("e.n").alias("c"))
        .collect()
    )
    grid = [[0] * width for _ in range(CMS_DEPTH)]
    for r in rows:
        grid[int(r.j)][int(r.k)] = int(r.c)
    return CmsModel(width=width, grid=tuple(tuple(g) for g in grid))


def cms_estimate_expr(model: CmsModel, key: Column) -> Column:
    """Map-side JVM estimate: min over d packed-row literal lookups — the
    same zero-join probe shape as bloom_might_contain."""
    from .litexpr import lit_longs

    buckets = _bucket_cols(key, model.width)
    # r12: one-parse literals (d×width longs previously rode py4j
    # element-by-element — ~2 s of plan-build per probe expression)
    looks = [
        F.element_at(lit_longs(model.grid[j]), (b + 1).cast("int"))
        for j, b in enumerate(buckets)
    ]
    return F.least(*looks).cast("long")


def cms_merge(a: CmsModel, b: CmsModel) -> CmsModel:
    """Counter-wise sum — merging per-batch deltas equals one big build,
    which is what makes the sketch a streaming accumulator (persist the
    grid like bloom.save_model and add each micro-batch's delta)."""
    if a.width != b.width:
        raise ValueError("sketch widths differ")
    return CmsModel(
        width=a.width,
        grid=tuple(
            tuple(x + y for x, y in zip(ra, rb)) for ra, rb in zip(a.grid, b.grid)
        ),
    )


def save_cms(model: CmsModel, path: str, applied: list[int] | None = None) -> None:
    """Atomic persistence (functions/statefile.py owns the tmp+rename
    contract) — the grid is d·w longs, a few tens of KB at the default
    geometry. ``applied`` optionally records the micro-batch ids already
    merged into the grid IN THE SAME atomic file: counter addition is not
    idempotent (unlike the Bloom's bit-OR), so a crash-replaying sink must
    check membership before re-merging a batch's delta — the applied set
    and the grid move together or not at all."""
    from ..functions.statefile import save_json

    obj = {"width": model.width, "grid": [list(g) for g in model.grid]}
    if applied is not None:
        obj["applied"] = sorted(set(applied))
    save_json(path, obj)


def load_cms(path: str) -> CmsModel | None:
    from ..functions.statefile import load_json

    d = load_json(path)
    if d is None:
        return None
    return CmsModel(width=d["width"], grid=tuple(tuple(g) for g in d["grid"]))


def load_cms_applied(path: str) -> set[int]:
    """The batch ids already merged into the persisted grid (empty when the
    file is absent or was saved without an applied set)."""
    from ..functions.statefile import load_json

    d = load_json(path)
    return set(d.get("applied", [])) if d else set()


# ------------------------------------------------------------- portable HLL

HLL_M = 256  # registers (8-bit bucket); standard error 1.04/sqrt(m) ≈ 6.5%
HLL_W = 22  # remaining-hash bit width: MOD < 2^30, w = h div 256 < 2^22


def hll_rho(w: Column) -> Column:
    """Leading-zeros-plus-one rank of the W-bit remainder hash, as the
    bit-length identity ``rho = W - bitlen(w) + 1`` (``W+1`` for w=0) —
    expressed through ``length(bin(w))``, which Spark and DuckDB render
    identically, so the whole register build replays in SQL bit-for-bit
    (the CMS portability contract; Spark's own approx_count_distinct can
    only be golden-pinned because xxhash64 has no SQL replay)."""
    return (
        F.when(w == 0, F.lit(HLL_W + 1))
        .otherwise(F.lit(HLL_W + 1) - F.length(F.bin(w)))
        .cast("int")
    )


def hll_registers(
    df: DataFrame, key: Column | str, group_cols: list[str] | None = None
) -> DataFrame:
    """(group..., bucket, r) register table: bucket = fold % m, r = max rho.
    ONE aggregate whose map-side combine caps the shuffle at m rows per
    group per task — the geometry-bounded sketch-build shape shared with
    cms_build/bloom_build. Registers are mergeable by construction
    (max is associative): union of corpora == max over their register
    tables, which is what makes the sketch a valid streaming accumulator.
    """
    k = F.col(key) if isinstance(key, str) else key
    gb = list(group_cols or [])
    # fold over md5(key), not the raw key: HLL needs avalanche (the
    # leading-zero rank must be geometric), and the bare polynomial fold
    # maps similar keys to DENSE h runs whose shared high bits wreck the
    # estimate ~10x (measured on sequential ids). md5 + fold is the repo's
    # portable-avalanche pattern (split_bucket / oracle_sample).
    # Projected ONCE into a named column: bucket and rho both read it, and
    # CollapseProject keeps the stage separate for multiply-referenced
    # lambda expressions (the zorder_by lesson).
    hashed = df.select(*gb, char_fold_hash(F.md5(k.cast("string"))).alias("_h"))
    rel = hashed.select(
        *gb,
        (F.col("_h") % HLL_M).cast("int").alias("bucket"),
        hll_rho(F.expr(f"_h div {HLL_M}")).alias("_r_tmp"),
    )
    return rel.groupBy(*gb, "bucket").agg(F.max("_r_tmp").alias("r"))


def hll_summary(
    regs: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group exact-integer HLL summary: ``denom_q32`` = Σ 2^(32-rho)
    over all m registers (empty registers contribute 2^32) and
    ``zero_registers`` — the two numbers the standard estimate (raw +
    linear-counting correction) derives from, kept integral so the driver
    hash is engine-exact; the float estimate is a trivial driver-side
    formula over them (see tests/test_sketch_hll.py)."""
    gb = list(group_cols or [])
    present = regs.groupBy(*gb).agg(
        # F.shiftleft's python signature takes an int shift; the SQL
        # function accepts a column (same workaround as bloom._pack)
        F.sum(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.lit(32) - F.col("r")).cast("int"),
            )
        )
        .cast("long")
        .alias("present_sum"),
        F.count(F.lit(1)).cast("long").alias("n_present"),
    )
    return present.select(
        *gb,
        (
            F.col("present_sum")
            + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << 32).cast("long")
        )
        .cast("long")
        .alias("denom_q32"),
        (F.lit(HLL_M) - F.col("n_present")).cast("long").alias("zero_registers"),
    )


def hll_estimate(denom_q32: int, zero_registers: int, m: int = HLL_M) -> float:
    """Driver-side estimate from the integral summary: the standard raw
    HLL formula with the small-range linear-counting correction."""
    import math

    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m * float(1 << 32) / float(denom_q32)
    if raw <= 2.5 * m and zero_registers > 0:
        return m * math.log(m / zero_registers)
    return raw


# ------------------------------------------------------------- portable KMV

KMV_K = 256  # sketch size; Jaccard stderr ≈ 1/sqrt(k) ≈ 6.3%


def kmv_sketch(
    df: DataFrame, key: Column | str, group_col: str, k: int = KMV_K
) -> DataFrame:
    """K-minimum-values sketch per group: the ``k`` smallest DISTINCT
    portable hash values of the group's keys — the member of the sketch
    family that supports SET OPERATIONS (union = merge-and-truncate,
    intersection/Jaccard via the combined top-k), which HLL cannot.
    Deterministic by construction (exact k smallest of an exact hash set),
    so sketches — and every estimate derived from them — are value-hash
    oracle-checkable, like the CMS grid and the HLL registers.

    Build: distinct (group, h) → one windowed rank per group, keeping ≤ k
    rows — the shuffle is keyed by group and the output is geometry-
    bounded (k rows per group)."""
    from pyspark.sql import Window

    kc = F.col(key) if isinstance(key, str) else key
    hashed = df.select(
        F.col(group_col), char_fold_hash(F.md5(kc.cast("string"))).alias("h")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(group_col, "h")
    )


def kmv_pair_overlap(
    kmv: DataFrame, group_col: str, k: int = KMV_K
) -> DataFrame:
    """Pairwise Jaccard ingredients from per-group KMV sketches, all
    integers: for every group pair (a < b), rank the UNION of their sketch
    values, keep the k smallest, and count how many appear in BOTH — the
    classic KMV Jaccard estimator ``shared_in_topk / k_used`` (Beyer et
    al. 2007), engine-exact because every step is integer set algebra.
    Output: (group_a, group_b, k_used, shared_in_topk)."""
    from pyspark.sql import Window

    g = group_col
    a = kmv.select(F.col(g).alias("ga"), "h")
    b = kmv.select(F.col(g).alias("gb"), "h")
    # one row per (pair, h, side): equi-joins only — the pair relation
    # materializes through the shared hash space, never a cross join
    both = a.join(b, "h").filter(F.col("ga") < F.col("gb")).select(
        "ga", "gb", "h", F.lit(2).alias("sides")
    )
    groups = kmv.select(F.col(g).alias("ga")).distinct()
    pairs = groups.join(
        groups.select(F.col("ga").alias("gb")), F.col("ga") < F.col("gb")
    )
    only_a = (
        pairs.join(a, "ga")
        .join(both.select("ga", "gb", "h"), ["ga", "gb", "h"], "left_anti")
        .select("ga", "gb", "h", F.lit(1).alias("sides"))
    )
    only_b = (
        pairs.join(b, "gb")
        .join(both.select("ga", "gb", "h"), ["ga", "gb", "h"], "left_anti")
        .select("ga", "gb", "h", F.lit(1).alias("sides"))
    )
    uni = both.unionByName(only_a).unionByName(only_b)
    w = Window.partitionBy("ga", "gb").orderBy("h")
    top = uni.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return top.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum(F.when(F.col("sides") == 2, 1).otherwise(0))
        .cast("long")
        .alias("shared_in_topk"),
    )


# ------------------------------------------- portable bottom-k quantile sample

QSK_K = 256  # sample size; quantile stderr ≈ sqrt(q(1-q)/k) ≤ ~3.1% in rank space
QSK_QS = (10, 25, 50, 75, 90)  # percent points reported by the summary


def bottomk_value_sample(
    df: DataFrame,
    key: Column | str,
    value_col: str,
    group_col: str,
    k: int = QSK_K,
) -> DataFrame:
    """Bottom-k-by-hash VALUE sample per group — the quantile member of the
    portable sketch family (Bloom = membership, CMS = frequency, HLL =
    distinct, KMV = set ops, this = distribution): keeping the ``k`` rows
    whose portable key hash is smallest is a uniform random sample without
    replacement of the group (the hash is the fixed public coin), and it
    MERGES — bottom-k of a union is the re-ranked truncation of the per-part
    bottom-k's, so per-shard/per-batch samples fold into the corpus sample
    without revisiting history (the same accumulator contract as the CMS
    grid and the HLL registers).

    Deterministic by construction ⇒ the sample AND every quantile estimate
    derived from it replay exactly in SQL (no goldens). Build cost: one
    group-keyed window rank; output is geometry-bounded at k rows/group at
    any corpus size — the at-scale alternative to exact percentiles
    (agg_percentile_cont's documented weakness) that, unlike
    approx_percentile, is engine-exactly checkable.

    Total tie-break (h, v) makes the kept multiset a pure function of the
    group's (h, v) multiset — the merge==rebuild pin relies on it."""
    from pyspark.sql import Window

    kc = F.col(key) if isinstance(key, str) else key
    hashed = df.select(
        F.col(group_col),
        char_fold_hash(F.md5(kc.cast("string"))).alias("h"),
        F.col(value_col).cast("long").alias("v"),
    )
    w = Window.partitionBy(group_col).orderBy("h", "v")
    return (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(group_col, "h", "v")
    )


def quantiles_from_sample(
    sample: DataFrame, group_col: str, qs: tuple[int, ...] = QSK_QS
) -> DataFrame:
    """Quantile summary from a bottom-k sample: estimate at percent q =
    the sample value at rank ceil(k_used * q / 100) (1-based) in
    (value, hash) order. The rank test is the division-free integer form
    ``(vrk-1)*100 < k_used*q <= vrk*100`` — no float ever touches the
    result, so the summary is engine-exact.

    Both windows partition by the group, so the value-rank sort reuses the
    build's Exchange (one group-keyed shuffle end-to-end)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("v", "h")
    wcnt = Window.partitionBy(group_col)
    ranked = sample.withColumn("vrk", F.row_number().over(w)).withColumn(
        "k_used", F.count(F.lit(1)).over(wcnt)
    )
    aggs = [F.max("k_used").cast("long").alias("k_used")] + [
        F.max(
            F.when(
                (F.col("vrk") * 100 >= F.col("k_used") * q)
                & ((F.col("vrk") - 1) * 100 < F.col("k_used") * q),
                F.col("v"),
            )
        )
        .cast("long")
        .alias(f"p{q}")
        for q in qs
    ]
    return ranked.groupBy(group_col).agg(*aggs)


def cms_inner_products(a: CmsModel, b: CmsModel) -> list[int]:
    """Per-depth inner products ``Σ_k a[j][k]·b[j][k]`` — each is an
    UPPER bound on the true join size Σ_key f_a(key)·f_b(key) (colliding
    keys only ever add mass), so the estimate takes the min."""
    if a.width != b.width:
        raise ValueError("sketch widths differ")
    return [
        sum(x * y for x, y in zip(ra, rb)) for ra, rb in zip(a.grid, b.grid)
    ]


def cms_join_size(a: CmsModel, b: CmsModel) -> int:
    """AMS/CMS equi-join cardinality estimate (Alon-Matias-Szegedy via the
    CMS grid): ``min_j Σ_k a[j][k]·b[j][k]``. One-sided (never
    underestimates); expected excess ≤ N_a·N_b/width per row, and the min
    over d rows concentrates it. The optimizer's join-size estimation as
    two geometry-bounded single-pass sketches — no join executed."""
    return min(cms_inner_products(a, b))
