"""Embedding-matrix statistics: distributed PCA / whitening.

Whitening (decorrelate + unit-variance) is the standard pre-step before
cosine dedup / ANN over learned embeddings — raw encoder outputs concentrate
variance in a few directions, which makes cosine thresholds anisotropic
(SemDeDup-style pipelines whiten first for exactly this reason).

Scale design (the one-pass distributed PCA):

1. **Sufficient statistics, one pass**: per-partition ``(n, Σx, XᵀX)`` via
   an Arrow-batched ``mapInPandas`` — numpy computes the d×d Gram matrix
   per batch (vectorized, the fast path for a quadratic-in-d reduction that
   would be 4096 codegen'd aggregate expressions JVM-side), and each
   partition emits ONE row of d + d² + 1 doubles. The shuffle/collect is
   bounded by ``partitions × d²`` — independent of row count, the same
   "bounded by geometry, not data" contract as the Bloom build.
2. **Driver-side eigendecomposition** of the d×d covariance (d is 64 here;
   eigh of 64×64 is microseconds) with a deterministic sign convention
   (largest-|component| entry of each eigenvector made positive) so the
   model is reproducible run-to-run and engine-independent.
3. **Apply = broadcast matmul**: the (d×k) whitening matrix rides to
   executors inside the Arrow batch closure; transform is a vectorized
   numpy ``(X-μ)W`` per batch — embarrassingly parallel, zero shuffle.

No reference analog (sea-streamer has no vector layer); part of the
beyond-reference LLM-pipeline block. Registry-deferred like the other
round-3 late ops (driver-budget fit); the oracle plan for round 4 is a
centroid-literal-style model pin (plans/similarity.py's IVF pattern): train at
import, embed μ/W as literals, let DuckDB recompute the projection.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .litexpr import lit_doubles


@dataclass(frozen=True)
class WhitenModel:
    """μ (d,), eigvals (k,), W (d,k): x ↦ (x-μ) @ W decorrelates to unit
    variance along the top-k principal directions."""

    mean: tuple[float, ...]
    eigvals: tuple[float, ...]
    components: tuple[tuple[float, ...], ...]  # k rows of length d (Vᵀ)
    eps: float

    @property
    def dim(self) -> int:
        return len(self.mean)

    @property
    def k(self) -> int:
        return len(self.eigvals)

    def matrix(self) -> np.ndarray:
        """(d,k) whitening matrix V·diag(1/sqrt(λ+eps))."""
        v = np.asarray(self.components, dtype=np.float64).T  # (d,k)
        lam = np.asarray(self.eigvals, dtype=np.float64)
        return v / np.sqrt(lam + self.eps)

    def apply_np(self, x: np.ndarray) -> np.ndarray:
        return (np.asarray(x, dtype=np.float64) - np.asarray(self.mean)) @ self.matrix()


def _suff_stats(df: DataFrame, vec_col: str, dim: int):
    """One distributed pass → (n, Σx, XᵀX) summed over all partitions.
    Each partition contributes a single row of sufficient statistics; the
    driver reduces ``numPartitions`` tiny rows."""
    import pandas as pd

    schema = "n long, s array<double>, g array<double>"

    def stats(batches):
        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if x.size:
                n += x.shape[0]
                s += x.sum(axis=0)
                g += x.T @ x
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    rows = df.select(vec_col).mapInPandas(stats, schema=schema).collect()
    n = sum(r.n for r in rows)
    s = np.sum([np.asarray(r.s) for r in rows], axis=0)
    g = np.sum([np.asarray(r.g).reshape(dim, dim) for r in rows], axis=0)
    return n, s, g


def fit_whiten(
    df: DataFrame, vec_col: str = "embedding", k: int | None = None, eps: float = 1e-6
) -> WhitenModel:
    """Fit PCA-whitening from the full corpus in one pass (never sampled —
    the sufficient-statistic reduction is already O(partitions·d²))."""
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError("whitening needs at least 2 vectors")
    dim = len(first[0])
    n, s, g = _suff_stats(df, vec_col, dim)
    if n < 2:
        raise ValueError("whitening needs at least 2 vectors")
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    lam, vec = np.linalg.eigh(cov)  # ascending
    order = np.argsort(lam)[::-1]
    lam, vec = lam[order], vec[:, order]
    k = k or dim
    lam, vec = lam[:k], vec[:, :k]
    # deterministic sign: the largest-|entry| of each eigenvector positive
    for j in range(vec.shape[1]):
        i = int(np.argmax(np.abs(vec[:, j])))
        if vec[i, j] < 0:
            vec[:, j] = -vec[:, j]
    return WhitenModel(
        mean=tuple(float(v) for v in mu),
        eigvals=tuple(float(v) for v in np.maximum(lam, 0.0)),
        components=tuple(tuple(float(v) for v in vec[:, j]) for j in range(vec.shape[1])),
        eps=eps,
    )


def whiten(
    df: DataFrame,
    model: WhitenModel,
    vec_col: str = "embedding",
    out_col: str = "whitened",
) -> DataFrame:
    """Apply the fitted model: vectorized ``(X-μ)W`` per Arrow batch —
    a pure map stage (zero shuffle) carrying every other column through."""
    import pandas as pd

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{out_fields}, {out_col} array<double>"
    mu = np.asarray(model.mean)
    w = model.matrix()

    def project(batches):
        for pdf in batches:
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            y = (x - mu) @ w if x.size else np.zeros((0, w.shape[1]))
            pdf = pdf.copy()
            pdf[out_col] = [row.tolist() for row in y]
            yield pdf

    return df.mapInPandas(project, schema=schema)


# ----------------------------------------------------- scalar quantization

def sq8_fit_np(parquet_path: str):
    """Per-dimension (min, scale) for 8-bit scalar quantization, fitted
    driver-side over the GATE embeddings (train-once-apply-at-any-sf, the
    whiten/DSIR/BPE convention): ``scale_d = 255 / (max_d - min_d)``,
    degenerate dimensions (max == min) get scale 0 so every code is 0.
    The FAISS-SQ8 storage story next to the PQ codebooks: 4x smaller than
    float32 at ~1% recall cost, codes decodable map-side."""
    import numpy as np
    import pyarrow.parquet as pq

    emb = np.asarray(
        pq.read_table(parquet_path, columns=["embedding"])
        .column("embedding")
        .to_pylist(),
        dtype=np.float64,
    )
    mins = emb.min(axis=0)
    maxs = emb.max(axis=0)
    rng = maxs - mins
    scales = np.where(rng > 0, 255.0 / np.where(rng > 0, rng, 1.0), 0.0)
    return mins, scales


def sq8_encode(df: DataFrame, mins, scales, vec_col: str = "embedding") -> Column:
    """JVM-side code array: ``clamp(floor((double(x_d) - min_d) * scale_d),
    0, 255)`` per dimension — zero Python, zero shuffle; the literal
    model arrays ride into whole-stage codegen. float32 inputs are cast
    to double (exact), after which every operation is IEEE-identical in
    DuckDB, so the codes value-hash replay."""
    mn = lit_doubles(mins)
    sc = lit_doubles(scales)
    idx = F.sequence(F.lit(1), F.size(F.col(vec_col)))
    return F.transform(
        idx,
        lambda i: F.least(
            F.lit(255).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor(
                    (
                        F.element_at(F.col(vec_col), i).cast("double")
                        - F.element_at(mn, i)
                    )
                    * F.element_at(sc, i)
                    # +1e-9 bucket-boundary convention: DuckDB's vectorized
                    # codegen fuses (x-mn)*sc into one FMA (single
                    # rounding) while the JVM rounds the subtraction and
                    # multiplication separately — a <=1-ulp product
                    # difference that flips floor() exactly at integer
                    # boundaries (hit by construction: the fit maximum of
                    # every dimension lands on 255.0). The nudge assigns
                    # the boundary to the upper bucket on BOTH engines;
                    # values within 1e-9 below an integer (never at ulp
                    # scale ~3e-14) would be the only semantic change.
                    + F.lit(1e-9)
                ).cast("long"),
            ),
        ),
    )
