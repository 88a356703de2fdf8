"""Distributed PCA / whitening over an embedding column.

Embedding pipelines keep re-deriving the same linear algebra: reduce
dimensions before an ANN index (smaller codes, better PQ cells —
OPQ's first move is exactly a rotation), whiten before cosine
thresholds (anisotropic embeddings make one direction dominate every
dot product), and report how much variance a truncation keeps. For a
d-dimensional corpus the sufficient statistics are tiny — n, Σx (d
doubles), Σxxᵀ (d² doubles) — so the Spark shape is:

1. ONE corpus pass accumulates per-partition partial moments inside
   ``mapInPandas`` (vectorized: a partition's moment is one matmul),
   emitting a single row per partition;
2. the driver combines the ≤ thousands of partial rows in a FIXED
   (partition-id) order — deterministic double summation — and runs
   the d×d eigendecomposition locally (LAPACK on a 64×64 matrix is
   microseconds; a distributed eig would be absurd here);
3. projection broadcasts the (d×k) component matrix into an
   Arrow-batched UDF — each output vector is one row of a batch
   matmul, the corpus is touched exactly once more.

Eigenvector sign is normalized (largest-|loading| coordinate made
positive) so refits on identical data produce identical components —
LAPACK's sign choice is otherwise arbitrary and would flip projected
coordinates run to run on some BLAS builds.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


@dataclass(frozen=True)
class PcaModel:
    """Fitted moments: projection = (x - mean) @ components[:, :k]
    (columns ordered by descending eigenvalue; optionally scaled by
    1/sqrt(eigenvalue) when whitening). The RAW moment sums ride
    along because they are additive."""

    mean: np.ndarray  # (d,)
    components: np.ndarray  # (d, d), columns = eigenvectors
    eigenvalues: np.ndarray  # (d,), descending, >= 0 (clipped)
    n: int
    moment_sum: np.ndarray  # (d,)  raw Σx
    moment_sumsq: np.ndarray  # (d, d)  raw Σxxᵀ

    def explained_variance_ratio(self) -> np.ndarray:
        total = float(self.eigenvalues.sum())
        if total <= 0:
            return np.zeros_like(self.eigenvalues)
        return self.eigenvalues / total


def _collect_moments(
    df: DataFrame, sample_limit: int | None
) -> tuple[int, np.ndarray, np.ndarray] | None:
    """ONE distributed pass → (n, Σx, Σxxᵀ); ``None`` when the input
    holds no non-NULL vectors. The empty case is signalled by return
    value, NOT an exception — real data errors (e.g. mixed vector
    dimensions raising ValueError inside the numpy combine) must
    propagate, not be mistaken for "empty batch" by callers."""
    src = df.select(F.col("embedding").alias("v")).where(F.col("v").isNotNull())
    if sample_limit is not None:
        src = src.limit(int(sample_limit))
    src = src.withColumn("pid", F.spark_partition_id())

    def partial_moments(batches):
        pid = -1
        n = 0
        s = None
        ss = None
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["pid"].iloc[0])
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            n += X.shape[0]
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            g = X.T @ X
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "n": [n],
                    "s": [s.tolist()],
                    "ss": [ss.reshape(-1).tolist()],
                }
            )

    parts = src.mapInPandas(
        partial_moments,
        schema="pid int, n long, s array<double>, ss array<double>",
    ).collect()
    if not parts:
        return None
    # fixed combine order — double addition is not associative, and a
    # shuffle-order-dependent covariance would make refits disagree.
    # The partition id is a TOTAL order over the one-row-per-partition
    # partials; sorting by content (n, s) alone ties whenever two
    # partitions hold permutations of the same rows
    parts = sorted(parts, key=lambda r: r["pid"])
    n = sum(r["n"] for r in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in parts:
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(d, d)
    return n, s, ss


def _model_from_moments(n: int, s: np.ndarray, ss: np.ndarray) -> PcaModel:
    d = len(s)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0  # enforce symmetry against fp drift
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals = np.clip(evals[order], 0.0, None)
    evecs = evecs[:, order]
    # sign convention: the largest-|loading| coordinate of each
    # component is positive
    flip = np.sign(evecs[np.abs(evecs).argmax(axis=0), np.arange(d)])
    flip[flip == 0] = 1.0
    evecs = evecs * flip
    return PcaModel(
        mean=mean,
        components=evecs,
        eigenvalues=evals,
        n=n,
        moment_sum=s,
        moment_sumsq=ss,
    )


def fit_pca(
    df: DataFrame, sample_limit: int | None = None
) -> PcaModel:
    """Fit on every non-NULL ``embedding`` vector (or the first ``sample_limit`` —
    the quantizer-training trade: moments converge long before a
    100 TB corpus is fully read). One corpus pass, d²-sized result."""
    moments = _collect_moments(df, sample_limit)
    if moments is None:
        raise ValueError("fit_pca: no non-NULL vectors in 'embedding'")
    return _model_from_moments(*moments)


def transform_pca(
    df: DataFrame,
    model: PcaModel,
    k: int,
    whiten: bool = False,
) -> DataFrame:
    """Append ``projection``: the k leading principal coordinates of
    ``embedding`` (whitened to unit variance per component when
    ``whiten`` — the cosine-threshold-friendly frame). NULL vectors
    project to NULL. One Arrow pass; the (d×k) matrix ships inside
    the UDF closure (kilobytes)."""
    if not 1 <= k <= model.components.shape[1]:
        raise ValueError(
            f"k must be in [1, {model.components.shape[1]}], got {k}"
        )
    W = model.components[:, :k].copy()
    if whiten:
        W = W / np.sqrt(model.eigenvalues[:k] + 1e-12)
    mean = model.mean.copy()

    @F.pandas_udf(ArrayType(DoubleType()))
    def project(vectors: pd.Series) -> pd.Series:
        mask = vectors.notna().tolist()
        if any(mask):
            X = np.vstack(
                [
                    np.asarray(v, dtype=np.float64)
                    for v, m in zip(vectors, mask)
                    if m
                ]
            )
            rows = iter(((X - mean) @ W).tolist())
        else:
            rows = iter(())
        # positional rebuild — a masked pandas assignment of a
        # list-of-lists flattens ambiguously (cells end up floats)
        return pd.Series(
            [next(rows) if m else None for m in mask], dtype="object"
        )

    return df.withColumn("projection", project(F.col("embedding")))
