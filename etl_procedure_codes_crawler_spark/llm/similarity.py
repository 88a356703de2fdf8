"""Similarity search over embedding columns (``array<float>``).

Six operators, per SURVEY §7 Phase 5:

- :func:`similar_pairs_bruteforce` — every pair at cosine >= a
  threshold: the exact baseline, cosine via zip_with/aggregate (JVM
  higher-order fns, no UDF). At 100 TB this is the re-rank stage, not
  the scan.
- :func:`margin_pairs_ann` — ratio-margin pair mining
  (:func:`margin_score_pairs`) over an IVF k-NN graph.
- :func:`cosine_topk_lsh` — random-hyperplane LSH: ±1 planes derived
  from md5 bucket the corpus; candidates share a bucket.
- :func:`cosine_topk_ivf` — k-means cells; each query scans only its
  ``nprobe`` nearest cells.
- :func:`cosine_topk_pq` — product quantization with ADC scoring,
  optionally Hadamard-rotated.
- :func:`cosine_topk_ivfpq` — cells plus PQ codes, optionally
  OPQ-rotated; :mod:`.index` persists the unrotated form.

The approximate operators share one scaffold. Quantizers train on a
bounded driver-side sample and ride UDF closures (no model state on
executors): one integer k-means (:func:`_kmeans_int`) fits both the IVF
cells (:func:`_train_ivf_int`) and the PQ codebook
(:func:`_train_pq_int`); one kernel picks nearest cells
(:func:`_nearest_cells`) and one builds the integer ADC table
(:func:`_int_lut`). Every top-k ends in the same exact-cosine rank
window (:func:`_topk`), the PQ operators after the ADC shortlist
(:func:`_adc_rerank`).
"""

from __future__ import annotations

import functools
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """Precompute the L2 norm once per vector — never per pair."""
    return df.withColumn(norm_col, _norm(F.col(vec_col)))


def _cosine(a: str, b: str):
    """Cosine of vectors ``{a}v`` and ``{b}v`` over their precomputed
    norms ``{a}n`` and ``{b}n``."""
    return _dot(F.col(f"{a}v"), F.col(f"{b}v")) / (
        F.col(f"{a}n") * F.col(f"{b}n")
    )


def _as_queries(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


def _as_corpus(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )


def _scored(candidates: DataFrame, score) -> DataFrame:
    """(query_id, neighbor_id, score) per candidate row; a query is
    never its own neighbor."""
    return candidates.filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", score)


def _ranked(pairs: DataFrame, score: str, k: int) -> DataFrame:
    """The best ``k`` rows per query by ``score`` (ties to the lower
    neighbor id), numbered in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), F.asc("neighbor_id")
    )
    return pairs.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def _topk(pairs: DataFrame, k: int) -> DataFrame:
    """The top-k output contract shared by every operator: (query_id,
    neighbor_id, cosine rounded for display, rank)."""
    return _ranked(pairs, "cosine", k).select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def _pair_sides(df: DataFrame) -> list[DataFrame]:
    """The two sides of a pair join, ``(vec_a, av, an)`` and
    ``(vec_b, bv, bn)`` — id, vector and its norm, computed once."""
    v = with_norm(
        df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v")),
        "v",
        "n",
    )
    return [
        v.select(
            F.col("id").alias(f"vec_{s}"),
            F.col("v").alias(f"{s}v"),
            F.col("n").alias(f"{s}n"),
        )
        for s in "ab"
    ]


def _pairs_above(
    df: DataFrame,
    threshold: float,
) -> DataFrame:
    """(vec_a, vec_b, cosine) with UNROUNDED cosine for every unordered
    pair at cosine >= threshold — shared by the pair miner and the
    margin scorer (which must derive neighbor statistics from the raw
    values, not display-rounded ones)."""
    a, b = _pair_sides(df)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _cosine("a", "b").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def similar_pairs_bruteforce(
    df: DataFrame,
    threshold: float,
) -> DataFrame:
    """All corpus pairs with cosine >= threshold (embedding-cosine
    near-dup detection). Exact baseline — use the LSH variant to
    pre-filter at scale."""
    return _pairs_above(df, threshold).select(
        "vec_a", "vec_b", F.round("cosine", 4).alias("cosine")
    )


def margin_score_pairs(
    pairs: DataFrame, k: int = 4, margin_threshold: float = 1.1
) -> DataFrame:
    """Margin scoring over any (vec_a, vec_b, cosine) candidate
    relation — the part of the miner that is candidate-source-agnostic
    (brute force here, ANN at scale). ``cosine`` must be
    full-precision; output rounds for display.

    The candidate relation feeds THREE consumers (both directed legs
    and the final pair join); whether to materialize it first depends
    on the producer — the brute-force caller checkpoints (its NLJ scan
    has no reusable exchange), the ANN caller does not (its candidate
    join reuses the broadcast/exchange across consumers, and forcing a
    checkpoint was measured SLOWER at sf0.1)."""
    directed = pairs.select(
        F.col("vec_a").alias("id"), F.col("vec_b").alias("nb"), "cosine"
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias("id"), F.col("vec_a").alias("nb"), "cosine"
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("nb"))
    ranked = directed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    knn = (
        ranked.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rk", "cosine"))
            ).alias("_top"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .filter(F.col("_cnt") == k)
        .select(
            "id",
            (
                F.aggregate(
                    F.col("_top"),
                    F.lit(0.0),
                    lambda acc, x: acc + x["cosine"],
                )
                / F.lit(float(k))
            ).alias("mean_top"),
        )
    )
    ka = knn.select(F.col("id").alias("vec_a"), F.col("mean_top").alias("ma"))
    kb = knn.select(F.col("id").alias("vec_b"), F.col("mean_top").alias("mb"))
    margin = F.col("cosine") / ((F.col("ma") + F.col("mb")) / F.lit(2.0))
    return (
        pairs.join(ka, "vec_a")
        .join(kb, "vec_b")
        .withColumn("margin", margin)
        .filter(F.col("margin") >= margin_threshold)
        .select(
            "vec_a",
            "vec_b",
            F.round("cosine", 4).alias("cosine"),
            F.round("margin", 4).alias("margin"),
        )
    )


def margin_pairs_ann(
    df: DataFrame,
    max_iter: int = 5,
) -> DataFrame:
    """Ratio-margin pair mining (:func:`margin_score_pairs`) over an
    IVF k-NN GRAPH instead of the O(n²) candidate scan —
    the production shape (Artetxe & Schwenk mine margins over FAISS
    neighborhoods, not exact search). Threshold-LSH is the wrong
    candidate source here: at a low candidate floor like 0.30 the
    hyperplane collision probability per table is a few percent, and
    the margin statistic COMPOUNDS misses (a lost candidate both drops
    a pair and biases both endpoints' neighborhood means), measured
    <20% pair recall — while the k-NN graph recovers each vector's
    strongest 32 neighbors at the IVF recall floor regardless of
    how weak "strong" is. Candidate edges are top-32 IVF
    neighbors at cosine >= 0.30, symmetrized; unrounded cosines are
    re-derived pair-wise by :func:`_pairs_above`'s pair sides (the
    fold must not consume display-rounded values); scoring is
    :func:`margin_score_pairs`, shared with the exact twin. Recall
    floored against the exact variant in tests/test_r9s2_families.py.

    Cell count TRACKS the corpus: with every vector a
    query, fixed cells make the candidate join quadratic (each query
    scans nprobe/ncells of the corpus — measured 31.9x wall for 4x
    vectors at 16 cells on the 10x sweep). ncells = n/256 keeps
    ~256·nprobe candidates per query (nprobe 6), so total candidate
    volume grows LINEARLY in n — the FAISS sizing rule applied to the
    kNN-graph case. The one extra count() job prices that decision."""
    num_centroids = max(16, min(4096, df.count() // 256))
    edges = (
        cosine_topk_ivf(
            df, df, k=32, num_centroids=num_centroids, nprobe=6,
            max_iter=max_iter,
        )
        .filter(F.col("cosine") >= 0.3)
        .select(
            F.least("query_id", "neighbor_id").alias("vec_a"),
            F.greatest("query_id", "neighbor_id").alias("vec_b"),
        )
        .distinct()
    )
    a, b = _pair_sides(df)
    raw = (
        edges.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", _cosine("a", "b").alias("cosine"))
        # checkpoint: the IVF candidate join + top-knn window would
        # otherwise re-execute once per scorer consumer — negligible at
        # sf0.1 (broadcast reuse hides it) but 3x the dominant stage on
        # the 10x corpus; the floor-pruned edge relation itself is tiny
        .localCheckpoint(eager=True)
    )
    return margin_score_pairs(raw)


#: rows in a quantizer's training sample — the FAISS approach:
#: quantizers train on a capped sample regardless of corpus size,
#: because cluster geometry converges long before the full corpus is
#: seen
_TRAIN_SAMPLE = 1 << 16


def _train_vectors(corpus: DataFrame) -> np.ndarray:
    """Bounded driver-side training sample for the float quantizers.

    ``limit`` short-circuits the scan (LocalLimit stops feeding after
    :data:`_TRAIN_SAMPLE` rows), so driver memory and scan cost are
    constant in corpus size. A corpus whose leading files are
    pathologically unrepresentative should be pre-sampled by the
    caller; for training a quantizer this is the standard trade."""
    rows = (
        corpus.select("embedding")
        .where(F.col("embedding").isNotNull())
        .limit(_TRAIN_SAMPLE)
        .collect()
    )
    if not rows:
        raise ValueError(
            "cannot train on an empty corpus (vector column: 'embedding')"
        )
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def _kmeans_np(
    X: np.ndarray, k: int, seed: int, max_iter: int
) -> np.ndarray:
    """Seeded vectorized Lloyd iterations on the (bounded, in-memory)
    training sample. Replaces MLlib KMeans for quantizer training: the
    distributed fit pays per-iteration job scheduling that dwarfs the
    math at any sample size worth training on (measured 40 s for 16k
    8-dim rows on local[32]; this runs in milliseconds). Empty clusters
    are re-seeded to the point currently farthest from its center."""
    rng = np.random.RandomState(seed)
    n = len(X)
    if n >= k:
        centers = X[rng.choice(n, size=k, replace=False)].copy()
    else:
        # degenerate tiny corpus: duplicate points, jitter to keep
        # centers distinct so argmin stays well-defined
        centers = X[rng.choice(n, size=k, replace=True)].copy()
        centers += rng.randn(k, X.shape[1]) * 1e-9
    for _ in range(max_iter):
        # one matmul for the full (n, k) distance matrix — the naive
        # (X[:,None,:] - centers[None,:,:]) broadcast materializes an
        # (n, k, dim) array, which at the k-tracks-corpus settings the
        # cell-scoped dedup uses (n=20k, k=625, dim=64) is 6.4 GB PER
        # ITERATION; the round-9 10x scale sweep caught it as a 47x
        # blowup (kmeans alone 200 s; ~1 s with the matmul identity)
        d = _sq_dists_np(X, centers)
        labels = d.argmin(axis=1)
        nearest = d[np.arange(n), labels]
        # vectorized per-cluster means (bincount/add.at), not a k-wide
        # Python loop of masked means
        counts = np.bincount(labels, minlength=k)
        sums = np.zeros_like(centers)
        np.add.at(sums, labels, X)
        filled = counts > 0
        centers[filled] = sums[filled] / counts[filled, None]
        empties = np.flatnonzero(~filled)
        if len(empties):
            # DISTINCT farthest points per empty cluster — one shared
            # reseed point would return duplicate centroids (dead PQ
            # codes / permanently empty IVF cells)
            order = np.argsort(-nearest, kind="stable")
            for i, j in enumerate(empties):
                centers[j] = X[order[i % n]]
    return centers


def _unit_np(X: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    return np.where(norms > 0, X / np.maximum(norms, 1e-30), 0.0)


def _sq_dists_np(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances via one matmul (‖x‖²−2x·c+‖c‖²)."""
    return (
        (X * X).sum(axis=1, keepdims=True)
        - 2.0 * (X @ C.T)
        + (C * C).sum(axis=1)
    )


def _stack_np(vectors: pd.Series) -> np.ndarray:
    return np.vstack([np.asarray(v, dtype=np.float64) for v in vectors])


def _subspace_width(X: np.ndarray) -> int:
    """Width of each of the 8 PQ subspaces of the vectors in ``X``."""
    if X.shape[1] % 8:
        raise ValueError(
            "product quantization splits each vector into 8 subspaces; "
            f"{X.shape[1]}-dim vectors do not divide into 8"
        )
    return X.shape[1] // 8


# ---------------------------------------------------------------------------
# md5-int quantizer training (round 12): the trained-ANN conversion.
# The same fixed-point discipline that hash-oracled the LSH
# family, applied to k-means itself — md5-seeded init, a fixed number
# of Lloyd iterations, and INTEGER centroid arithmetic make training
# a pure function of (ids, quantized coordinates) that DuckDB replays
# as unrolled CTEs. Every op is engine-exact: quantization is one
# IEEE multiply + floor; distances are int64 sums (associative);
# centroid means are floor divisions of non-negative sums (the shift
# keeps coordinates >= 0, so numpy // == SQL //); argmin ties break
# to the lowest centroid id (numpy first-occurrence == ORDER BY d,
# cid). Empty cells keep their previous centroid — deliberately NOT
# the float k-means' farthest-point reseed, which is order-dependent
# and SQL-hostile.
# ---------------------------------------------------------------------------

#: fixed-point geometry shared by every md5-int quantizer, the LSH
#: signatures and their SQL oracles: SCALE is one IEEE multiply
#: (2^20), SHIFT makes quantized coordinates non-negative so integer
#: mean division floors identically everywhere (embedding coords are
#: unit-scale; 2^21 covers anything in (-2, 2))
_FIXED_SCALE = float(1 << 20)
_FIXED_SHIFT = 1 << 21

#: Hadamard-rotation fixed-point geometry (round 12): the rotation
#: sums 64 quantized coordinates, so the grid is 2^16 (not 2^20) and
#: the post-rotation shift 2^23 — keeps every kernel under the 2^53
#: BLAS-exactness bound (|rot| <= 64·2^16 = 2^22; products < 2^48,
#: 8-term sums < 2^51)
_HADAMARD_ROT_SCALE = float(1 << 16)
_HADAMARD_ROT_SHIFT = 1 << 23


def _md5_h60_py(s: str) -> int:
    """Driver-side twin of the oracle's md5-60 expression:
    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _quantize_np(X: np.ndarray) -> np.ndarray:
    """floor(x * 2^20) + 2^21 per coordinate — the shifted fixed-point
    grid every md5-int distance lives on."""
    return np.floor(X * _FIXED_SCALE).astype(np.int64) + _FIXED_SHIFT


def _unit_seq_np(X: np.ndarray) -> np.ndarray:
    """Unit-normalize with a SEQUENTIAL-order norm accumulation —
    numpy's pairwise .sum() is faster but order-divergent from SQL's
    left fold; this loop is ((x1²+x2²)+x3²)+…, exactly DuckDB's
    list_sum, and sqrt/divide are single correctly-rounded IEEE ops."""
    acc = np.zeros(len(X), dtype=np.float64)
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    n = np.sqrt(acc)
    safe = np.where(n > 0, n, 1.0)
    return np.where((n > 0)[:, None], X / safe[:, None], 0.0)


def _unit_fixed(X: np.ndarray) -> np.ndarray:
    """Unit vectors (sequential-order norm) on the shifted 2^20 grid."""
    return _quantize_np(_unit_seq_np(X))


@functools.lru_cache(maxsize=None)
def _hadamard_signs(dim: int) -> np.ndarray:
    """The Walsh-Hadamard sign matrix H[i][j] = (-1)^popcount(i & j)
    — ±1, orthogonal (H·Hᵀ = dim·I), and SQL-expressible as
    bit_count(i & j) % 2. ``dim`` must be a power of two. Cached: the
    Hadamard grid rotates every Arrow batch with it."""
    if dim & (dim - 1):
        raise ValueError(f"Hadamard rotation needs power-of-two dim, got {dim}")
    idx = np.arange(dim)
    parity = np.vectorize(lambda x: bin(x).count("1") & 1)(
        idx[:, None] & idx[None, :]
    )
    H = np.where(parity == 0, 1, -1).astype(np.int64)
    H.setflags(write=False)  # cached: every caller shares this array
    return H


def _hadamard_fixed(X: np.ndarray) -> np.ndarray:
    """Unit vectors on the 2^16 grid, rotated by the ±1 Walsh-Hadamard
    matrix and shifted by 2^23."""
    qs = np.floor(_unit_seq_np(X) * _HADAMARD_ROT_SCALE).astype(np.int64)
    return _int_matmul(qs, _hadamard_signs(X.shape[1])) + _HADAMARD_ROT_SHIFT


class _Grid(NamedTuple):
    """A fixed-point map for the md5-int PQ: ``project`` sends a float
    batch to non-negative int64 coordinates by adding ``shift``, which
    the signed ADC dots remove again; ``tag`` prefixes the codebook's
    md5 init keys."""

    tag: str
    shift: int
    project: Callable[[np.ndarray], np.ndarray]


_UNIT_GRID = _Grid("pq", _FIXED_SHIFT, _unit_fixed)

#: HADAMARD-rotated PQ (round 12): OPQ's learned rotation is an
#: eigendecomposition — libm-bound, rows-only forever — but a
#: STRUCTURED rotation attacks the same blind-slicing problem
#: (FAISS/ScaNN both ship random/structured rotations) while staying
#: integer-exact: every input dimension spreads across all subspaces
#: before the integer codebook machinery runs. The rotation scales all
#: norms by sqrt(dim) uniformly, so ADC ranking is unaffected and the
#: exact re-rank uses the ORIGINAL vectors.
_HADAMARD_GRID = _Grid("hpq", _HADAMARD_ROT_SHIFT, _hadamard_fixed)


def _int_sq_dists(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 over int64 via the matmul identity — exact.

    The matmul runs in float64 BLAS WHEN EXACT and falls back to the
    int64 gufunc otherwise: numpy has no BLAS path for integer matmul
    (the round-12 100x sweep measured the naive int64 gufunc as the
    ANN families' super-linear wall), and float64 arithmetic on these
    operands is exact whenever max|coord|² · dim stays under the 2^53
    integer-exactness bound of IEEE double — true for every shifted
    fixed-point caller here (coords < 2^22, dim ≤ 64 → inner sums
    < 2^50). The bound is CHECKED per call, not assumed, so a future
    caller with larger coordinates silently gets the exact slow path
    rather than a rounded fast one."""
    if A.size and B.size:
        hi = max(
            int(np.abs(A).max(initial=0)), int(np.abs(B).max(initial=0))
        )
        if hi * hi * A.shape[1] < (1 << 53):
            Af = A.astype(np.float64)
            Bf = B.astype(np.float64)
            d = (
                (Af * Af).sum(axis=1, keepdims=True)
                - 2.0 * (Af @ Bf.T)
                + (Bf * Bf).sum(axis=1)
            )
            return np.rint(d).astype(np.int64)
    return (
        (A * A).sum(axis=1, keepdims=True)
        - 2 * (A @ B.T)
        + (B * B).sum(axis=1)
    )


def _int_matmul(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Exact integer matmul through float64 BLAS when the operands
    allow (same 2^53 bound discipline as :func:`_int_sq_dists`)."""
    if A.size and B.size:
        hi = max(
            int(np.abs(A).max(initial=0)), int(np.abs(B).max(initial=0))
        )
        if hi * hi * A.shape[-1] < (1 << 53):
            return np.rint(
                A.astype(np.float64) @ B.astype(np.float64)
            ).astype(np.int64)
    return A @ B


def _nearest_cells(d: np.ndarray, n: int) -> np.ndarray:
    """The ``n`` nearest cells per row of a (rows, cells) distance
    matrix, nearest first, as int32; ties go to the lower cell id (the
    oracles' ORDER BY d, cid)."""
    if n == 1:
        # argmin keeps the first minimum — the stable sort's tie rule
        # without sorting every row
        return d.argmin(axis=1).astype(np.int32)[:, None]
    return np.argsort(d, axis=1, kind="stable")[:, :n].astype(np.int32)


def _int_lut(G: np.ndarray, codebook: np.ndarray, shift: int) -> np.ndarray:
    """The integer ADC table of grid vectors ``G``: per vector, the dot
    of each SHIFT-removed (signed) subvector slice with each signed
    codeword, flattened (8·k,) so a candidate's score is 8 lookups."""
    sub = codebook.shape[1]
    return _int_matmul(
        (G - shift).reshape(len(G), 8, sub), (codebook - shift).T
    ).reshape(len(G), -1)


def _train_vectors_by_id(corpus: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic training sample for md5-int quantizers: the
    :data:`_TRAIN_SAMPLE` LOWEST-id vectors — unlike
    :func:`_train_vectors` (unordered limit, fine for a float quantizer
    nobody replays), the oracle must re-derive the exact sample, so the
    cut is ORDER BY id LIMIT n. Same bounded-collect scale story: driver
    memory and scan cost are capped regardless of corpus size."""
    from pyspark.sql.types import IntegralType

    id_type = corpus.schema["vec_id"].dataType
    if not isinstance(id_type, IntegralType):
        # the md5-int quantizers key their init and the oracle replay
        # on the integer id
        raise ValueError(
            "md5-int quantizers need integer vec_id values, got "
            f"{id_type.simpleString()}"
        )
    rows = (
        corpus.select(F.col("vec_id"), F.col("embedding"))
        .where(F.col("embedding").isNotNull())
        .orderBy(F.col("vec_id"))
        .limit(_TRAIN_SAMPLE)
        .collect()
    )
    if not rows:
        raise ValueError(
            "cannot train on an empty corpus (vector column: 'embedding')"
        )
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return ids, X


def _kmeans_int(
    Q: np.ndarray,
    init_keys: list,
    k: int,
    max_iter: int,
) -> np.ndarray:
    """Integer Lloyd on the shifted fixed-point grid. Init = the k
    training rows with the smallest ``init_keys[j]`` — callers build
    keys as (md5_60(tag:id), id-tiebreak…) tuples so the oracle's
    ORDER BY (hash, id…) re-derives the identical selection. md5-60
    collisions are ~2^-60 so the tiebreak is belt-and-braces, but it
    must still order the same way the SQL does."""
    n = len(Q)
    kk = min(k, n)
    order = sorted(range(n), key=lambda j: init_keys[j])
    centers = Q[np.asarray(order[:kk])].copy()
    for _ in range(max_iter):
        labels = _int_sq_dists(Q, centers).argmin(axis=1)
        counts = np.bincount(labels, minlength=kk)
        sums = np.zeros_like(centers)
        np.add.at(sums, labels, Q)
        filled = counts > 0
        centers[filled] = sums[filled] // counts[filled, None]
    return centers


def _train_ivf_int(train, project, k: int, max_iter: int) -> np.ndarray:
    """Integer IVF cells: init keys md5_60('km:id'), then integer Lloyd
    over the ``project``-ed training sample ``train = (ids, X)``."""
    ids, X = train
    keys = [(_md5_h60_py(f"km:{int(i)}"), int(i)) for i in ids]
    return _kmeans_int(project(X), keys, k, max_iter)


def _train_pq_int(
    train, grid: _Grid, codebook_size: int, max_iter: int
) -> np.ndarray:
    """The shared integer PQ codebook: project the training sample
    ``train = (ids, X)`` onto ``grid``, pool its 8 subvector slices and
    fit one codebook with integer Lloyd (init keys
    md5_60('<tag>:id:slice')). Codes are then exact int argmins and the
    ADC table holds integer dots (:func:`_pq_int_codecs`) — no float
    enters the shortlist, so a SQL oracle replays training, encoding
    and ranking bit-for-bit."""
    ids, X = train
    sub = _subspace_width(X)
    pooled = grid.project(X).reshape(len(X) * 8, sub)
    keys = [
        (_md5_h60_py(f"{grid.tag}:{int(i)}:{s}"), int(i) * 8 + s)
        for i in ids
        for s in range(8)
    ]
    return _kmeans_int(pooled, keys, codebook_size, max_iter)


def _pq_int_codecs(codebook: np.ndarray, grid: _Grid):
    """(codes_udf, lut_udf) over a FIXED integer codebook on ``grid`` —
    shared by the one-shot operators and the persisted index, whose
    appends and serves must encode with the STORED quantizers."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType, LongType

    CB = np.asarray(codebook, dtype=np.int64)
    sub = CB.shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def codes(vectors: pd.Series) -> pd.Series:
        g = grid.project(_stack_np(vectors)).reshape(-1, sub)
        lab = _nearest_cells(_int_sq_dists(g, CB), 1)
        return pd.Series(list(lab.reshape(-1, 8)))

    @pandas_udf(ArrayType(LongType()))
    def lut(vectors: pd.Series) -> pd.Series:
        return pd.Series(
            list(_int_lut(grid.project(_stack_np(vectors)), CB, grid.shift))
        )

    return codes, lut


def _unit_dists(centers: np.ndarray):
    """Float cell geometry: squared L2 from unit-normalized vectors to
    ``centers``."""
    G = np.asarray(centers, dtype=np.float64)
    return lambda X: _sq_dists_np(_unit_np(X), G)


def _grid_dists(centers: np.ndarray, project):
    """Integer cell geometry: exact int64 squared L2 from the
    ``project``-ed fixed-point vectors to ``centers``."""
    G = np.asarray(centers, dtype=np.int64)
    return lambda X: _int_sq_dists(project(X), G)


def _ivf_cell_udf(dists):
    """Arrow-batched IVF cell assignment: each vector's nearest cell
    under ``dists`` (batch -> (rows, cells) distances) — one matmul per
    batch instead of a per-row nested-lambda argmin expression
    (interpreted, ~µs/element)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    @pandas_udf(IntegerType())
    def cell(vectors: pd.Series) -> pd.Series:
        return pd.Series(_nearest_cells(dists(_stack_np(vectors)), 1)[:, 0])

    return cell


def _ivf_probe_udf(dists, nprobe: int):
    """Arrow-batched IVF probe: the ``nprobe`` nearest cells per vector
    under ``dists``, nearest first, ties to the lower cell id."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    @pandas_udf(ArrayType(IntegerType()))
    def probe(vectors: pd.Series) -> pd.Series:
        return pd.Series(list(_nearest_cells(dists(_stack_np(vectors)), nprobe)))

    return probe


def _opq_rotation(train_X: np.ndarray, m: int) -> np.ndarray:
    """OPQ-style orthonormal rotation (Ge et al. 2013, the
    eigenvalue-allocation variant): PCA-decorrelate the (normalized)
    training sample, then GREEDILY deal the principal directions to
    the ``m`` subspaces so each subspace's eigenvalue PRODUCT stays
    balanced — product quantization splits the vector into blind
    slices, and on anisotropic data the raw slicing gives a few
    subspaces all the variance (codebooks there saturate while the
    rest encode noise). The rotation is orthonormal, so cosine/L2
    geometry — and the exact re-rank — are untouched; only the code
    assignment improves. Returns R with the convention
    ``rotated = x @ R`` (columns are the permuted eigenvectors).
    The sample's width must divide into ``m``."""
    X = _unit_np(np.asarray(train_X, dtype=np.float64))
    d = X.shape[1]
    sub = d // m
    mean = X.mean(axis=0)
    cov = (X - mean).T @ (X - mean) / max(1, len(X))
    evals, evecs = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(evals)[::-1]
    evals = np.clip(evals[order], 0.0, None)
    evecs = evecs[:, order]
    # eigenvalue allocation as LPT scheduling on log-eigenvalues:
    # balancing per-subspace PRODUCTS = balancing SUMS of log λ. The
    # logs are negative (unit-normalized data ⇒ λ < 1), so the naive
    # "give the next eigen-dim to the smallest-product bucket" greedy
    # degenerates (whichever bucket receives the first factor has the
    # smallest product forever — identity allocation). LPT on the
    # magnitudes is the classic fix: place the most extreme log first,
    # each into the non-full bucket whose running sum is currently
    # LARGEST (least negative), which equalizes the final sums.
    logs = np.log(np.maximum(evals, 1e-12))
    totals = np.zeros(m)
    counts = np.zeros(m, dtype=int)
    slots: list[list[int]] = [[] for _ in range(m)]
    for i in sorted(range(d), key=lambda i: logs[i]):
        j = max(
            (jj for jj in range(m) if counts[jj] < sub),
            key=lambda jj: totals[jj],
        )
        slots[j].append(i)
        totals[j] += logs[i]
        counts[j] += 1
    perm = [i for block in slots for i in block]
    return np.ascontiguousarray(evecs[:, perm])


def _pq_context(train_X: np.ndarray, max_iter: int):
    """Train the shared OPQ-rotated float PQ codebook on the
    driver-side sample ``train_X`` and return ``(codes_udf, lut_udf)``:
    the Arrow-batched argmin encode and the per-query lookup table
    (the dot of every rotated subvector slice with every codeword,
    flattened (8·k,)). One small fit instead of an MLlib fit whose
    per-iteration scheduling cost dwarfs the math.

    Encode and LUT are pandas UDFs, not higher-order-function
    expressions, for the same measured reason as
    :func:`_md5_bucket_signatures`: the pure-expression encode is
    m × codebook_size nested lambda folds evaluated interpreted per
    row (plus a per-element norm recompute inside the normalize
    lambda) — ~15 s for 2k × 64-dim vectors vs milliseconds for one
    (n·m, sub) @ (sub, k) matmul per Arrow batch. The codebook rides
    the closure (a few KB), not a crossJoined relation."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType

    sub = _subspace_width(train_X)
    # ONE shared-codebook fit over all pooled m·n subvector slices of
    # the rotated unit-normalized training sample; reshape(-1, sub)
    # lays the m slices of each row out consecutively — same pooling
    # an explode would produce. Cap the pooled set so the Lloyd
    # distance matrix stays small even at the full _TRAIN_SAMPLE.
    # The OPQ rotation decorrelates + balances variance across the m
    # subspaces BEFORE pooling, so the shared codebook trains on the
    # same geometry the encode path will see; it is fully
    # deterministic from the training sample (mean/cov/eigh + greedy
    # allocation) — deliberately NOT seed-controlled
    R = _opq_rotation(train_X, 8)
    pooled = (_unit_np(train_X) @ R).reshape(-1, sub)
    pool_cap = 1 << 17
    if len(pooled) > pool_cap:
        idx = np.random.RandomState(42).choice(
            len(pooled), size=pool_cap, replace=False
        )
        pooled = pooled[idx]
    C = _kmeans_np(pooled, 64, 42, max_iter)

    @pandas_udf(ArrayType(IntegerType()))
    def codes(vectors: pd.Series) -> pd.Series:
        X = _unit_np(_stack_np(vectors)) @ R
        lab = _nearest_cells(_sq_dists_np(X.reshape(-1, sub), C), 1)
        return pd.Series(list(lab.reshape(-1, 8)))

    @pandas_udf(ArrayType(DoubleType()))
    def lut(vectors: pd.Series) -> pd.Series:
        X = _unit_np(_stack_np(vectors)) @ R
        return pd.Series(list((X.reshape(len(X), 8, sub) @ C.T).reshape(len(X), -1)))

    return codes, lut


def _md5_sign_planes(num_planes: int, dim: int) -> "np.ndarray":
    """±1 hyperplane entries from md5 bit parity: entry (p, j) is +1
    iff the first hex digit of md5('hp:p:j') is odd. Rademacher
    planes are a standard SimHash choice (Charikar 2002 needs only a
    sign-symmetric distribution, and Achlioptas 2001 shows ±1
    projections preserve angles like Gaussians); deriving them from
    md5 makes the SQL oracle reproduce the exact matrix."""
    import hashlib

    signs = np.empty((num_planes, dim), dtype=np.int64)
    for p in range(num_planes):
        for j in range(dim):
            digit = hashlib.md5(f"hp:{p}:{j}".encode()).hexdigest()[0]
            signs[p, j] = 1 if int(digit, 16) % 2 else -1
    return signs


def _md5_bucket_signatures(
    num_tables: int, planes_per_table: int, dim: int
):
    """Integer-exact all-tables signature column: coordinates
    quantized to fixed-point int64 (:data:`_FIXED_SCALE`, unshifted:
    quantizing with ONE IEEE multiply + floor makes every plane dot an
    exact int64 sum — order-independent, so numpy matmul here equals
    DuckDB's list fold bit-for-bit), dots an int64 matmul against the
    ±1 plane matrix, bucket = Σ 2^i·(dot_i > 0) per table. Every step
    is replayable in ANSI SQL, which is what makes the LSH queries
    hash-oracled.

    One Arrow-batched matmul computes every table's bucket per vector.
    A pure-expression alternative (one column expression per table)
    would be JVM-side but codegens num_tables × planes_per_table
    chained lambda folds — measured ~7s of fixed plan/compile cost at
    40 planes regardless of data size; this is the sanctioned
    pandas-UDF case (built-ins express it, but pathologically)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    signs = _md5_sign_planes(num_tables * planes_per_table, dim)
    weights = (2 ** np.arange(planes_per_table)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def buckets(vectors: pd.Series) -> pd.Series:
        q = np.floor(_stack_np(vectors) * _FIXED_SCALE).astype(np.int64)
        bits = (q @ signs.T) > 0  # (n, T*r), exact integer dots
        per_table = [
            bits[:, t * planes_per_table : (t + 1) * planes_per_table]
            @ weights
            for t in range(num_tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    return buckets


def lsh_table_buckets(
    df: DataFrame,
    id_alias: str,
    vec_col: str,
    signature,
    spread: bool = True,
) -> DataFrame:
    """(id, vec, table, bucket) rows — one row per LSH table.

    Multi-table construction: each table uses its own slice of
    hyperplanes; a pair is a candidate if it collides in ANY table.
    Recall per table p^r compounds to 1-(1-p^r)^L overall.

    ``spread=False`` skips the narrow-input repartition — pass it for
    the query side of a top-k search, which is tiny by construction
    and about to be broadcast anyway; paying a shuffle plus a 32-batch
    Arrow stage to fan out 20 rows costs more than the matmul saves.

    ``signature`` is the bucket UDF (:func:`_md5_bucket_signatures`).
    """
    from .text import spread_small_input

    # spread narrow inputs so the Arrow signature batches use every
    # core (a single parquet file otherwise pins the matmul to one)
    if spread:
        df = spread_small_input(df)
    # posexplode_outer + post-explode null filter: the non-outer form
    # plants an implicit size>0 predicate on the UDF column, which
    # ExtractPythonUDFs splits into TWO ArrowEvalPython stages — the
    # signature batch ran twice per vector. Filtering the GENERATED
    # column keeps one Python pass with identical semantics (outer
    # rows from empty/NULL signatures carry NULL table/bucket).
    return (
        df.select(
            F.col(id_alias),
            F.col(vec_col),
            F.posexplode_outer(signature(F.col(vec_col))).alias(
                "table", "bucket"
            ),
        )
        .where(F.col("bucket").isNotNull())
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    max_iter: int = 5,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the
    corpus into cells; each query probes its ``nprobe`` nearest cells
    and brute-forces only within them.

    The scale shape: centroids are trained on a bounded driver-side
    sample (:func:`_train_vectors_by_id` — quantizer geometry converges
    long before the corpus is exhausted; training distributed pays
    per-iteration scheduling that dwarfs the math) and ride the cell
    and probe UDF closures; the corpus is scanned ONCE, assigning each
    vector its cell with a closed-form argmin — no ML model state on
    executors, ever. Per query the candidate set shrinks by
    ~nprobe/num_centroids.

    The k-means is md5-seeded and FIXED-POINT integer
    (:func:`_train_ivf_int`) on the raw (unnormalized) vectors:
    training, cell assignment, and probes are engine-exact integer
    relations a SQL oracle replays."""
    from .text import spread_small_input

    centers = _train_ivf_int(
        _train_vectors_by_id(corpus), _quantize_np, num_centroids, max_iter
    )
    dists = _grid_dists(centers, _quantize_np)
    # spread narrow inputs so the Arrow cell-assign batches use every
    # core (same rationale as lsh_table_buckets)
    assigned = spread_small_input(_as_corpus(corpus)).select(
        "neighbor_id",
        "cv",
        # coalesce makes the join key non-nullable (the UDF never
        # returns null — argmin is total): without it Spark inserts an
        # isnotnull(cell) filter under the join whose UDF extraction
        # runs the cell assignment TWICE (two stacked ArrowEvalPython
        # stages over the full corpus); plan pinned in
        # tests/test_plan_quality.py
        F.coalesce(_ivf_cell_udf(dists)(F.col("cv")), F.lit(-1)).alias("cell"),
    )
    probes = _as_queries(queries).select(
        "query_id",
        "qv",
        F.explode(_ivf_probe_udf(dists, nprobe)(F.col("qv"))).alias("cell"),
    )
    cn = with_norm(assigned, "cv", "cn")
    qn = with_norm(probes, "qv", "qn")
    return _topk(
        _scored(cn.join(F.broadcast(qn), "cell"), _cosine("q", "c").alias("cosine")),
        k,
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_tables: int = 8,
    planes_per_table: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH generates
    candidates (union over tables), exact cosine re-ranks them.

    Recall < 1 by design — tune num_tables/planes_per_table for the
    corpus's similarity profile (more tables → recall↑ candidates↑).
    At 100 TB the (table, bucket) join replaces the full corpus scan
    per query; buckets partition evenly because hyperplane signs are
    balanced. The signatures are integer-exact ±1 planes a SQL oracle
    replays (see :func:`_md5_bucket_signatures`)."""
    signature = _md5_bucket_signatures(num_tables, planes_per_table, dim)
    q = lsh_table_buckets(
        _as_queries(queries), "query_id", "qv", signature, spread=False
    )
    c = lsh_table_buckets(_as_corpus(corpus), "neighbor_id", "cv", signature)
    qn = with_norm(q, "qv", "qn")
    cn = with_norm(c, "cv", "cn")
    # cosine is computed per COLLISION row (before dedup): a pair
    # colliding in several tables computes the same dot a few extra
    # times (64 mults each — trivial), but the multi-table dedup then
    # shuffles only (query_id, neighbor_id, cosine) — 24 bytes/row —
    # instead of two 64-dim vectors (~1 KB/row). max() is an exact
    # dedup because duplicate rows carry identical cosines.
    pairs = (
        _scored(
            cn.join(F.broadcast(qn), ["table", "bucket"]),
            _cosine("q", "c").alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _topk(pairs, k)


def _adc_score(codes_col, codebook_size: int):
    """The ADC score of a (codes, lut) pair: the sum of 8 LUT lookups
    (``codebook_size`` codewords per subspace: the trained codebook's
    length, 64 unless the training sample had fewer than 8 vectors),
    unrolled and lambda-free — whole-stage
    codegen keeps the per-pair hot loop JVM-compiled (this runs once per
    candidate pair, the widest relation in the plan)."""
    terms = [
        F.element_at(
            F.col("lut"),
            F.lit(j * codebook_size + 1) + F.element_at(codes_col, j + 1),
        )
        for j in range(8)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


def _adc_rerank(
    candidates: DataFrame,
    corpus_vecs: DataFrame,
    query_vecs: DataFrame,
    k: int,
    codebook_size: int,
) -> DataFrame:
    """Standard PQ second stage: the ADC score of each candidate
    (query_id, neighbor_id, codes, lut) row only SHORTLISTS (``k × 10``
    per query); exact cosine over ``corpus_vecs`` (neighbor_id, cv) and
    ``query_vecs`` (query_id, qv) re-ranks the shortlist — quantization
    noise decides nothing final, and the exact math runs on k×factor
    rows per query, not the corpus."""
    short = _ranked(
        _scored(
            candidates,
            _adc_score(F.col("codes"), codebook_size).alias("adc_score"),
        ),
        "adc_score",
        k * 10,
    ).select("query_id", "neighbor_id")
    cn = with_norm(corpus_vecs, "cv", "cn")
    qn = with_norm(query_vecs, "qv", "qn")
    reranked = (
        # the shortlist is queries × k × factor rows — broadcast it so
        # the corpus re-read streams map-side instead of sort-merging
        # (AQE would usually rescue this, but the initial plan should
        # already be right)
        cn.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .select("query_id", "neighbor_id", _cosine("q", "c").alias("cosine"))
    )
    return _topk(reranked, k)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_iter: int = 5,
    rotate: bool = False,
) -> DataFrame:
    """Product-quantization ANN with ADC (asymmetric distance
    computation) scoring: the corpus is stored as 8 small codes (of a
    64-entry codebook) per vector instead of ``d`` floats, each query
    scores a candidate with 8 lookup-table adds instead of ``d``
    multiplies, and the quantized score shortlists ``k × 10`` candidates
    that exact cosine re-ranks (quantization noise never decides the
    final ranking).

    Spark-first construction, no ML-model state on executors: one
    shared-codebook k-means over all pooled subvector slices of a
    bounded driver-side sample (a single fit instead of 8 — a
    standard PQ simplification; see :func:`_train_vectors_by_id`),
    md5-seeded integer Lloyd (:func:`_train_pq_int`) so a SQL oracle
    replays training, encoding and the shortlist; ``rotate=True``
    pre-rotates with the ±1 Walsh-Hadamard matrix
    (:data:`_HADAMARD_GRID`). The codebook rides the UDF closure (a
    few KB); encode/LUT are Arrow-batched matmuls and the per-pair ADC
    score is a lambda-free codegen-able sum — no ML model call at
    scoring time, no per-row Python in the pair loop. The 100 TB win:
    the corpus side of the score join carries 8-byte code arrays, not
    256-byte float vectors (codes for 1e9×64-dim fit in ~8 GB).

    Brute ADC over all (query, candidate) pairs — see
    :func:`cosine_topk_ivfpq` for the cell-pruned composition.
    Approximate by design (recall floor pinned in
    tests/test_llm_similarity.py).
    """
    from .text import spread_small_input

    grid = _HADAMARD_GRID if rotate else _UNIT_GRID
    codebook = _train_pq_int(_train_vectors_by_id(corpus), grid, 64, max_iter)
    codes_udf, lut_udf = _pq_int_codecs(codebook, grid)
    coded = spread_small_input(_as_corpus(corpus)).select(
        "neighbor_id", codes_udf(F.col("cv")).alias("codes")
    )
    q = _as_queries(queries).select("query_id", lut_udf(F.col("qv")).alias("lut"))
    return _adc_rerank(
        coded.crossJoin(F.broadcast(q)),
        _as_corpus(corpus),
        _as_queries(queries),
        k,
        len(codebook),
    )


def _encode_ivfpq(corpus: DataFrame, cell_udf, codes_udf) -> DataFrame:
    """(id, vector, cell, codes): the corpus encoded in ONE pass — the
    cell and codes UDFs run in the same ArrowEvalPython stage."""
    from .text import spread_small_input

    return spread_small_input(
        corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    ).select(
        "id",
        "vector",
        # non-nullable join key — see cosine_topk_ivf: keeps both UDFs
        # in ONE ArrowEvalPython stage instead of an extra full-corpus
        # cell pass under the join's null filter
        F.coalesce(cell_udf(F.col("vector")), F.lit(-1)).alias("cell"),
        codes_udf(F.col("vector")).alias("codes"),
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    max_iter: int = 5,
    rotate: bool = False,
) -> DataFrame:
    """IVF + PQ — the canonical billion-scale ANN pipeline, composed
    from this module's two halves:

    - **IVF prunes compute**: k-means cells partition the corpus; each
      query probes only its ``nprobe`` nearest cells, so the candidate
      join is an EQUI-join on ``cell`` (a plain shuffled/broadcast
      hash join) touching ~``nprobe``/16 of the corpus's 16 cells —
      never an all-pairs scan;
    - **PQ prunes memory**: within probed cells, candidates are scored
      by ADC over 8-byte code arrays, not 256-byte float vectors;
    - **exact re-rank**: the quantized score shortlists
      ``k × 10``; exact cosine decides the final top-k.

    Cell centroids and the PQ codebook are both trained driver-side on
    one bounded sample (collected once, fed to both quantizers) and
    ride the UDF closures — the scoring join has no ML state and no
    Python; the corpus is scanned ONCE, producing (cell, codes) per
    vector. Approximate by design (recall floor pinned in
    tests/test_llm_similarity.py); recall knob: ``nprobe`` (cell
    coverage).

    Unrotated, both quantizers are md5-seeded integer Lloyd on one
    fixed-point grid (:func:`_train_ivf_int`, :func:`_train_pq_int` on
    the :func:`_train_vectors_by_id` sample), so a SQL oracle replays
    the whole compose; :mod:`.index` persists exactly this form.
    ``rotate=True`` is OPQ (:func:`_opq_rotation`): float quantizers
    seeded by 42 on the :func:`_train_vectors` sample, since the
    learned rotation is an eigendecomposition no SQL replays.
    """
    if rotate:
        train_X = _train_vectors(corpus)
        codes_udf, lut_udf = _pq_context(train_X, max_iter)
        codebook_size = 64  # float Lloyd always returns k centers
        # IVF cells on the unit vectors (cosine geometry)
        dists = _unit_dists(_kmeans_np(_unit_np(train_X), 16, 42, max_iter))
    else:
        train = _train_vectors_by_id(corpus)
        codebook = _train_pq_int(train, _UNIT_GRID, 64, max_iter)
        codes_udf, lut_udf = _pq_int_codecs(codebook, _UNIT_GRID)
        codebook_size = len(codebook)
        # IVF cells on the QUANTIZED unit vectors (cosine geometry,
        # integer Lloyd — same grid as the PQ codebook)
        dists = _grid_dists(
            _train_ivf_int(train, _unit_fixed, 16, max_iter), _unit_fixed
        )
    coded = _encode_ivfpq(corpus, _ivf_cell_udf(dists), codes_udf).select(
        F.col("id").alias("neighbor_id"), "cell", "codes"
    )
    # query side: nprobe nearest cells (probed in unit space — cell
    # geometry is cosine) + the ADC LUT, in one pass
    probes = _as_queries(queries).select(
        "query_id",
        lut_udf(F.col("qv")).alias("lut"),
        F.explode(_ivf_probe_udf(dists, nprobe)(F.col("qv"))).alias("cell"),
    )
    return _adc_rerank(
        coded.join(F.broadcast(probes), "cell"),
        _as_corpus(corpus),
        _as_queries(queries),
        k,
        codebook_size,
    )
