"""SemDeDup-style semantic deduplication over embedding vectors.

MinHash/SimHash catch LEXICAL near-duplicates; paraphrases, translations
re-rendered through the same template, and boilerplate rewrites share
almost no shingles yet carry the same information. Semantic dedup finds
them in embedding space: vectors whose cosine similarity clears a
threshold are duplicates, duplicate PAIRS are stitched into clusters,
and one representative (the minimum id — deterministic, replayable)
survives per cluster.

Two modes, mirroring how the ANN family is structured:

- ``num_cells=None`` — EXACT: every pair is compared (the O(n²)
  self-join of :func:`..similarity.similar_pairs_bruteforce`). This is
  the hash-oracled baseline: connected components have a clean
  relational definition (min reachable id), which a recursive-CTE
  oracle recomputes exactly.
- ``num_cells=k`` — the SemDeDup recipe (Abbas et al., 2023,
  arXiv:2303.09540): k-means-cluster the corpus embeddings, compare
  pairs only WITHIN a cell. Pair cost drops from O(n²) to
  O(sum of cell sizes squared) ≈ O(n²/k), and every comparison is
  still an exact cosine — the approximation is solely that a dup pair
  straddling a cell boundary is missed, which the paper (and our
  recall tests) show is rare: near-identical vectors land in the same
  Voronoi cell almost surely. Centroids come from seeded float Lloyd
  (:func:`..similarity._kmeans_np`) on a bounded driver-side sample —
  the float training the OPQ-rotated IVF+PQ cells use, not the
  integer Lloyd of the persisted index — and cells are assigned by the
  shared Arrow-batched probe (:func:`..similarity._ivf_probe_udf`), so
  replaying the dedup on the same corpus keeps the same survivors.

Scale shape (100 TB): the cell join shuffles each vector once on its
cell id; within-cell self-joins are cell-local (no all-pairs exchange);
component labeling shuffles only the PAIR set (dup pairs are a tiny
fraction of the corpus) for O(cluster diameter) ≈ 2-4 iterations; the
survivor anti-join is one broadcast-able projection of the loser ids.
Skewed cells (one giant cell at high k) are the operational risk — the
same star-capping consideration as the LSH bucket join; pick
``num_cells`` so expected cell size keeps |cell|² tractable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cluster import duplicate_clusters
from .similarity import (
    _ivf_probe_udf,
    _kmeans_np,
    _stack_np,
    _train_vectors,
    _unit_dists,
    _unit_np,
    similar_pairs_bruteforce,
)


def _pairs_within_cells(
    df: DataFrame,
    threshold: float,
    num_cells: int,
    probes: int,
) -> DataFrame:
    """(vec_a, vec_b, cosine) for shared-cell pairs clearing
    ``threshold``.

    Centroids train on the normalized sample (cosine geometry — the
    IVF+PQ cells do the same); each vector is assigned to its
    ``probes`` nearest cells (multi-probe assignment — a dup pair
    straddling one Voronoi boundary still shares a cell, which is
    where most of the single-assignment recall loss lives). Each cell
    is then scored as ONE BLAS matmul inside ``applyInPandas``: the
    cell's normalized vectors form a matrix, ``X @ X.T`` yields every
    within-cell cosine at once, and only the upper-triangle entries
    clearing the threshold are emitted. A join-then-fold formulation
    would move two vectors per CANDIDATE PAIR and evaluate an
    interpreted 64-term fold per pair (measured ~4x slower at sf0.1);
    here each vector crosses Arrow once per probe and the pair math is
    vectorized. Pairs sharing several probed cells are deduplicated
    after the fact (cheap: duplicates are bounded by probes²).
    """
    import pandas as pd

    sample = _unit_np(_train_vectors(df))
    centroids = _kmeans_np(sample, num_cells, seed=42, max_iter=10)
    probe_of = _ivf_probe_udf(_unit_dists(centroids), probes)
    v = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    ).withColumn("cell", F.explode(probe_of(F.col("v"))))

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        ids = pdf["id"].to_numpy()
        X = _unit_np(_stack_np(pdf["v"]))
        S = X @ X.T
        iu, ju = np.triu_indices(n, k=1)
        vals = S[iu, ju]  # gather the O(n²/2) triangle exactly once
        hit = vals >= threshold
        a, b = ids[iu[hit]], ids[ju[hit]]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a, b),
                "vec_b": np.maximum(a, b),
                "cosine": np.round(vals[hit], 4),
            }
        )

    return (
        v.groupBy("cell")
        .applyInPandas(
            cell_pairs, schema="vec_a long, vec_b long, cosine double"
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    num_cells: int | None = None,
    probes: int = 2,
) -> DataFrame:
    """(id, cluster_id, keep) for every row of ``df``: rows whose
    embeddings sit in one semantic-duplicate component share the
    component's minimum id as ``cluster_id``; ``keep`` marks the one
    survivor per cluster (unpaired rows keep themselves). Filter
    ``keep`` to get the deduplicated corpus; the loser set
    (``NOT keep``) is the audit trail of what was dropped and to whom
    it collapsed.

    ``num_cells=None`` compares all pairs (exact — oracle-able);
    ``num_cells=k`` is the SemDeDup cell-scoped scale path (exact
    cosine within k-means cells, each vector multi-probe-assigned to
    its ``probes`` nearest cells; dup pairs sharing no probed cell are
    the documented recall trade). NULL embeddings never pair (they are
    their own singleton cluster); NULL-``id`` rows are DROPPED, the
    lexical dedup family's NULL-key discipline — an unidentifiable row
    can't be deduplicated, and letting it through would emit
    ``keep = NULL`` (NULL == NULL), a three-valued surprise for every
    downstream filter.
    """
    df = df.where(F.col("vec_id").isNotNull())
    if num_cells is None:
        pairs = similar_pairs_bruteforce(df, threshold)
    else:
        if num_cells < 1:
            raise ValueError(f"num_cells must be >= 1, got {num_cells}")
        if probes < 1:
            # probes=0 would silently find zero pairs — a dedup run
            # that deduplicates nothing, with no error
            raise ValueError(f"probes must be >= 1, got {probes}")
        pairs = _pairs_within_cells(
            df.where(F.col("embedding").isNotNull()),
            threshold,
            num_cells,
            probes=min(probes, num_cells),
        )
    clustered = duplicate_clusters(
        pairs,
        all_ids=df.select("vec_id"),
        id_col="vec_id",
        src="vec_a",
        dst="vec_b",
    )
    return clustered.select(
        F.col("vec_id"),
        F.col("cluster_id"),
        (F.col("vec_id") == F.col("cluster_id")).alias("keep"),
    )
