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

Small graphs skip the loop: ``connected_components`` collects at most
:data:`SMALL_EDGE_LIMIT` + 1 edge rows as given in one Arrow job
(no reverse union, no distinct, no separate count job before the
decision), and when they fit, driver-side union-find labels them and
the labels return as an Arrow-built local relation.
``duplicate_clusters`` broadcasts such labels into its singleton
anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..sources.parquet import local_relation


class ComponentsNotConverged(RuntimeError):
    """Label propagation exhausted max_iter with labels still changing
    — the returned components would silently split chain-shaped
    clusters."""


#: at or below this many edge rows (as given: each undirected pair
#: once, duplicates included) the component fixpoint runs as
#: driver-side union-find instead of the distributed loop — same
#: policy as the BPE trainer's in-process path: state that is DRIVER
#: METADATA (a few hundred thousand edge rows) should not schedule
#: O(diameter) distributed rounds. 2M rows of two longs ≈ 32 MB.
SMALL_EDGE_LIMIT = 2_000_000


def _driver_union_find(vs: list, ns: list) -> tuple[list, list]:
    """Min-root union-find over the collected edges ``vs[i]–ns[i]`` —
    exactly the hash-min fixpoint (component = min reachable id),
    because unions always attach the larger root under the smaller. A
    union is symmetric, so each undirected edge is needed once, in
    either direction. Returns (vertices, components) as two parallel
    lists."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for v, n in zip(vs, ns):
        a, b = find(v), find(n)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    vertices = list(parent)
    return vertices, [find(v) for v in vertices]


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

    The edge projection is persisted and at most ``small_edge_limit``
    + 1 of its rows (default :data:`SMALL_EDGE_LIMIT`) are collected
    through Arrow — one bounded job, no separate count. When the edges
    fit, they resolve on the driver with union-find (near-dup edge
    relations are usually tiny next to the corpus that produced them,
    and O(E·α) in-process beats scheduling O(diameter) distributed
    rounds by an order of magnitude), and the labels come back as an
    Arrow-built local relation (a ``LocalTableScan`` with the caller's
    id type; no Python worker scans it). Larger graphs run the hash-min
    label-propagation loop over the persisted edges (one join + one
    materialization per round, convergence check riding the round's
    own job as an Observation). Both paths compute the identical
    fixpoint; pass ``small_edge_limit=0`` to force the distributed
    loop.

    If labels are still changing after ``max_iter`` passes (graph
    diameter > max_iter — e.g. one long duplicate chain), the labels
    are WRONG (a component would be split), so it raises
    :class:`ComponentsNotConverged` rather than return them.
    """
    und = edges.select(F.col(src).alias("v"), F.col(dst).alias("n")).persist()
    limit = SMALL_EDGE_LIMIT if small_edge_limit is None else small_edge_limit
    # an Arrow collect of a limit is one job at any partition count
    # (a Row collect of a limit scans partitions in growing rounds)
    head = und.limit(limit + 1).toArrow()
    if head.num_rows <= limit:
        und.unpersist()
        vt = und.schema["v"].dataType  # keep the caller's id type
        return local_relation(
            edges.sparkSession,
            StructType([StructField("vertex", vt), StructField("component", vt)]),
            *_driver_union_find(
                head.column("v").to_pylist(), head.column("n").to_pylist()
            ),
        )

    adj = (
        und.unionByName(und.select(F.col("n").alias("v"), F.col("v").alias("n")))
        .distinct()
        .persist()
    )
    labels = (
        adj.select("v")
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    und.unpersist()  # adj is materialized now

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
    paired = clustered.select(id_col)
    if comp.isLocal():
        # union-find labels are driver-resident (bounded by
        # SMALL_EDGE_LIMIT), so broadcasting them costs no new driver
        # memory; without the hint the no-static-broadcast session
        # policy shuffles the corpus-sized id side before AQE promotes.
        # The distributed path's labels are corpus-sized: no hint.
        paired = F.broadcast(paired)
    singletons = (
        all_ids.select(id_col)
        .join(paired, id_col, "left_anti")
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
