"""Connected components / duplicate clustering (llm/cluster.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm.cluster import (
    ComponentsNotConverged,
    connected_components,
    duplicate_clusters,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r.vertex: r.component for r in connected_components(df).collect()
    }


def test_chain_collapses_to_min(spark):
    # 1-2-3-4 chain: diameter 3, all label to 1
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components_stay_separate(spark):
    got = _cc(spark, [(1, 2), (10, 11), (11, 12), (20, 21)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cycle_and_cross_edges(spark):
    got = _cc(spark, [(5, 6), (6, 7), (7, 5), (7, 3)])
    assert set(got.values()) == {3}


def test_long_chain_converges(spark):
    n = 12  # diameter > a couple iterations: exercises the loop
    got = _cc(spark, [(i, i + 1) for i in range(1, n)])
    assert set(got.values()) == {1}
    assert len(got) == n


def test_unconverged_raises_instead_of_wrong_labels(spark):
    """Diameter > max_iter used to return silently-split components;
    now it raises."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    # force the distributed loop: the driver fast path has no
    # iteration bound (union-find always converges)
    with pytest.raises(ComponentsNotConverged, match="did not converge"):
        connected_components(chain, max_iter=2, small_edge_limit=0)


def test_duplicate_clusters_with_singletons(spark):
    pairs = spark.createDataFrame([(2, 5), (5, 9)], "doc_a long, doc_b long")
    all_ids = spark.createDataFrame([(i,) for i in (1, 2, 5, 9, 42)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in duplicate_clusters(pairs, all_ids).collect()
    }
    assert got == {1: 1, 2: 2, 5: 2, 9: 2, 42: 42}
    survivors = {k for k, v in got.items() if k == v}
    assert survivors == {1, 2, 42}


def test_clusters_from_real_minhash_pairs(spark, sf_dir):
    from etl_procedure_codes_crawler_spark.llm.dedup import minhash_near_dup_pairs
    from etl_procedure_codes_crawler_spark.plans.relational import load

    documents = load(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(documents)
    clusters = duplicate_clusters(pairs, documents, id_col="doc_id")
    assert clusters.count() == documents.count()  # total partition of ids
    # cluster representative is always the min id of its cluster
    bad = (
        clusters.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("min_id"))
        .filter(F.col("cluster_id") != F.col("min_id"))
        .count()
    )
    assert bad == 0


class TestKeepBestInCluster:
    def test_argmax_and_ties(self, spark):
        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (20, 20), (21, 20)],
            "doc_id bigint, cluster_id bigint",
        )
        scored = spark.createDataFrame(
            [(1, 0.1), (2, 0.9), (3, 0.9), (10, 0.5), (20, 0.4), (21, 0.4)],
            "doc_id bigint, score double",
        )
        out = {
            r.doc_id: r
            for r in CL.keep_best_in_cluster(clusters, scored).collect()
        }
        assert len(out) == 6
        # best score wins; tie at 0.9 breaks to lower id (2)
        assert out[2].keep and not out[3].keep and not out[1].keep
        assert out[10].keep  # singleton
        assert out[20].keep and not out[21].keep  # tie -> lower id
        # exactly one survivor per cluster
        per = {}
        for r in out.values():
            per[r.cluster_id] = per.get(r.cluster_id, 0) + (1 if r.keep else 0)
        assert all(v == 1 for v in per.values())

    def test_window_is_cluster_partitioned(self, spark):
        import re

        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1)], "doc_id bigint, cluster_id bigint"
        )
        scored = spark.createDataFrame(
            [(1, 0.2), (2, 0.3)], "doc_id bigint, score double"
        )
        plan = (
            CL.keep_best_in_cluster(clusters, scored)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # a global (unpartitioned) window would funnel the corpus
        # through one task; the partition spec must be present
        assert re.search(r"Window.*cluster_id", plan)


class TestDriverFastPath:
    EDGES = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (5, 5)]

    def test_paths_agree(self, spark):
        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        pairs = spark.createDataFrame(self.EDGES, "doc_a bigint, doc_b bigint")
        fast = {
            (r.vertex, r.component)
            for r in CL.connected_components(pairs).collect()
        }
        slow = {
            (r.vertex, r.component)
            for r in CL.connected_components(
                pairs, small_edge_limit=0
            ).collect()
        }
        assert fast == slow
        assert (3, 1) in fast and (22, 20) in fast and (5, 5) in fast

    def test_empty_edges(self, spark):
        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
        assert CL.connected_components(pairs).count() == 0

    @pytest.mark.parametrize(
        "id_type, seed", [("int", 1), ("bigint", 2), ("string", 3)]
    )
    def test_random_graphs_match_the_distributed_loop(
        self, spark, id_type, seed
    ):
        """Seeded random graphs with reversed and duplicated edges: the
        union-find labels equal the forced distributed loop's, with the
        caller's id type kept."""
        import random

        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        rng = random.Random(seed)
        ids = [
            f"v{i:03d}" if id_type == "string" else i * 7 for i in range(40)
        ]
        edges = [tuple(rng.sample(ids, 2)) for _ in range(30)]
        edges += [(b, a) for a, b in edges[:8]] + edges[8:14]
        rng.shuffle(edges)
        pairs = spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}")
        fast = CL.connected_components(pairs)
        slow = CL.connected_components(pairs, small_edge_limit=0)
        assert fast.dtypes == [("vertex", id_type), ("component", id_type)]
        assert slow.dtypes == fast.dtypes
        assert sorted(fast.collect()) == sorted(slow.collect())

    @pytest.mark.parametrize("id_type", ["int", "bigint", "string"])
    def test_empty_edges_keep_the_id_type(self, spark, id_type):
        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        pairs = spark.createDataFrame([], f"doc_a {id_type}, doc_b {id_type}")
        comp = CL.connected_components(pairs)
        assert comp.dtypes == [("vertex", id_type), ("component", id_type)]
        assert comp.collect() == []

    def test_labels_are_a_local_relation(self, spark):
        """The union-find labels are an Arrow-built local relation:
        no PythonRDD scan (``ExistingRDD``) for a Python worker."""
        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        pairs = spark.createDataFrame(self.EDGES, "doc_a bigint, doc_b bigint")
        plan = (
            CL.connected_components(pairs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan

    def test_singleton_anti_join_broadcasts_the_labels(self, spark):
        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        pairs = spark.createDataFrame(self.EDGES, "doc_a bigint, doc_b bigint")
        ids = spark.range(30).withColumnRenamed("id", "doc_id")
        clusters = CL.duplicate_clusters(pairs, all_ids=ids)
        plan = clusters._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        assert len(clusters.collect()) == 30

    def test_fast_path_job_count_independent_of_diameter(self, spark):
        from etl_procedure_codes_crawler_spark.llm import cluster as CL

        tracker = spark.sparkContext.statusTracker()

        def jobs(edges):
            pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
            before = len(tracker.getJobIdsForGroup(None) or [])
            CL.connected_components(pairs).collect()
            return len(tracker.getJobIdsForGroup(None) or []) - before

        shallow = jobs([(0, 1), (2, 3)])  # diameter 1
        deep = jobs([(i, i + 1) for i in range(30)])  # diameter 30
        # the distributed loop would add jobs per diameter round; the
        # driver fast path must not
        assert deep == shallow, (shallow, deep)


def test_soft_dedup_weights_per_cluster(spark):
    """1/|cluster| weights: a 3-cluster, a 2-cluster, a singleton."""
    from pyspark.sql import functions as F

    from etl_procedure_codes_crawler_spark.llm import cluster as CL

    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.weight)
        for r in CL.soft_dedup_weights(
            CL.duplicate_clusters(pairs, all_ids=ids)
        ).collect()
    }
    assert out[1] == (1, 3, 1 / 3) and out[2] == (1, 3, 1 / 3)
    assert out[10] == (10, 2, 0.5) and out[11] == (10, 2, 0.5)
    assert out[99] == (99, 1, 1.0)
    # expectation property: weights sum to the number of clusters
    total = sum(w for _c, _s, w in out.values())
    assert abs(total - 3.0) < 1e-12
