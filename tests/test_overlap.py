"""Source-overlap analytics (llm/overlap.py): MinHash sketch error
floor against the exact overlap, mergeability shape, HLL cardinality."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm.overlap import (
    group_minhash_signatures,
    group_overlap_minhash,
)
from etl_procedure_codes_crawler_spark.plans.relational import load


class TestMinhashOverlap:
    def test_estimate_within_sketch_error_of_exact(
        self, spark, sf_dir, exact_group_overlap
    ):
        docs = load(spark, sf_dir, "documents")
        exact = {
            pair: r["jaccard"] for pair, r in exact_group_overlap(docs).items()
        }
        est = {
            (r["group_a"], r["group_b"]): r["est_jaccard"]
            for r in group_overlap_minhash(docs).collect()
        }
        # every exact pair appears; disjoint pairs may appear with ~0
        for pair, j in exact.items():
            assert pair in est
            # 64 slots -> se ~ sqrt(J(1-J)/64) <= 0.0625; 3 sigma + slack
            assert abs(est[pair] - j) <= 0.25, (pair, j, est[pair])
        for pair, e in est.items():
            if pair not in exact:  # truly disjoint sources
                assert e <= 0.25

    def test_signatures_merge_map_side(self, spark, sf_dir):
        """The sketch pass must partially aggregate: two HashAggregate
        levels around one exchange, with no row-level shuffle of the
        shingle relation after the distinct."""
        docs = load(spark, sf_dir, "documents")
        plan = (
            group_minhash_signatures(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "partial_min" in plan or "partial_first" in plan or (
            plan.count("HashAggregate") >= 2
        )

    def test_deterministic(self, spark, sf_dir):
        docs = load(spark, sf_dir, "documents")
        a = sorted(group_overlap_minhash(docs).collect())
        b = sorted(group_overlap_minhash(docs).collect())
        assert a == b


class TestHllCardinality:
    def test_estimates_within_sketch_error_of_exact(self, spark, sf_dir):
        from etl_procedure_codes_crawler_spark.llm.overlap import (
            _group_shingles,
            group_cardinality_estimates,
        )

        docs = load(spark, sf_dir, "documents")
        est = {
            r.group: r.est_distinct
            for r in group_cardinality_estimates(docs).collect()
        }
        sh = _group_shingles(docs, "source", "text", 3)
        exact = {
            r.grp: r.n
            for r in sh.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        total_exact = sh.select("shingle").distinct().count()
        # lg_config_k=12 -> se ~1.6%; 3 sigma + slack
        for grp, n in exact.items():
            assert abs(est[grp] - n) / n <= 0.08, (grp, n, est[grp])
        assert abs(est[None] - total_exact) / total_exact <= 0.08
        # union row present exactly once, >= any single source
        assert sum(1 for g in est if g is None) == 1
        assert est[None] >= max(v for g, v in est.items() if g is not None)

    def test_single_scan_rollup_plan(self, spark, sf_dir):
        """Per-group + grand-total come from ONE rollup aggregation —
        exactly one scan of the documents table in the plan."""
        from etl_procedure_codes_crawler_spark.llm.overlap import (
            group_cardinality_estimates,
        )

        docs = load(spark, sf_dir, "documents")
        plan = (
            group_cardinality_estimates(docs)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("Relation") == 1
        assert "Expand" in plan  # the rollup grouping sets
