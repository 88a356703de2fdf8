"""Semantic dedup (llm/semdedup.py): exact baseline vs numpy replica,
cell-scoped SemDeDup recall floor, survivor invariants, plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm.semdedup import semantic_dedup
from etl_procedure_codes_crawler_spark.plans.relational import load


def _np_exact_dedup(vecs: dict[int, list[float]], threshold: float):
    """Union-find replica: (id -> component min id)."""
    ids = sorted(vecs)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    arr = {i: np.asarray(v, dtype=np.float64) for i, v in vecs.items()}
    for i in ids:
        for j in ids:
            if i < j:
                na, nb = np.linalg.norm(arr[i]), np.linalg.norm(arr[j])
                if na > 0 and nb > 0:
                    cos = float(arr[i] @ arr[j] / (na * nb))
                    if cos >= threshold:
                        union(i, j)
    return {i: find(i) for i in ids}


class TestExactSemanticDedup:
    def test_matches_numpy_union_find(self, spark):
        rng = np.random.RandomState(5)
        base = rng.randn(6, 8)
        vecs = {}
        for i in range(6):
            vecs[i] = base[i].tolist()
            # near-copy with tiny jitter -> same cluster as i
            vecs[100 + i] = (base[i] + rng.randn(8) * 1e-3).tolist()
        expected = _np_exact_dedup(vecs, 0.95)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs.items()],
            "vec_id long, embedding array<double>",
        )
        got = {
            r["vec_id"]: r["cluster_id"]
            for r in semantic_dedup(df, 0.95).collect()
        }
        assert got == expected
        # every near-copy collapses onto its original (min id wins)
        for i in range(6):
            assert got[100 + i] == i

    def test_survivor_is_component_min_and_null_is_singleton(self, spark):
        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0]),
                (2, [1.0, 0.001]),  # dup of 1
                (3, [0.0, 1.0]),
                (4, None),  # NULL embedding: singleton, never paired
                (None, [1.0, 0.0]),  # NULL id: dropped (key discipline)
            ],
            "vec_id long, embedding array<double>",
        )
        out = semantic_dedup(df, 0.99).collect()
        rows = {r["vec_id"]: r for r in out}
        assert None not in rows and len(out) == 4
        assert rows[1]["keep"] and rows[1]["cluster_id"] == 1
        assert not rows[2]["keep"] and rows[2]["cluster_id"] == 1
        assert rows[3]["keep"] and rows[3]["cluster_id"] == 3
        assert rows[4]["keep"] and rows[4]["cluster_id"] == 4
        # keep <-> id == cluster_id, exactly one survivor per cluster,
        # and NEVER a three-valued keep
        for r in out:
            assert r["keep"] is not None
            assert r["keep"] == (r["vec_id"] == r["cluster_id"])


class TestCellScopedSemDeDup:
    def test_recall_floor_and_no_false_drops(self, spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        exact = semantic_dedup(emb, 0.45).collect()
        cells = semantic_dedup(emb, 0.45, num_cells=8, probes=3).collect()
        exact_dropped = {r["vec_id"] for r in exact if not r["keep"]}
        cells_dropped = {r["vec_id"] for r in cells if not r["keep"]}
        # cell pairs are a SUBSET of exact pairs, so an id dropped by
        # the cell path must also be dropped by the exact path: the
        # approximation loses recall, never precision
        assert cells_dropped <= exact_dropped
        if exact_dropped:
            recall = len(cells_dropped) / len(exact_dropped)
            assert recall >= 0.85, (
                f"cell-scoped recall {recall:.2f} below floor "
                f"({sorted(exact_dropped - cells_dropped)} missed)"
            )

    def test_deterministic_across_runs(self, spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        a = sorted(
            semantic_dedup(emb, 0.45, num_cells=8, probes=3).collect()
        )
        b = sorted(
            semantic_dedup(emb, 0.45, num_cells=8, probes=3).collect()
        )
        assert a == b

    def test_no_cartesian_in_cell_plan(self, spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        # pairs stage only — the component loop is iterative by design
        from etl_procedure_codes_crawler_spark.llm.semdedup import (
            _pairs_within_cells,
        )

        plan = _pairs_within_cells(
            emb.where(F.col("embedding").isNotNull()),
            0.45,
            8,
            probes=2,
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_probes_clamped_to_num_cells(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        # probes default (2) exceeds num_cells=1: must clamp, not crash
        rows = semantic_dedup(df, 0.999, num_cells=1).collect()
        assert len(rows) == 4

    def test_bad_num_cells_raises(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="num_cells"):
            semantic_dedup(df, 0.5, num_cells=0)
