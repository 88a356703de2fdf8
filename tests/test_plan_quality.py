"""Plan-quality regression net: physical-plan properties pinned as
tests, so a refactor that silently degrades a plan (lost pushdown,
join collapsing to a nested loop) fails CI rather than surfacing as a
10× slowdown at scale.
"""

from __future__ import annotations

import re

import pytest

from etl_procedure_codes_crawler_spark.llm import queries  # noqa: F401 — registers
from etl_procedure_codes_crawler_spark.plans.relational import QUERIES

#: queries ALLOWED to plan a broadcast nested-loop / cartesian, each
#: with the reason it is deliberate. Everything else must not.
NESTED_LOOP_EXEMPT = {
    # non-IVF PQ = ADC FULL scan per query by definition (the pruned
    # member of the family is ann_cosine_topk_ivfpq); the md5/Hadamard
    # row has a static plan (integer training) so the scan is visible
    "ann_cosine_topk_hpq": "ADC full-scan baseline (broadcast query side)",
    # group-count-sized sketch-pair expansion: k rows per group crossed
    # with the (bounded) group list — metadata-sized by construction
    "kmv_source_overlap_pairs": "group-count-sized sketch pair expansion",
    # pairwise sketch comparison over the GROUP-sized signature table
    # (one row per source) — non-equi by nature, tiny by construction
    "source_overlap_minhash": "group-count-sized signature pair join",
    # scalar-aggregate thresholds broadcast as 1-row cross joins
    "tfidf_top_terms": "1-row doc-count scalar cross join",
    "vocab_top_terms": "1-row corpus-total scalar cross join",
    # the two 1-row corpus-total aggregates (target + raw) attach to
    # the bucket spine as scalar cross joins — deliberate, documented
    # in PLANS.md; the spine itself stays a broadcast HASH join
    "dsir_importance_topk": "1-row corpus-total scalar cross joins",
}

#: iterative / streaming / ML-training queries where a single static
#: plan string is not meaningful (driver loops, availableNow batches)
SKIP = {
    "bpe_train_merges",  # iterative driver loop, no single static plan
    "forget_documents_roundtrip",  # multi-artifact side-effecting lifecycle
    "dataset_versioning_roundtrip",  # fs-lifecycle plan (manifest commits)
    "kmv_store_incremental_estimate",  # fs-lifecycle (store appends/compact)
    "streaming_hourly_event_counts",
    "ann_cosine_topk_ivf",  # plan depends on trained centroids
    "ann_cosine_topk_pq",  # plan depends on trained codebook
    "ann_cosine_topk_ivfpq",  # plan depends on trained cells + codebook
    "embedding_margin_pairs_ann",  # plan depends on trained IVF centroids
    "unigram_fertility_by_source",  # trains first — plan rides learned pieces
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute the frame and return the FINAL adaptive plan section
    (what actually ran: AQE join promotions, AQEShuffleRead,
    exchange/stage reuse), without the '== Initial Plan ==' echo."""
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def _materialized_shuffles(final_plan: str) -> set[str]:
    """Distinct plan_ids of hash-partitioning exchanges that actually
    materialized — a ReusedExchange echoes its original's plan_id, so
    the set naturally counts reused stages once. (ADVICE r12: this
    leans on the Spark 4.1 toString detail that a ReusedExchange line
    embeds the original's 'Exchange hashpartitioning ... [plan_id=N]'
    text; the sanity assertion below fails loudly if a format change
    ever stops ANY exchange from matching, rather than silently
    weakening the <=3/<=4 invariants.)"""
    import re

    ids = set(
        re.findall(
            r"Exchange hashpartitioning[^\n]*?\[plan_id=(\d+)\]", final_plan
        )
    )
    # a plan that mentions hash exchanges but yields zero parsed ids
    # means the regex no longer matches the plan-string format
    assert ids or "Exchange hashpartitioning" not in final_plan, final_plan
    return ids


#: fast-tier representatives for the all-registry nested-loop sweep
#: (round 13, verdict r12 #1): one per join-shape family whose plan
#: builds cheaply (several registry rows run training/stream
#: scaffolding just to BUILD their DataFrame — those are slow-tier).
#: The full sweep still runs under `-m slow`.
SWEEP_FAST = {
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q13_customer_order_distribution",
    "q21_last_to_ship_suppliers",
    "window_top3_orders_per_customer",
    "grouped_topk_orders_per_customer",
    "explode_token_counts",
    "dedup_exact_documents",
    "ngram_jaccard_pairs_dfcap",
    "minhash_near_dup_pairs",
    "duplicate_spans_documents",
    "duplicate_spans_lsh_prod",
    "winnow_overlap_pairs",
    "bloom_prefilter_documents",
    "sessionize_user_events",
    "asof_last_view_before_purchase",
    "range_join_purchases_within_hour_of_signup",
    "tfidf_top_terms",
    "boilerplate_passage_removal",
    "cluster_aware_holdout",
    "llm_corpus_prep_v4",
}


def test_plan_sets_name_registered_queries():
    """An entry for a query that is no longer registered exempts,
    skips or samples nothing."""
    stale = (set(NESTED_LOOP_EXEMPT) | SKIP | SWEEP_FAST) - set(QUERIES)
    assert not stale, sorted(stale)


@pytest.mark.parametrize(
    "name",
    [
        n if n in SWEEP_FAST else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(n for n in QUERIES if n not in SKIP)
    ],
)
def test_no_accidental_nested_loop(spark, sf_dir, name):
    plan = _plan(QUERIES[name](spark, sf_dir))
    if name in NESTED_LOOP_EXEMPT:
        pytest.skip(f"deliberate: {NESTED_LOOP_EXEMPT[name]}")
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} degenerated to a nested-loop join"
    )


@pytest.mark.parametrize(
    "name,expect",
    [
        ("q1_pricing_summary", "PushedFilters: [IsNotNull(l_shipdate)"),
        ("q6_forecast_revenue", "PushedFilters: [IsNotNull(l_shipdate)"),
        ("q3_shipping_priority", "BroadcastHashJoin"),
        ("q5_local_supplier_volume", "BroadcastHashJoin"),
        ("q10_returned_items", "BroadcastHashJoin"),
        # vocab head must be a distributed partial top-k, not a global
        # row_number over the full vocabulary
        ("vocab_top_terms", "TakeOrderedAndProject"),
    ],
)
def test_key_plan_properties(spark, sf_dir, name, expect):
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert expect in plan, f"{name}: expected {expect!r} in plan"


def test_deciles_no_range_exchange(spark, sf_dir):
    """The NTILE quantile buckets (ccnet_bucket_documents' per-language
    terciles) must not use repartitionByRange: its bounds come from
    per-execution reservoir sampling, so bounds could differ between
    two evaluations of the same lineage and silently corrupt ranks.
    The NTILE window must be partitioned (checked by
    test_no_unpartitioned_window)."""
    plan = _plan(QUERIES["ccnet_bucket_documents"](spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan


def _unpartitioned_window_count(plan: str) -> int:
    # WindowExec renders "Window [fns], [partSpec], [orderSpec]";
    # an unpartitioned window renders only two bracket groups
    import re

    # WindowGroupLimit is excluded: it renders its partition keys as the
    # first bracket group and is a pushed-down limit, not a global sort
    hits = 0
    for line in plan.splitlines():
        m = re.search(r"\bWindow\s+(\[.*)", line)
        if m and len(re.findall(r"\], \[", m.group(1))) < 2:
            hits += 1
    return hits


@pytest.mark.parametrize(
    "name",
    ["vocab_top_terms", "ccnet_bucket_documents", "grouped_topk_orders_per_customer"],
)
def test_no_unpartitioned_window(spark, sf_dir, name):
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert _unpartitioned_window_count(plan) == 0, (
        f"{name} plans an unpartitioned (single-task) window:\n{plan}"
    )


class TestAnnPlans:
    """ANN physical plans pinned on a constructed corpus (the generic
    parametrized tests SKIP these because the plan embeds trained
    centroids/codebooks — here we train on a fixed tiny corpus and pin
    the structure that matters at scale)."""

    def _corpus(self, spark, n=200):
        import numpy as np

        rng = np.random.RandomState(3)
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(64)]) for i in range(n)],
            "vec_id bigint, embedding array<float>",
        )

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_ivf_single_python_stage_and_hash_join(self, spark):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        corpus = self._corpus(spark)
        out = S.cosine_topk_ivf(
            corpus, corpus.filter(F.col("vec_id") < 5), k=3,
            num_centroids=8, nprobe=4,
        )
        plan = self._plan(out)
        # ONE Arrow stage for the corpus cell assignment — a second one
        # means the join's null filter re-extracted the UDF and the
        # whole corpus makes two Python round-trips; the other stage is
        # the query side's integer probe
        assert plan.count("ArrowEvalPython [cell(") == 1, plan
        assert plan.count("ArrowEvalPython") == 2, plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_pq_no_sort_merge_rerank(self, spark):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        corpus = self._corpus(spark)
        out = S.cosine_topk_pq(
            corpus, corpus.filter(F.col("vec_id") < 5), k=3
        )
        plan = self._plan(out)
        # corpus codes + query lut: exactly two Arrow stages
        assert plan.count("ArrowEvalPython") == 2, plan
        # the brute ADC cross-score is the one deliberate BNLJ
        assert plan.count("BroadcastNestedLoopJoin") == 1, plan
        # shortlist re-rank must broadcast the shortlist, not sort-merge
        # the corpus against it
        assert "SortMergeJoin" not in plan, plan

    def test_ivfpq_structure(self, spark):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        corpus = self._corpus(spark)
        out = S.cosine_topk_ivfpq(
            corpus, corpus.filter(F.col("vec_id") < 5), k=3, nprobe=4,
        )
        plan = self._plan(out)
        # corpus (cell+codes batched together) + query (integer probe,
        # then lut per probed cell): three
        assert plan.count("ArrowEvalPython") == 3, plan
        assert re.search(r"ArrowEvalPython \[cell\([^\]]*, codes\(", plan), plan
        # cell-probe candidate join and both rerank joins are hash joins
        assert "SortMergeJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestRound6Plans:
    def test_rag_chunking_has_no_shuffle(self, spark, sf_dir):
        """Chunking is per-row array algebra — ANY exchange in its
        plan means someone added a wide stage to a map-only operator."""
        import re

        plan = _plan(QUERIES["rag_chunk_documents"](spark, sf_dir))
        assert not re.findall(r"Exchange hashpartitioning", plan), plan

    def test_winnow_overlap_hashes_text_exactly_once(self, spark, sf_dir):
        """The fingerprint UDF must not re-run per consumer: the
        overlap query materializes (id, fingerprint) once, so its
        downstream plan contains ZERO ArrowEvalPython stages (the one
        hashing pass happened in the eager checkpoint) and only the
        df-cap + self-join + pair-agg exchanges MATERIALIZE. Round 12:
        the static planner no longer broadcasts (fictional estimates
        OOMed the 100x spans run), so the static plan shows SMJ
        shapes; the invariant moves to the EXECUTED plan — AQE
        broadcast-promotes from true sizes and REUSES the duplicated
        cap subtrees, so exactly 3 distinct shuffles materialize
        (hash relation, df-cap agg, pair agg), same as the old
        static-broadcast plan."""
        df = QUERIES["winnow_overlap_pairs"](spark, sf_dir)
        plan = _plan(df)
        assert plan.count("ArrowEvalPython") == 0, plan
        final = _final_plan(df)
        assert len(_materialized_shuffles(final)) <= 3, final

    def test_capped_store_join_adds_no_extra_exchange(self, spark, tmp_path):
        """The degenerate-bucket cap must ride the join's own
        (band, bucket) partitioning — the store side materializes ONE
        exchange serving both window and join — and the cap window is
        partitioned (never a global sort). Round 12: the static
        planner no longer broadcasts (fictional estimates OOMed the
        100x spans run), so the probe side now materializes its own
        batch-sized (band, bucket) exchange before AQE
        broadcast-promotes the join from true sizes: 4 distinct
        shuffles (batch sig agg, batch bb, store window/join, pair
        dedup) — a 5th would mean the cap grew its own wide stage."""
        from etl_procedure_codes_crawler_spark.llm import neardup_store as NS

        docs = spark.createDataFrame(
            [(i, f"store document number {i} with plenty of shared text")
             for i in range(30)],
            "doc_id bigint, text string",
        )
        path = str(tmp_path / "planstore")
        NS.build_minhash_store(docs, path)
        out = NS.near_dups_against_store(
            spark, path, docs.limit(5), threshold=0.3
        )
        plan = _plan(out)
        assert "No Partition Defined" not in plan
        final = _final_plan(out)
        assert len(_materialized_shuffles(final)) <= 4, final
        # the probe join must promote to broadcast at runtime (truth-
        # based sizes), not stay a sort-merge of the batch-sized side
        assert "BroadcastHashJoin" in final, final
