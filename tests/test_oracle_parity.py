"""Every registered query must hash-match its DuckDB oracle —
the local replica of the driver's t2 correctness gate (sf0.001 here
for speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest

from etl_procedure_codes_crawler_spark.plans.parity import compare_query
from etl_procedure_codes_crawler_spark.llm import queries  # noqa: F401 — registers
from etl_procedure_codes_crawler_spark.plans.relational import ORACLES, QUERIES

#: queries intentionally registered WITHOUT an oracle (rows-only check)
ROWS_ONLY = {
    # OPQ's rotation comes from eigh, which is libm
    "ann_cosine_topk_opq",
    "bpe_train_merges",
    "bpe_fertility_by_source",
    "semantic_dedup_cells",
    "lm_perplexity_documents",
    "embedding_pca_whiten_stats",
    "source_cardinality_hll",
    # xxhash64 is JVM-side only; correctness is covered by the
    # structurally identical md5 twin's hash oracle
    # (duplicate_spans_lsh_scoped)
    "duplicate_spans_lsh_prod",
    "heavy_hitter_tokens",
    # perceptual hashes are numpy-side, and the store/cluster/shard
    # lifecycles are trained or fs-bound artifacts: each carries
    # planted-twin recall, incremental-equals-recompute or byte-identity
    # tests instead
    "multimodal_image_neardup_pairs",
    "multimodal_audio_neardup_pairs",
    "neardup_store_cluster_survivors",
    "llm_training_shards_bpe",
    "streaming_media_neardup_ingest",
    "quality_model_distilled",
    # DoReMi excess-loss reweighting: ln() is libm; python-replica-pinned
    "doremi_domain_weights",
    # unigram-LM tokenizer: trained-model plans (libm log scores)
    "unigram_fertility_by_source",
    # video keyframe dHash is numpy-side like the image and audio twins;
    # twin recall at hamming 0 is pinned in tests/test_video.py
    "video_keyframe_neardup_pairs",
}


#: parity rows that stay in the DEFAULT (fast) tier — one cheap
#: representative per query family; the other oracled rows run
#: under `-m slow` (round 13, verdict r12 #1: the full replica pushed
#: the suite past the driver's verify window, and the driver's own
#: DuckDB gate independently hash-checks 50 queries every round)
PARITY_FAST = {
    "q1_pricing_summary",            # scan-agg
    "q3_shipping_priority",          # multi-join + top-k
    "window_top3_orders_per_customer",  # window rank
    "rollup_revenue_by_flag_status",  # rollup
    "explode_token_counts",          # explode + agg
    "events_json_extract_stats",     # json path extraction
    "dedup_exact_documents",         # fingerprint groupBy
    "ngram_jaccard_pairs_dfcap",     # df-capped posting self-join
    "duplicate_spans_documents",     # positioned-gram span family
    "minhash_near_dup_pairs",        # md5 LSH -> verify family
    "sessionize_user_events",        # session window
    "asof_last_view_before_purchase",  # as-of join
    "range_join_purchases_within_hour_of_signup",  # range join
    "sequence_packing_stats",        # packing
    "tfidf_top_terms",               # scalar cross join + top-k
    "token_drift_by_source",         # drift statistic
    "gopher_quality_filter",         # map-only rule battery
    "boilerplate_passage_removal",   # passage-frequency strip
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in PARITY_FAST else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(ORACLES.keys())
    ],
)
def test_query_matches_oracle(spark, sf_dir, name):
    report = compare_query(spark, sf_dir, QUERIES[name], ORACLES[name])
    assert report["rows_match"], report
    assert report["columns_match"], report
    assert report["values_match"], {
        k: v for k, v in report.items() if k != "values_match"
    } | {"first_diffs": report.get("first_diffs")}


def test_fast_tier_subsets_are_valid():
    # a renamed query must not silently drop its fast-tier parity row
    assert PARITY_FAST <= set(ORACLES), PARITY_FAST - set(ORACLES)
    assert ROWS_ONLY_FAST <= ROWS_ONLY, ROWS_ONLY_FAST - ROWS_ONLY


def test_every_query_has_an_oracle_or_is_flagged():
    # queries without oracles get the weaker rows-only driver check;
    # keep the list explicit so additions are deliberate
    no_oracle = set(QUERIES) - set(ORACLES)
    assert no_oracle == ROWS_ONLY, f"unexpected oracle-less queries: {no_oracle ^ ROWS_ONLY}"


#: fast-tier representatives of the rows-only determinism sweep
#: (each runs its query twice; the heavy trained/lifecycle rows are
#: exactly the expensive ones — slow tier)
ROWS_ONLY_FAST = {
    "heavy_hitter_tokens",
}


@pytest.mark.parametrize(
    "name",
    [
        n if n in ROWS_ONLY_FAST else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(ROWS_ONLY)
    ],
)
def test_rows_only_queries_run_and_are_deterministic(spark, sf_dir, name):
    first = QUERIES[name](spark, sf_dir)
    rows_a = first.count()
    rows_b = QUERIES[name](spark, sf_dir).count()
    assert rows_a == rows_b  # deterministic run-to-run
    assert rows_a >= 0
