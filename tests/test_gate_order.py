"""Tripwire for the driver-gate sample ordering.

The correctness driver hashes the FIRST 50 entries of ``queries()``; rounds
1-4 proved that whatever falls outside that sample is where regressions hide.
These tests pin the invariants: the priority block is exactly the gate-sample
size, every entry exists, every entry has a DuckDB oracle (so the driver can
emit a hash row, not a weaker rows-only row), and the first 50 returned keys
are exactly the priority block.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

_ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")

GATE_SAMPLE = 50


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location("spark_entry_under_test", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_priority_is_exactly_gate_sample_size(entry):
    assert len(entry._GATE_PRIORITY) == GATE_SAMPLE
    assert len(set(entry._GATE_PRIORITY)) == GATE_SAMPLE


def test_priority_names_all_registered(entry):
    queries = entry.queries()
    missing = [n for n in entry._GATE_PRIORITY if n not in queries]
    assert not missing, f"gate-priority names not in registry: {missing}"


def test_priority_names_all_oracled(entry):
    oracles = entry.oracle_sql()
    unoracled = [n for n in entry._GATE_PRIORITY if n not in oracles]
    assert not unoracled, (
        "gate-priority entries without a DuckDB oracle would waste a hash "
        f"slot on a rows-only row: {unoracled}"
    )


def test_first_gate_sample_is_the_priority_block(entry):
    assert list(entry.queries())[:GATE_SAMPLE] == entry._GATE_PRIORITY
    assert list(entry.oracle_sql())[:GATE_SAMPLE] == entry._GATE_PRIORITY


def test_reorder_loses_no_queries(entry):
    from etl_procedure_codes_crawler_spark.plans import relational

    assert set(entry.queries()) == set(relational.QUERIES)
    assert set(entry.oracle_sql()) == set(relational.ORACLES)


def test_family_coverage_in_gate_sample(entry):
    """Every operator family has at least one hash row in the sample."""
    sample = set(entry._GATE_PRIORITY)
    families = {
        "tpch": {"q1_pricing_summary", "q2_min_cost_supplier", "q21_last_to_ship_suppliers"},
        "temporal_join": {"asof_last_view_before_purchase", "range_join_purchases_within_hour_of_signup"},
        "funnel": {"funnel_signup_to_purchase"},
        # round-9 session 2: CCNet terciles hold the sampled
        # windowed-distribution row
        "distribution": {"ccnet_bucket_documents"},
        "extraction": {"extract_procedure_pages_fixture", "udtf_extract_modifiers_fixture"},
        # round-10: the unified five-gate admission capstone holds a
        # sampled streaming row (boilerplate ingest stays in registry)
        "streaming": {"streaming_hourly_event_counts", "streaming_incremental_dedup_documents",
                      "streaming_unified_admission"},
        "text": {"token_count_bpe_documents", "text_quality_documents"},
        # round-10: md5-mode MinHash LSH holds a sampled dedup row
        # (incremental stays in the registry + parity replica)
        "dedup": {"dedup_exact_documents", "minhash_near_dup_pairs"},
        # round-9 session 2: containment runs the identical df-capped
        # posting-list core plus both directed ratios
        "jaccard": {"ngram_jaccard_pairs_dfcap", "ngram_containment_pairs"},
        "safety": {"contamination_overlap", "pii_scan_documents"},
        # round-12: the ANN margin row holds the slot (trained md5-int
        # k-means cells + the pairwise cosine math and neighborhood-mean
        # fold of the margin CTEs in one sampled row)
        "ann": {"embedding_margin_pairs_ann"},
        # round-9 rotation: the MP4 box-walk family holds the sampled
        # multimodal rows (payload/PNG/JPEG stats stay in the registry);
        # round-10: keyframe DECODE took the manifest slot; round-11:
        # inter-frame DELTA decode takes the keyframe slot (strictly
        # contains it: demuxer seek + JPEG decode + delta chains)
        "multimodal": {"multimodal_mp4_stats", "video_delta_decode_stats"},
        "trends": {"user_value_trends"},
        "corpus_prep": {"llm_corpus_prep_v2", "tfidf_top_terms",
                        "llm_corpus_prep_multimodal"},
        "packing": {"sequence_packing_stats", "sequence_packing_bestfit"},
        "data_selection": {"dsir_importance_topk"},
        "drift": {"token_drift_by_source", "streaming_token_drift_monitor"},
        "leakage_safe_split": {"cluster_aware_holdout"},
        # v3 hash-proves gopher rules + quality margin + intra-doc
        # block dedup + cluster quality survivors in one slot
        "round7_funnel": {"llm_corpus_prep_v3"},
        # v5 contains v4's strip/weights/yield axes plus containment,
        # KMV diversity, and the bootstrap CI
        "round8_funnel": {"llm_corpus_prep_v4", "llm_corpus_prep_v5"},
        # round-8: components + 1/|cluster| soft-dedup weighting
        "soft_dedup": {"soft_dedup_weights"},
    }
    uncovered = [fam for fam, members in families.items() if not members & sample]
    assert not uncovered, f"families with no gate-sample hash row: {uncovered}"
