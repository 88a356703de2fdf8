#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the FULL result JSON (with per-query dicts) on one line, then
a compact final line a tail capture can always parse:
  {"metric": "...", "value": <best-pass total sec>, "unit": "sec",
   "value_cold": <first-pass total>, "runs": 2, "sf": 0.1,
   "box_factor": <sec>, "detail": "<path to BENCH_FULL.json sidecar>"}
The sidecar (override via SPARK_GRAFT_BENCH_OUT) carries the
per-query "queries"/"queries_cold" dicts for regression comparison.

"box_factor" is the best-pass subtotal of three long-frozen pure-JVM
scan-aggregation queries (_BOX_FACTOR_QUERIES): a built-in yardstick
for HOST state, not code. The same binaries swing by tens of percent
with box contention (SCALING.md), so raw totals from two runs compare
box state as much as code. Divide per-query times by
(box_factor / frozen box_factor) before applying the 1.5x regression
bar.

Each query is timed through ``harness.time_query``: the noop write
materializes every column and operator of the result, which count()
would prune. An untimed ``harness.warm_up`` runs first so JVM,
codegen and Python-worker startup is not billed to whichever query
happens to run first.

INTERFERENCE FIREBREAK: every timed unit starts from
``harness.settle`` (SQL cache cleared, JVM + Python GC twice with a
drain gap), so a query is not billed for the GC debt or leaked cache
of whichever lifecycle query ran before it; box_factor, a host-speed
yardstick, cannot normalize such neighbor effects. Passes run as FULL
SWEEPS (A B ... A B), not back-to-back per query: positional
process-state tails hit adjacent passes identically, so only
sweep-separated sampling lets best-of-N escape them. After the suite,
the three most expensive rows, plus every row whose best exceeds 1.5x
its floor in bench_floors.json (at most RECHECK_CAP of those), are
rerun under isolation conditions and land in "isolation_recheck"
[{query, in_suite, isolated, ratio}...]: ratios near 1 certify the
recorded values as isolation-grade; a high ratio flags that row's
suite value, and the isolated number is the regression floor for it.

SPARK_GRAFT_BENCH_RUNS (default 2) controls timed passes per query.
With N>1 passes, "queries"/"value" carry the BEST pass per query —
the steady-state floor regression rules compare against — and the
first pass lands in "queries_cold"/"value_cold". Single runs swing
1.2-1.5x on plan-compile, page-cache and GC noise in BOTH directions
(SCALING.md), so neither "the cold run" nor "the warm run" is a
stable per-query number; the min over passes is. Each pass still
recompiles the plan (a fresh DataFrame per pass), so the floor is
execution time, not a cache readback.
Set SPARK_GRAFT_BENCH_RUNS=1 for a single cold pass.

The "scaling" block re-times the SCALING_TOP most expensive rows,
isolated, on a fresh session with a quarter of the cores, and ships
{query: {high, low}} pairs: per-operator parallelism, which a
whole-suite comparison at sf0.1 cannot show because it is
scheduler-overhead bound. SPARK_GRAFT_BENCH_SCALING=0 skips it.
"""

from __future__ import annotations

import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

#: the queries that define this engine's headline throughput. Rows may
#: be added, never removed, so every benched number keeps a history.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "order_priority_late_ship",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q13_customer_order_distribution",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "window_top3_orders_per_customer",
    "rollup_revenue_by_flag_status",
    "explode_token_counts",
    "events_hourly_windows",
    "events_json_extract_stats",
    # custom/beyond-reference operators
    "asof_last_view_before_purchase",
    "range_join_purchases_within_hour_of_signup",
    "sessionize_user_events",
    "dedup_exact_documents",
    "dedup_incremental_documents",
    "ann_cosine_topk_lsh",
    "token_count_bpe_documents",
    "llm_corpus_prep",
    "tfidf_top_terms",
    "exact_moment_statistics",
    "funnel_signup_to_purchase",
    "user_value_trends",
    "ngram_jaccard_pairs_dfcap",
    "q2_min_cost_supplier",
    "q21_last_to_ship_suppliers",
    "sequence_packing_stats",
    "vocab_top_terms",
    "passage_dedup_stats",
    "llm_corpus_prep_v2",
    "grouped_topk_orders_per_customer",
    "heavy_hitter_tokens",
    # ANN scale-path variants (brute LSH is benched above): IVF cells,
    # PQ ADC shortlist + exact re-rank, and the composed IVF+PQ
    # billion-scale shape — regressions in these plans must be visible
    # in the bench, not just recall-floored in tests.
    "ann_cosine_topk_ivf",
    "ann_cosine_topk_pq",
    "ann_cosine_topk_ivfpq",
    # training-layout family representative: one hash exchange +
    # per-shard sort — the reproducible global shuffle
    "training_shuffle_manifest",
    # real-codec multimodal decode (PNG synth + inflate + un-filter,
    # JPEG huffman + IDCT, both through mapInPandas) — the
    # Python-heavy batch-decode shapes
    "multimodal_png_decode_stats",
    "multimodal_jpeg_decode_stats",
    # zero-shuffle chunk fan-out, the winnowing fingerprint join (Arrow
    # hash pass + df-capped self-join), and the iterative BPE trainer
    # (1 corpus scan + 12 vocab-table jobs)
    "rag_chunk_documents",
    "winnow_overlap_pairs",
    "bpe_train_merges",
    # the ANN serving shape: partition-pruned query against the
    # persisted index. The build is memoized scaffolding: pass 1
    # carries it into queries_cold, warm passes time probe + pruned
    # ADC scan + exact re-rank only
    "ann_index_ivfpq_query",
    # SemDeDup cell-scoped semantic dedup (k-means multi-probe cells +
    # within-cell exact cosine + component loop) and the CCNet-style
    # bigram-LM perplexity filter (count windows + fixed-order per-doc
    # fold)
    "semantic_dedup_cells",
    "lm_perplexity_documents",
    # one-pass moment fit + Arrow whiten-projection + self-check aggs
    "embedding_pca_whiten_stats",
    # mergeable per-source MinHash sketches (map-side min merge)
    "source_overlap_minhash",
    # OPQ-rotated IVF+PQ: regressions in the rotation closure must be
    # visible like the other ANN variants
    "ann_cosine_topk_opq",
    # DSIR importance-weighted selection: two raw-pool scans + one
    # target scan, all-broadcast joins, TakeOrderedAndProject top-k
    "dsir_importance_topk",
    # single-scan rollup of per-source + corpus-total HLL sketches
    "source_cardinality_hll",
    # UniMax water-filling: one map-side-combined token aggregation,
    # allocation solved on the metadata-sized per-source relation
    "unimax_source_budgets",
    # exact duplicate-span extraction + the keep-one-copy removal pass
    # (capped gram self-join + diagonal islands; one array filter to cut)
    "duplicate_spans_documents",
    "remove_duplicate_spans_documents",
    # the span family's scale shape: LSH candidates -> pair-scoped
    # extraction (key joins only, no posting-list self-join). The
    # xx-mode production path is benched; its md5 oracle twin
    # (duplicate_spans_lsh_scoped) carries the hash proof, pays the
    # digest tax and is benched against its own md5-mode floor
    "duplicate_spans_lsh_prod",
    "duplicate_spans_lsh_scoped",
    # the Gopher hand-rule battery (map-only projection), exact TV
    # drift (one corpus shuffle + pinned marginals), leakage-safe
    # cluster holdout (jaccard edges + hash-min components), Bloom
    # build/merge/probe (bit_or agg + k broadcast joins), and best-fit
    # whole-doc packing (applyInPandas per shard)
    "gopher_quality_filter",
    "token_drift_by_source",
    "cluster_aware_holdout",
    "bloom_prefilter_documents",
    "sequence_packing_bestfit",
    # quality-argmax survivor selection + the v3 single-scan funnel
    # capstone (gopher + margin + block dedup + cluster survivors)
    "near_dup_quality_survivors",
    "llm_corpus_prep_v3",
    # perceptual-hash image near-dup (PNG synth + decode + dHash in one
    # Arrow pass, 4-band hamming join) — the multimodal dedup shape
    "multimodal_image_neardup_pairs",
    # store-backed quality survivors off persisted incremental cluster
    # labels (two quotient absorbs + argmax window, no from-scratch
    # components)
    "neardup_store_cluster_survivors",
    # tokenizer-true layout — BPE train + encode + best-fit pack on
    # subword counts + reproducible shuffle + physical shard
    # write/read-back
    "llm_training_shards_bpe",
    # gain-invariant audio fingerprint near-dup (WAV synth + stdlib
    # decode + energy-gradient hash in one Arrow pass)
    "multimodal_audio_neardup_pairs",
    # SlimPajama-style soft dedup — 1/|cluster| sampling weights off
    # the same df-capped Jaccard edges (hash-oracled)
    "soft_dedup_weights",
    # the streaming MEDIA ingest gate — decode+dHash once per object,
    # intra-batch collapse + persisted phash-store gate
    "streaming_media_neardup_ingest",
    # in-engine quality-model training — one normal-equation
    # aggregation pass distills the Gopher battery into the linear
    # scorer, corpus re-scored with the learned model
    "quality_model_distilled",
    # CCNet-style cross-doc boilerplate strip — fingerprint shuffle +
    # doc-frequency groupBy + in-order reassembly
    "boilerplate_passage_removal",
    # boilerplate strip -> soft-dedup weights -> per-source
    # effective-token yield (hash-oracled end to end)
    "llm_corpus_prep_v4",
    # the passage-frequency store lifecycle (two mergeable count
    # appends + strip against persisted frequencies)
    "boilerplate_store_strip",
    # the streaming twin — passage counts appended under the durable
    # (gate, batch) key + strip-at-admission, one stream round-trip
    # (the full gate runs every pass; only the corpus file staging is
    # process-shared scaffolding)
    "streaming_boilerplate_strip_ingest",
    # MP4 container box-walk (synth + parse in Arrow passes, no codec
    # decode) — the video-modality payload-stats shape
    "multimodal_mp4_stats",
    # the three-modality attrition funnel (v4 text funnel +
    # per-modality decode/hash/band-join/content-verify) —
    # deliberately the heaviest all-operator query in the suite
    "llm_corpus_prep_multimodal",
    # DoReMi excess-loss domain reweighting — one corpus bigram
    # groupBy + count-relation rollups + driver softmax
    "doremi_domain_weights",
    # tokenizer fertility — train + encode + one integer agg
    "bpe_fertility_by_source",
    # asymmetric containment (same df-capped posting-list core as the
    # jaccard twin, both directed ratios)
    "ngram_containment_pairs",
    # pairwise KMV set-operation estimates — one distinct-hash
    # shuffle, then metadata-sized sketch expansion
    "kmv_source_overlap_pairs",
    # the KMV store LIFECYCLE (create, two sketch ingests, a deliberate
    # crash replay, compact, serve) — unlike the neardup-store rows
    # this cost IS the operator (three bottom-k ingest passes), not
    # scaffolding
    "kmv_store_incremental_estimate",
    # CCNet terciles — one bigram explode shared by corpus counts and
    # per-doc aggs, then a per-lang window
    "ccnet_bucket_documents",
    # the unigram-LM tokenizer twin of the BPE fertility row — EM
    # train (Arrow E-steps over the distinct-word table) + Viterbi
    # encode + one integer aggregation
    "unigram_fertility_by_source",
    # the v4 funnel + containment fragments + KMV diversity + bootstrap
    # CI in ONE per-source report (one shared posting join feeds both
    # pair consumers)
    "llm_corpus_prep_v5",
    # Aho-Corasick blocklist scan — the shuffle-free single-pass
    # Python-automaton Arrow shape
    "blocklist_scan_documents",
    # real video keyframe decode, manifest-driven (MJPEG synth +
    # container parse + per-keyframe JPEG decode in one Arrow pass)
    "video_keyframe_decode_stats",
    # video near-dup end to end (decode+hash pass + twins + 4-band
    # hamming join + per-clip score); the synthesis (8 JPEG
    # encodes/doc) dominates, the pair machinery is the shared
    # star-capped band join
    "video_keyframe_neardup_pairs",
    # the md5-mode MinHash-LSH pipeline (hash-oracled and
    # gate-sampled) — signatures, band join, exact-Jaccard verify
    "minhash_near_dup_pairs",
    # streaming twins: blocklist scan at admission and the chi-square
    # drift statistic streamed — both share their batch oracles (two
    # micro-batches each; scaffolding memoized)
    "streaming_blocklist_scan",
    "streaming_chi_square_drift",
    # ALL SIX ingest gates in one admission decision + attrition
    # accounting — deliberately the heaviest streaming row (one full
    # stream round trip through exact dedup, image AND clip
    # content-verify, strip-at-admission, budgets, KMV fold)
    "streaming_unified_admission",
    # inter-frame video decode (delta-coded clips, chain
    # reconstruction, error recovery) — hash-oracled and gate-sampled
    "video_delta_decode_stats",
    # presentation-time frame sampling over variable-duration
    # (run-length stts) containers — hash-oracled
    "video_time_indexed_manifest",
    # the Hadamard-rotated PQ row: every query path needs perf
    # accountability
    "ann_cosine_topk_hpq",
]


#: host-state yardstick: pure-JVM scan-agg queries whose plans stay
#: frozen — their subtotal moves with the box, not with this repo's
#: changes (see module docstring)
_BOX_FACTOR_QUERIES = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "token_count_bpe_documents",
)

#: floor-breaching rows rechecked, beyond the three most expensive
RECHECK_CAP = 15
#: rows the low-core scaling block re-times (5 rows fit the compact line)
SCALING_TOP = 5


def _floors(sf: float | None) -> tuple[dict[str, float], float | None]:
    """The frozen per-query floors and their box_factor reference,
    empty at any SF other than the floors' own (the flag would be
    spurious; the top-3-by-cost recheck still runs)."""
    path = os.environ.get(
        "SPARK_GRAFT_BENCH_FLOORS", os.path.join(_REPO_ROOT, "bench_floors.json")
    )
    try:
        with open(path) as fh:
            doc = json.load(fh)
        if sf == float(doc.get("sf", 0.1)):
            floors = {k: float(v) for k, v in doc.get("floors", {}).items()}
            return floors, float(doc.get("box_factor_ref") or 0) or None
    except (OSError, ValueError):
        pass
    return {}, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None

    from etl_procedure_codes_crawler_spark import harness
    from etl_procedure_codes_crawler_spark.session import get_spark

    spark = get_spark(app_name="etl-procedure-codes-crawler-spark-bench")
    names = [n for n in HEADLINE if n in harness.registry()]
    harness.warm_up(spark, sf_dir)

    # One failing query must not take down the whole suite (a crashed
    # bench reports nothing — worse than reporting 35 good numbers and
    # 1 error). Failures land in "errors" with the exception head; the
    # process exits non-zero so the failure is still loud.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    errors: dict[str, str] = {}

    def record_error(name: str, exc: Exception) -> None:
        head = str(exc).partition("\n")[0][:200]
        errors[name] = f"{type(exc).__name__}: {head}"

    # Sweep 1 is "cold" (per-plan compile + scaffold builds land there);
    # the best over sweeps is the steady-state floor.
    for pass_no in range(runs):
        for name in names:
            if name in errors:
                continue
            try:
                elapsed = harness.time_query(spark, name, sf_dir)
            except Exception as exc:  # noqa: BLE001 — record and continue
                # a query that failed on ANY pass must not also report
                # a timing: it would silently enter the regression
                # comparison
                record_error(name, exc)
                cold.pop(name, None)
                warm.pop(name, None)
                continue
            if pass_no == 0:
                cold[name] = elapsed
            warm[name] = min(warm.get(name, elapsed), elapsed)

    box = [warm[n] for n in _BOX_FACTOR_QUERIES if n in warm]
    box_factor = round(sum(box), 3) if len(box) == len(_BOX_FACTOR_QUERIES) else None
    floors, floors_ref = _floors(sf)

    # Self-check that the firebreak + sweep separation worked: rerun
    # the three most expensive rows (always) plus the most suspicious
    # floor-breaching rows under isolation conditions, so the artifact
    # ships an in-run isolated floor for every row a frozen-table
    # comparison would question.
    recheck: list[dict] | None = None
    if warm:
        norm = box_factor / floors_ref if box_factor and floors_ref else 1.0

        # Flag on max(raw, normalized) excess: norm comes from the same
        # pass being judged, so a run where only the box-factor rows
        # are slow skews it for every other row; max() lets that skew
        # add rechecks, never suppress one.
        def _excess(n: str) -> float:
            fl = floors.get(n)
            return max(warm[n] / fl, warm[n] / norm / fl) if fl else 1.0

        top3 = sorted(warm, key=warm.get, reverse=True)[:3]
        breaching = [n for n in warm if _excess(n) > 1.5 and n not in top3]
        # most suspicious first: a stressed box breaches everything, and
        # ordering by raw cost would spend the cap on heavy rows that
        # sit near their floors anyway. The top-3 ride outside the cap.
        ordered = top3 + sorted(breaching, key=_excess, reverse=True)[:RECHECK_CAP]
        # re-warm: the recheck runs after the whole suite's accrued
        # process state, which otherwise makes the isolated session
        # itself the artifact
        harness.warm_up(spark, sf_dir)
        recheck = []
        for name in ordered:
            try:
                iso = harness.isolated_best(spark, name, sf_dir, runs)
            except Exception as exc:  # noqa: BLE001 — record and continue
                record_error(name, exc)
                continue
            row = {
                "query": name,
                "in_suite": warm[name],
                "isolated": iso,
                "ratio": round(warm[name] / iso, 3) if iso > 0 else None,
            }
            fl = floors.get(name)
            if fl:
                # certification requires BOTH views <= 1.5
                row["floor"] = fl
                row["vs_floor"] = round((iso / norm) / fl, 3)
                row["vs_floor_raw"] = round(iso / fl, 3)
            recheck.append(row)
        recheck = recheck or None

    # Runs after every timed number is in hand, so the suite above is
    # untouched by it.
    scaling = None
    cpus_hi = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    cpus_lo = max(2, cpus_hi // 4)
    if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0" and warm and cpus_lo < cpus_hi:
        try:
            spark.stop()
            spark = get_spark(
                app_name="etl-procedure-codes-crawler-spark-bench-lowcore",
                master=f"local[{cpus_lo}]",
                shuffle_partitions=cpus_lo,
            )
            harness.warm_up(spark, sf_dir)
            # "high" prefers the recheck's isolated reading, so the
            # ratio compares isolated with isolated
            isolated = {row["query"]: row["isolated"] for row in recheck or []}
            per_scale: dict[str, dict] = {}
            for name in sorted(warm, key=warm.get, reverse=True)[:SCALING_TOP]:
                try:
                    low = harness.isolated_best(spark, name, sf_dir, 1)
                except Exception:  # noqa: BLE001 — a low-core-only failure
                    # drops the row; the suite's "errors" are final
                    continue
                per_scale[name] = {"high": min(warm[name], isolated.get(name, warm[name])), "low": low}
            if per_scale:
                scaling = {"cpus": cpus_hi, "cpus_low": cpus_lo, "per_query": per_scale}
        except Exception as exc:  # noqa: BLE001 — diagnostics must not
            # take down the bench output: the suite numbers are final
            print(f"bench: scaling block failed: {exc}", file=sys.stderr)
            scaling = None

    result = {
        "metric": f"headline-suite wall time, local[{cpus_hi}]",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "sf": sf,
    }
    if runs > 1:
        result["queries_cold"] = cold
        result["value_cold"] = round(sum(cold.values()), 3)
        result["runs"] = runs
    optional = {
        "box_factor": box_factor,
        "isolation_recheck": recheck,
        "scaling": scaling,
        "errors": errors or None,
    }
    result.update((k, v) for k, v in optional.items() if v is not None)
    # A tail capture parses the last JSON line, and two full per-query
    # dicts overflow it. So the full detail goes to a sidecar file + an
    # EARLY stdout line, and the LAST line is a compact summary that
    # fits a 2000-char tail window (the recheck list stays off it).
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(_REPO_ROOT, "BENCH_FULL.json")
    )
    try:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
    except OSError as exc:  # read-only checkout: detail still on stdout
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    print(json.dumps(result))
    compact = {
        k: result[k]
        for k in ("metric", "value", "unit", "value_cold", "runs", "sf", "box_factor")
        if k in result
    }
    if recheck is not None:
        compact["n_recheck"] = len(recheck)
    if scaling is not None:
        compact["scaling"] = scaling
    if errors:
        compact["n_errors"] = len(errors)
    compact["detail"] = out_path
    print(json.dumps(compact))
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
