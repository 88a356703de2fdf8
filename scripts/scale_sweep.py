#!/usr/bin/env python
"""Empirical 10x scale sweep of the heavy operator families — the
measurement behind SCALING.md's "would this hold at 100 TB" claims,
which through round 8 were extrapolations from sf0.1.

Runs each family at sf0.1 (5k docs / 2k vectors) and at the
sf1-equivalent scratch corpus (scripts/gen_scale_corpus.py: 50k docs /
20k vectors, same statistical recipe), best of N passes timed like the
bench (``harness.time_query``: settle, then a noop-sink write of the
full result), and prints a ratio table. A family scales linearly when
wall_10x / wall_1x stays near the data ratio (10) or below; with 32
local cores, small-scale runs are scheduling-bound so ratios well
UNDER 10 are expected until tasks saturate.

Usage:
  python scripts/gen_scale_corpus.py /tmp/scale10x 10
  python scripts/scale_sweep.py [/tmp/scale10x] [passes]
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


def main() -> None:
    big_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale10x"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    small_dir = "/root/testdata/sf0.1"

    from etl_procedure_codes_crawler_spark import harness
    from etl_procedure_codes_crawler_spark.session import get_spark

    spark = get_spark(app_name="scale-sweep")

    # the sweep families from VERDICT r8 #3: hamming band pairs (text
    # simhash AND the image-decode variant), the minhash store
    # build/pairs/label lifecycle, cell-scoped semantic dedup, DSIR
    # selection, plus the v4 funnel trio as the composed shape
    names = [
        "simhash_near_dup_pairs",          # hamming_band_pairs on text
        "multimodal_image_neardup_pairs",  # decode + hamming_band_pairs
        "neardup_incremental_documents",   # store build + probe
        "neardup_store_cluster_survivors",  # pairs_within_store + absorbs
        "semantic_dedup_cells",
        "dsir_importance_topk",
        "llm_corpus_prep_v4",
    ]
    # target list override, comma-separated query names (SCALING.md's
    # 100x sweep ran v5, the KMV store, containment, margin-ANN, the
    # streaming gates, unigram EM and the blocklist through it)
    env_names = os.environ.get("SPARK_GRAFT_SWEEP_QUERIES", "")
    if env_names:
        names = [n for n in env_names.split(",") if n]
    small_dir = os.environ.get("SPARK_GRAFT_SWEEP_SMALL", small_dir)

    def best(name: str, sf_dir: str) -> tuple[float, int]:
        t_best = min(harness.time_query(spark, name, sf_dir) for _ in range(passes))
        # a row count, taken outside the timer
        rows = harness.registry()[name](spark, sf_dir).count()
        return round(t_best, 2), rows

    harness.warm_up(spark, small_dir)

    print(f"{'query':38s} {'1x sec':>8s} {'10x sec':>8s} "
          f"{'ratio':>6s} {'rows 1x':>9s} {'rows 10x':>9s}")
    for name in names:
        t1, r1 = best(name, small_dir)
        # the scaffold memo keys on sf_dir, so the 10x run builds its
        # own store; for lifecycle queries the FIRST pass at each dir
        # carries the build — report best-of-N like the bench does
        t10, r10 = best(name, big_dir)
        ratio = round(t10 / t1, 2) if t1 > 0 else float("inf")
        print(f"{name:38s} {t1:8.2f} {t10:8.2f} {ratio:6.2f} "
              f"{r1:9d} {r10:9d}")

    spark.stop()


if __name__ == "__main__":
    main()
