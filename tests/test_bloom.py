"""Bloom membership filter (llm/bloom.py): no false negatives, bounded
false positives, OR-mergeable, shuffle-free probe."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import bloom as B


def _ids(spark, lo, hi, col="fp"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("item-"), F.col("id")).alias(col)
    )


def test_parameters_standard_sizing():
    m, k = B.bloom_parameters(1000, 0.01)
    assert m % 64 == 0
    assert 9000 <= m <= 9664  # ~9.585 bits/key at 1%
    assert k == 7
    with pytest.raises(ValueError):
        B.bloom_parameters(0, 0.01)
    with pytest.raises(ValueError):
        B.bloom_parameters(10, 1.5)


def test_no_false_negatives(spark):
    inserted = _ids(spark, 0, 2000)
    m, k = B.bloom_parameters(2000, 0.01)
    bloom = B.build_bloom(inserted, m, k).localCheckpoint(eager=True)
    probed = B.probe_bloom(inserted, bloom, m, k)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_false_positive_rate_bounded(spark):
    inserted = _ids(spark, 0, 2000)
    fresh = _ids(spark, 1_000_000, 1_010_000)
    m, k = B.bloom_parameters(2000, 0.01)
    bloom = B.build_bloom(inserted, m, k).localCheckpoint(eager=True)
    fp = B.probe_bloom(fresh, bloom, m, k).filter("maybe_seen").count()
    # 1% design point; allow 3x slack for hash variance on 10k probes
    assert fp / 10_000 < 0.03, fp


def test_merge_equals_single_build(spark):
    a, b = _ids(spark, 0, 500), _ids(spark, 500, 1000)
    both = _ids(spark, 0, 1000)
    m, k = B.bloom_parameters(1000, 0.01)
    merged = B.merge_blooms(
        B.build_bloom(a, m, k), B.build_bloom(b, m, k)
    )
    single = B.build_bloom(both, m, k)
    assert merged.exceptAll(single).count() == 0
    assert single.exceptAll(merged).count() == 0


def test_null_values_skipped_and_probe_false(spark):
    df = spark.createDataFrame([("a",), (None,)], "fp string")
    m, k = B.bloom_parameters(10, 0.01)
    bloom = B.build_bloom(df, m, k).localCheckpoint(eager=True)
    out = {r.fp: r.maybe_seen for r in B.probe_bloom(df, bloom, m, k).collect()}
    assert out["a"] is True and out[None] is False


def test_probe_plan_never_shuffles_the_corpus(spark):
    inserted = _ids(spark, 0, 100)
    m, k = B.bloom_parameters(100, 0.01)
    bloom = B.build_bloom(inserted, m, k).localCheckpoint(eager=True)
    plan = (
        B.probe_bloom(inserted, bloom, m, k)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") == k
