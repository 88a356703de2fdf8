"""Sketch accuracy floors: the approximate (rows-only) gate queries
must stay within stated error of their exact counterparts, so the
approximate paths can't silently degrade."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.plans.relational import QUERIES, load


def test_heavy_hitters_within_error_of_exact(spark, sf_dir):
    got = {
        r.token: r.approx_count
        for r in QUERIES["heavy_hitter_tokens"](spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents")
    exact_rows = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("t"))
        .limit(30)
        .collect()
    )
    exact = {r.t: r.n for r in exact_rows}
    assert len(got) == 10
    # every reported heavy hitter is a true top-30 token, and its
    # estimated count is within 5% of the exact count (the sketch
    # capacity of 30 is generous for this corpus's skew profile)
    for token, approx in got.items():
        assert token in exact, token
        assert abs(approx - exact[token]) / exact[token] < 0.05, (
            token, approx, exact[token],
        )
