"""Total-variation token drift (llm/drift.py) vs a pure replica."""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from etl_procedure_codes_crawler_spark.llm import drift as DR


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )


def _replica(rows):
    """Exact TV per source with Fractions — no float at all."""
    per_src: dict[str, Counter] = {}
    corpus: Counter = Counter()
    for _, text, src in rows:
        toks = text.split()
        per_src.setdefault(src, Counter()).update(toks)
        corpus.update(toks)
    n_c = sum(corpus.values())
    out = {}
    for src, cnt in per_src.items():
        n_s = sum(cnt.values())
        tv = Fraction(0)
        for t in corpus:
            tv += abs(
                Fraction(cnt.get(t, 0), n_s) - Fraction(corpus[t], n_c)
            )
        out[src] = (n_s, float(tv / 2))
    return out


def test_single_source_has_zero_drift(spark):
    rows = [(1, "a b c a", "only"), (2, "c d", "only")]
    got = DR.token_drift_by_source(_docs(spark, rows)).collect()
    assert len(got) == 1
    assert got[0].tv_distance == 0.0 and got[0].n_tokens == 6


def test_matches_fraction_replica(spark):
    rows = [
        (1, "a a b c", "s1"),
        (2, "b c d d d", "s1"),
        (3, "x y z x", "s2"),
        (4, "a x", "s2"),
        (5, "a b x y", "s3"),
    ]
    want = _replica(rows)
    got = {
        r.source: (r.n_tokens, r.tv_distance)
        for r in DR.token_drift_by_source(_docs(spark, rows)).collect()
    }
    assert set(got) == set(want)
    for src in want:
        assert got[src][0] == want[src][0]
        assert abs(got[src][1] - want[src][1]) < 1e-15, (src, got, want)


def test_disjoint_vocab_tv_reflects_mass_split(spark):
    # two sources with fully disjoint vocab, equal sizes: for each
    # source, half the corpus mass is "missing" and its own mass is
    # doubled -> TV = 1/2
    rows = [(1, "a a b b", "s1"), (2, "x x y y", "s2")]
    got = {
        r.source: r.tv_distance
        for r in DR.token_drift_by_source(_docs(spark, rows)).collect()
    }
    assert got == {"s1": 0.5, "s2": 0.5}


def test_top_token_is_most_over_represented(spark):
    # 'q' appears only in s1 and dominates it
    rows = [(1, "q q q q a", "s1"), (2, "a a a a a", "s2")]
    got = {
        r.source: r.top_token
        for r in DR.token_drift_by_source(_docs(spark, rows)).collect()
    }
    assert got["s1"] == "q" and got["s2"] == "a"


def test_one_corpus_sized_exchange(spark):
    df = _docs(spark, [(1, "a b", "s1"), (2, "c d", "s2")])
    plan = (
        DR.token_drift_by_source(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the (source, token) count is eagerly pinned (vocab×sources
    # rows), so the final plan must consume that checkpoint — zero
    # corpus re-scans, zero explodes — instead of re-deriving the
    # corpus-sized aggregation for each of the four marginal consumers
    assert plan.count("Generate explode") == 0
    assert "ExistingRDD" in plan


class TestTvBetween:
    def _counts(self, spark, text_rows):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(text_rows)],
            "doc_id bigint, text string",
        )
        return DR.token_counts(df)

    def test_identical_distributions_zero(self, spark):
        a = self._counts(spark, ["a b c", "a b"])
        # b is an exact 2x copy of a: identical proportions
        b = self._counts(spark, ["a b c", "a b", "a b c", "a b"])
        row = DR.tv_between(a, b).collect()[0]
        assert row.tv_distance == 0.0

    def test_fraction_replica(self, spark):
        a_rows, b_rows = ["a a b x"], ["a b b c c"]
        a, b = self._counts(spark, a_rows), self._counts(spark, b_rows)
        row = DR.tv_between(a, b).collect()[0]
        pa = {"a": 2 / 4, "b": 1 / 4, "x": 1 / 4}
        pb = {"a": 1 / 5, "b": 2 / 5, "c": 2 / 5}
        want = sum(
            abs(pa.get(t, 0.0) - pb.get(t, 0.0)) for t in set(pa) | set(pb)
        ) / 2
        assert abs(row.tv_distance - want) < 1e-15
        assert row.top_token == "a"  # most over-represented in a
        assert row.n_tokens_a == 4 and row.n_tokens_b == 5

    def test_empty_sides(self, spark):
        empty = self._counts(spark, []).filter("1=0")
        a = self._counts(spark, ["a b"])
        assert DR.tv_between(empty, a).collect()[0].tv_distance == 1.0
        assert DR.tv_between(a, empty).collect()[0].tv_distance == 1.0
        assert DR.tv_between(empty, empty).collect()[0].tv_distance == 0.0


class TestStreamingDriftMonitor:
    def test_replayed_batch_replaces_its_metric_row(self, spark, tmp_path):
        from etl_procedure_codes_crawler_spark.streaming.drift import (
            build_token_reference,
            stream_token_drift,
        )
        from etl_procedure_codes_crawler_spark.streaming.incremental import (
            stage_stream_files,
        )

        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "a x y")], "doc_id bigint, text string"
        )
        ref = str(tmp_path / "ref")
        build_token_reference(docs, ref)
        src = tmp_path / "in"
        stage_stream_files(docs.coalesce(1), str(src), "b")
        metrics = str(tmp_path / "metrics")

        def run(ck):
            q = stream_token_drift(
                spark, str(src), docs.schema, ref, metrics, ck
            )
            q.awaitTermination(60)
            q.stop()

        run(str(tmp_path / "ck1"))
        # crash-replay: fresh checkpoint reprocesses the same file ->
        # the metric row for batch 0 is REPLACED, not duplicated
        run(str(tmp_path / "ck2"))
        rows = spark.read.parquet(metrics).collect()
        assert len(rows) == 1
        assert rows[0].tv_distance == 0.0  # batch IS the reference
