"""UniMax budget allocation semantics (llm/mixture.py)."""

from __future__ import annotations

import pytest

from etl_procedure_codes_crawler_spark.llm.mixture import (
    source_token_stats,
    unimax_budgets,
)

# skewed per-source token counts: tiny sources must cap at the epoch
# ceiling, big ones must split the remainder evenly
SKEWED = [
    ("tiny_a", 3, 50),
    ("tiny_b", 2, 80),
    ("mid", 10, 1000),
    ("big_a", 40, 6000),
    ("big_b", 50, 7000),
]


def _py_unimax(rows, max_epochs, budget):
    """Reference replica of the exact integer spec."""
    xs = sorted(rows, key=lambda r: (r[2], r[0]))
    n = len(xs)
    k, p = 0, 0
    for i, (_, _, c) in enumerate(xs, 1):
        if max_epochs * c * (n - i + 1) + max_epochs * p <= budget:
            k += 1
            p += c
        else:
            break
    share = (budget - max_epochs * p) // (n - k) if n > k else None
    out = {}
    for i, (s, d, c) in enumerate(xs):
        capped = i < k
        alloc = max_epochs * c if capped else share
        out[s] = (d, c, capped, alloc, alloc / c)
    return out


def _per_source(spark, rows=SKEWED):
    return spark.createDataFrame(
        rows, "source string, n_docs long, n_tokens long"
    )


class TestUnimax:
    def test_matches_python_replica_in_mixed_regime(self, spark):
        budget = 30_000  # caps tiny_a/tiny_b/mid, splits across big_*
        got = {
            r.source: (r.n_docs, r.n_tokens, r.capped, r.alloc_tokens, r.epochs)
            for r in unimax_budgets(
                _per_source(spark), max_epochs=4, budget_tokens=budget
            ).collect()
        }
        want = _py_unimax(SKEWED, 4, budget)
        assert got == want
        assert any(v[2] for v in got.values())  # some capped
        assert any(not v[2] for v in got.values())  # some not

    def test_full_cap_when_budget_exceeds_ceilinged_corpus(self, spark):
        total = sum(c for _, _, c in SKEWED)
        out = unimax_budgets(
            _per_source(spark), max_epochs=4, budget_tokens=4 * total
        ).collect()
        assert all(r.capped for r in out)
        assert all(r.alloc_tokens == 4 * r.n_tokens for r in out)
        assert all(r.epochs == 4.0 for r in out)

    def test_no_cap_splits_evenly_within_budget(self, spark):
        # fair share 900/5=180 < the smallest ceiling 4*50=200 → k=0
        budget = 900
        out = unimax_budgets(
            _per_source(spark), max_epochs=4, budget_tokens=budget
        ).collect()
        assert not any(r.capped for r in out)
        allocs = {r.alloc_tokens for r in out}
        assert allocs == {budget // len(SKEWED)}
        spent = sum(r.alloc_tokens for r in out)
        assert spent <= budget and budget - spent < len(SKEWED)

    def test_ceiling_never_exceeded_and_budget_never_overspent(self, spark):
        for budget in (500, 5_000, 30_000, 60_000, 200_000):
            out = unimax_budgets(
                _per_source(spark), max_epochs=3, budget_tokens=budget
            ).collect()
            assert all(r.alloc_tokens <= 3 * r.n_tokens for r in out)
            assert sum(r.alloc_tokens for r in out) <= budget

    def test_budget_frac_matches_explicit_tokens(self, spark):
        total = sum(c for _, _, c in SKEWED)
        by_frac = sorted(
            map(
                tuple,
                unimax_budgets(
                    _per_source(spark), max_epochs=4, budget_frac_pct=150
                ).collect(),
            )
        )
        by_tokens = sorted(
            map(
                tuple,
                unimax_budgets(
                    _per_source(spark),
                    max_epochs=4,
                    budget_tokens=(total * 150) // 100,
                ).collect(),
            )
        )
        assert by_frac == by_tokens

    def test_empty_input_yields_empty_output(self, spark):
        empty = spark.createDataFrame(
            [], "source string, n_docs long, n_tokens long"
        )
        assert unimax_budgets(empty, budget_tokens=100).count() == 0

    def test_exactly_one_budget_arg_required(self, spark):
        ps = _per_source(spark)
        with pytest.raises(ValueError, match="exactly one"):
            unimax_budgets(ps)
        with pytest.raises(ValueError, match="exactly one"):
            unimax_budgets(ps, budget_tokens=10, budget_frac_pct=50)


class TestSourceTokenStats:
    def test_counts_whitespace_tokens_per_source(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a", "one two three"),
                (2, "a", "four"),
                (3, "b", "  five   six "),
            ],
            "doc_id long, source string, text string",
        )
        got = {
            r.source: (r.n_docs, r.n_tokens)
            for r in source_token_stats(docs).collect()
        }
        assert got == {"a": (2, 4), "b": (1, 2)}


def test_gate_query_runs_in_mixed_regime(spark, sf_dir):
    """The registered query's constants must exercise BOTH branches on
    the driver's correctness SF (capped prefix + even split)."""
    import etl_procedure_codes_crawler_spark.llm.queries  # noqa: F401
    from etl_procedure_codes_crawler_spark.plans.relational import QUERIES

    out = QUERIES["unimax_source_budgets"](spark, sf_dir).collect()
    assert len(out) == 20
    assert all(r.alloc_tokens <= 4 * r.n_tokens for r in out)
    if any(r.capped for r in out):
        # capped sources are exactly the smallest by (tokens, source)
        capped_max = max(r.n_tokens for r in out if r.capped)
        uncapped_min = min(r.n_tokens for r in out if not r.capped)
        assert capped_max <= uncapped_min


class TestDoremi:
    """DoReMi-style excess-loss reweighting (mixture.doremi_*):
    bigram-LM substrate pinned against a pure-Python replica,
    decision structure pinned on planted headroom."""

    def _replica_stats(self, rows, k=0.5):
        """Pure-Python replica of doremi_domain_stats."""
        import math
        from collections import Counter

        by_src_bg = Counter()
        for src, text in rows:
            t = text.split()
            for a, b in zip(t, t[1:]):
                by_src_bg[(src, a, b)] += 1
        g2 = Counter()
        g1 = Counter()
        d1 = Counter()
        vg = set()
        vd = {}
        for src, text in rows:
            for w in text.split():
                vg.add(w)
                vd.setdefault(src, set()).add(w)
        for (src, a, b), c in by_src_bg.items():
            g2[(a, b)] += c
            g1[a] += c
            d1[(src, a)] += c
        out = {}
        for (src, a, b), c in by_src_bg.items():
            ref = math.floor(
                -math.log((g2[(a, b)] + k) / (g1[a] + k * len(vg))) * 1e9
            )
            own = math.floor(
                -math.log((c + k) / (d1[(src, a)] + k * len(vd[src]))) * 1e9
            )
            n, r, o = out.get(src, (0, 0, 0))
            out[src] = (n + c, r + c * ref, o + c * own)
        return out

    def _rows(self):
        # domain "niche" is dominated by bigrams NO other domain uses:
        # the global reference model dilutes them (big headroom);
        # domain "generic" speaks pure corpus-average (no headroom)
        rows = []
        for i in range(6):
            rows.append(("generic", "the data the data the data"))
            rows.append(("blend", "the data flux node flux node"))
            rows.append(("niche", "flux node flux node flux node"))
        return rows

    def test_stats_match_python_replica(self, spark):
        from etl_procedure_codes_crawler_spark.llm.mixture import (
            doremi_domain_stats,
        )

        rows = self._rows()
        df = spark.createDataFrame(rows, "source string, text string")
        got = {
            r["source"]: (
                r["n_bigrams"], r["ref_nll_nano"], r["own_nll_nano"]
            )
            for r in doremi_domain_stats(df).collect()
        }
        assert got == self._replica_stats(rows)

    def test_headroom_domain_upweighted(self, spark):
        """Excess loss = how much the GLOBAL model dilutes a domain's
        continuations. "shadowed" says x->a while "shadower" says
        x->b, so the global model splits x's continuation and both
        carry headroom; "unambiguous" uses bigrams nobody else
        touches, so the global model already fits it (≈zero excess
        beyond vocabulary smoothing) and it gets the smallest
        weight — the DoReMi decision structure."""
        from etl_procedure_codes_crawler_spark.llm.mixture import (
            doremi_domain_weights,
        )

        rows = []
        for _ in range(6):
            rows.append(("shadowed", "x a x a x a x a"))
            rows.append(("shadower", "x b x b x b x b"))
            rows.append(("unambiguous", "q r q r q r q r"))
        df = spark.createDataFrame(rows, "source string, text string")
        out = {
            r["source"]: r
            for r in doremi_domain_weights(df, step=5.0).collect()
        }
        assert sum(r["weight_ppm"] for r in out.values()) == 1_000_000
        assert (
            out["shadowed"]["weight_ppm"]
            > out["unambiguous"]["weight_ppm"]
        )
        assert (
            out["shadower"]["weight_ppm"]
            > out["unambiguous"]["weight_ppm"]
        )
        assert all(r["excess_nano"] >= 0 for r in out.values())

    def test_uniform_mix_floor(self, spark):
        """uniform_mix_pct guarantees every domain at least
        mix/n of the budget (the paper's smoothing floor)."""
        from etl_procedure_codes_crawler_spark.llm.mixture import (
            doremi_domain_weights,
        )

        df = spark.createDataFrame(
            self._rows(), "source string, text string"
        )
        out = doremi_domain_weights(
            df, step=50.0, uniform_mix_pct=30
        ).collect()
        floor = 0.30 * 1_000_000 / len(out)
        assert all(r["weight_ppm"] >= floor - 1 for r in out)

    def test_deterministic_across_runs(self, spark):
        from etl_procedure_codes_crawler_spark.llm.mixture import (
            doremi_domain_weights,
        )

        df = spark.createDataFrame(
            self._rows(), "source string, text string"
        ).repartition(7)
        a = sorted(map(tuple, doremi_domain_weights(df).collect()))
        b = sorted(map(tuple, doremi_domain_weights(df).collect()))
        assert a == b

    def test_empty_input(self, spark):
        from etl_procedure_codes_crawler_spark.llm.mixture import (
            doremi_domain_weights,
        )

        df = spark.createDataFrame([], "source string, text string")
        assert doremi_domain_weights(df).count() == 0
