"""UniMax-style source budget allocation for training mixtures.

Given per-source token counts, a total training-token budget, and a
repeat ceiling, UniMax (Chung et al., ICLR 2023 — public paper)
allocates the budget by WATER-FILLING: every source is repeated up to
``max_epochs`` times, small sources cap out at their ceiling, and the
remaining budget is split evenly across the sources still unfilled.
This replaces ad-hoc temperature sampling with an allocation that (a)
never over-repeats a small source past the ceiling and (b) gives
every large source the same token count — the fairness property the
paper demonstrates for multilingual pretraining, equally applicable
to any source/domain axis.

Exact integer spec (cross-engine determinism — the same discipline as
DSIR's micro-units): order sources by (token_count, source) ascending;
source ``i`` (1-based, ``n`` sources, prefix token sum ``P``) is
CAPPED iff

    max_epochs * c_i * (n - i + 1) + max_epochs * P_{i-1} <= budget

(the greedy "fits under its ceiling within the current fair share"
test; capping is monotone in ``i``, so the capped set is a prefix).
Capped sources get exactly ``max_epochs * c_i`` tokens; the rest each
get ``(budget - max_epochs * P_k) div (n - k)`` — integer division,
with the sub-``(n-k)``-token remainder deliberately unallocated. All
arithmetic is on BIGINTs, so Spark and the SQL oracle agree bit for
bit; the only double is the derived ``epochs`` ratio of two exact
integers (identical IEEE result on both engines).

Spark shape (100 TB story): the ONLY corpus-sized work is the
per-source token aggregation (map-side combinable). The allocation
itself runs on the per-source relation — at most thousands of rows at
any realistic source axis — packed into ONE array row and solved with
JVM higher-order functions (the prefix sums are O(sources²) array
algebra inside a single row: microseconds, no window, no extra
shuffle). A global ``Window.orderBy`` would hit the repo's banned
single-partition WindowExec for no benefit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens


def source_token_stats(
    df: DataFrame,
) -> DataFrame:
    """(source, n_docs, n_tokens) per source — the corpus-sized pass
    feeding :func:`unimax_budgets`. Whitespace token counts, matching
    the corpus-stats family."""
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )


def unimax_budgets(
    per_source: DataFrame,
    max_epochs: int = 4,
    budget_tokens: int | None = None,
    budget_frac_pct: int | None = None,
) -> DataFrame:
    """UniMax water-filling over a (source, n_docs, n_tokens) relation
    → one row per source with

    - ``capped``: whether the source hit its ``max_epochs`` ceiling,
    - ``alloc_tokens``: its exact integer token allocation,
    - ``epochs``: ``alloc_tokens / n_tokens`` (≤ ``max_epochs``).

    The budget is ``budget_tokens`` if given, else
    ``(budget_frac_pct * total) div 100`` (integer percent of the
    corpus total — kept integral so both engines derive the identical
    budget). Exactly one of the two must be provided. An empty input
    yields an empty result."""
    if (budget_tokens is None) == (budget_frac_pct is None):
        raise ValueError(
            "unimax_budgets: provide exactly one of budget_tokens / "
            "budget_frac_pct"
        )
    e = F.lit(int(max_epochs)).cast("long")
    packed = (
        per_source.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("n_tokens").cast("long").alias("c"),
                        F.col("source").alias("s"),
                        F.col("n_docs").cast("long").alias("d"),
                    )
                )
            ).alias("xs"),
            F.sum(F.col("n_tokens").cast("long")).alias("total"),
        )
        # groupless agg on an empty input still returns one row (empty
        # list, NULL total) — drop it so empty in → empty out
        .where(F.size("xs") > 0)
    )
    n = F.size("xs")
    cs = F.transform(F.col("xs"), lambda x: x["c"])
    budget = (
        F.lit(int(budget_tokens)).cast("long")
        if budget_tokens is not None
        else F.expr(f"(total * {int(budget_frac_pct)}L) div 100L")
    )

    def presum(i):
        # token sum of the i smallest sources (i may be 0 → empty
        # slice → the initial accumulator)
        return F.aggregate(
            F.slice(cs, F.lit(1), i),
            F.lit(0).cast("long"),
            lambda acc, c: acc + c,
        )

    capped_arr = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: (
            e * F.element_at(cs, i) * (n - i + 1) + e * presum(i - 1)
        )
        <= budget,
    )
    # capping is monotone (a source that exceeds its fair share only
    # looks worse to every later, larger source), so the capped set is
    # a prefix and its size identifies it completely
    k = F.size(F.filter(capped_arr, lambda b: b))
    meta = packed.select(
        "xs",
        n.alias("n"),
        k.alias("k"),
        budget.alias("b"),
        (e * presum(k)).alias("p_k"),
    ).withColumn(
        "share",
        F.when(
            F.col("n") > F.col("k"),
            F.expr("(b - p_k) div (n - k)"),
        ).cast("long"),
    )
    x = F.col("x")
    alloc = F.when(F.col("i0") < F.col("k"), e * x["c"]).otherwise(
        F.col("share")
    )
    return meta.select(
        "n", "k", "share", F.posexplode("xs").alias("i0", "x")
    ).select(
        x["s"].alias("source"),
        x["d"].alias("n_docs"),
        x["c"].alias("n_tokens"),
        (F.col("i0") < F.col("k")).alias("capped"),
        alloc.alias("alloc_tokens"),
        (alloc.cast("double") / x["c"]).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al., NeurIPS 2023,
# arXiv:2305.10429 — public paper)
# ---------------------------------------------------------------------------
#
# DoReMi sets pretraining mixture weights by EXCESS LOSS: domains where
# a generic reference model underperforms the domain's own achievable
# loss carry learnable headroom and get upweighted (Group-DRO
# exponentiated-gradient updates on the proxy run, final weights mixed
# with uniform). The in-engine distillation keeps the decision
# structure and replaces the neural proxy/reference pair with the
# add-k bigram LMs this module family already uses:
#
#   ref model  = bigram LM trained on the WHOLE corpus
#   own model  = bigram LM trained on the domain alone (per domain)
#   excess_d   = max(0, NLL_ref(domain d) − NLL_own(domain d))
#   weight_d   ∝ exp(step · excess_d), then mixed with uniform
#
# NLL_own is the in-domain achievable baseline, so excess_d measures
# exactly what DoReMi's proxy headroom measures: how much better a
# model COULD fit domain d than the generic one does.
#
# Scale shape (100 TB): the ONLY corpus-sized work is ONE groupBy over
# the exploded (source, w1, w2) bigram relation. Both models' counts
# derive from that count relation by rollup (global c(w1,w2) = Σ over
# sources, marginals = Σ over w2), so no second corpus pass and no
# corpus-sized window. Per-bigram log-probs are FLOOR-snapped to
# integer nano-nats and summed as BIGINTs weighted by their counts —
# order-independent, so the per-domain sums are bit-stable across
# partitionings (the ln() itself is libm, which is why the query
# registers rows-only with a numpy replica test instead of a DuckDB
# oracle). The exponentiated-gradient softmax runs on the
# domain-count-sized relation on the driver.


def doremi_domain_stats(
    docs: DataFrame,
) -> DataFrame:
    """(source, n_bigrams, ref_nll_nano, own_nll_nano) per domain —
    the excess-loss substrate: total negative log-likelihood of the
    domain's bigram stream under the corpus-global reference LM and
    under the domain's own LM, both add-0.5 smoothed, in exact
    integer nano-nats (per-distinct-bigram FLOOR, multiplied by the
    bigram's count — order-independent integer sums)."""
    toks = tokens("text")
    base = docs.select(F.col("source"), toks.alias("_t"))
    n_big = F.greatest(F.size("_t") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(F.col("_t"), 1, n_big),
        F.slice(F.col("_t"), 2, n_big),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # THE one corpus-sized bigram exchange — MATERIALIZED (eager local
    # checkpoint) so the three model rollups below consume the
    # distinct-bigram relation instead of re-exploding the corpus per
    # branch (the unmaterialized plan re-scanned documents five times)
    cnt = (
        base.select("source", F.explode(bigrams).alias("bg"))
        .groupBy("source", F.col("bg.w1").alias("w1"),
                 F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    # vocab sizes: ONE token pass feeding both the per-domain and the
    # global distinct counts (the per-(source, token) relation is
    # vocabulary-bounded)
    tokc = (
        docs.select("source", F.explode(toks).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("_tc"))
        .localCheckpoint(eager=True)
    )
    v_global = tokc.select("t").distinct().count()
    v_dom = tokc.groupBy("source").agg(
        F.count(F.lit(1)).alias("v_dom")
    )
    # model counts by rollup of the count relation (vocab²-bounded)
    g2 = cnt.groupBy("w1", "w2").agg(F.sum("c").alias("gc2"))
    g1 = g2.groupBy("w1").agg(F.sum("gc2").alias("gc1"))
    d1 = cnt.groupBy("source", "w1").agg(F.sum("c").alias("dc1"))
    kk = 0.5
    nano = F.lit(1_000_000_000.0)
    # g2/g1/d1 are distinct-bigram/-unigram relations: tiny on the
    # synthetic vocabulary but web-scale corpora have billions of
    # distinct bigrams — leave join strategy to Catalyst/AQE (the
    # joins are equi-keyed on the count relation's own grouping keys);
    # only the domain-sized vocab relation is a guaranteed broadcast
    scored = (
        cnt.join(g2, ["w1", "w2"])
        .join(g1, ["w1"])
        .join(d1, ["source", "w1"])
        .join(F.broadcast(v_dom), ["source"])
        .select(
            "source",
            "c",
            F.floor(
                -F.log(
                    (F.col("gc2") + F.lit(kk))
                    / (F.col("gc1") + F.lit(kk * v_global))
                )
                * nano
            ).cast("long").alias("_ref_nano"),
            F.floor(
                -F.log(
                    (F.col("c") + F.lit(kk))
                    / (F.col("dc1") + F.lit(kk) * F.col("v_dom"))
                )
                * nano
            ).cast("long").alias("_own_nano"),
        )
    )
    return scored.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.sum(F.col("c") * F.col("_ref_nano")).cast("long")
        .alias("ref_nll_nano"),
        F.sum(F.col("c") * F.col("_own_nano")).cast("long")
        .alias("own_nll_nano"),
    )


def doremi_domain_weights(
    docs: DataFrame,
    step: float = 1.0,
    uniform_mix_pct: int = 20,
) -> DataFrame:
    """(source, n_bigrams, ref_nll_nano, own_nll_nano, excess_nano,
    weight_ppm) — DoReMi-style mixture weights: softmax of
    ``step × mean excess loss`` per domain, mixed with
    ``uniform_mix_pct`` percent uniform (the paper's final-weight
    smoothing), expressed in integer parts-per-million that sum to
    exactly 1,000,000 (largest-remainder rounding — deterministic).

    The softmax runs on the driver over the domain-sized stats
    relation (domains are metadata, never corpus-scale); everything
    corpus-sized happened in :func:`doremi_domain_stats`' single
    groupBy."""
    if not 0 <= int(uniform_mix_pct) <= 100:
        raise ValueError(
            f"uniform_mix_pct must be in [0, 100], got {uniform_mix_pct}"
        )
    import math

    stats = doremi_domain_stats(docs).collect()
    if not stats:
        spark = docs.sparkSession
        return spark.createDataFrame(
            [],
            "source string, n_bigrams long, ref_nll_nano long, "
            "own_nll_nano long, excess_nano long, weight_ppm long",
        )
    rows = sorted(stats, key=lambda r: r["source"])
    excess = []
    for r in rows:
        if r["n_bigrams"]:
            e = max(0, r["ref_nll_nano"] - r["own_nll_nano"]) / r["n_bigrams"]
        else:
            e = 0.0
        excess.append(e / 1e9)  # mean nats
    m = max(excess)
    exps = [math.exp(float(step) * (e - m)) for e in excess]
    z = sum(exps)
    mix = int(uniform_mix_pct) / 100.0
    n = len(rows)
    weights = [(1.0 - mix) * x / z + mix / n for x in exps]
    # largest-remainder rounding to ppm: integer weights, exact total
    raw = [w * 1_000_000 for w in weights]
    ppm = [int(w) for w in raw]
    short = 1_000_000 - sum(ppm)
    order = sorted(
        range(n), key=lambda i: (-(raw[i] - ppm[i]), rows[i]["source"])
    )
    for i in order[:short]:
        ppm[i] += 1
    spark = docs.sparkSession
    out = [
        (
            r["source"],
            r["n_bigrams"],
            r["ref_nll_nano"],
            r["own_nll_nano"],
            max(0, r["ref_nll_nano"] - r["own_nll_nano"]),
            ppm[i],
        )
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(
        out,
        "source string, n_bigrams long, ref_nll_nano long, "
        "own_nll_nano long, excess_nano long, weight_ppm long",
    )
