"""Distribution-drift monitoring between corpus slices.

A 100 TB training pipeline mixes many sources and re-ingests
continuously; the operational question is "did source X's token
distribution move away from the corpus?" — the signal behind mixture
re-weighting and ingest anomaly alarms.

Drift here is **total-variation distance** between each source's
unigram distribution p and the corpus-wide distribution q:

    TV(p, q) = 1/2 · Σ_t |p(t) − q(t)|
             = Σ_t |cnt_s(t)·N_c − cnt_c(t)·N_s| / (2·N_s·N_c)

The second form is the one implemented: the numerator is an exact
BIGINT sum (order-independent, so Spark's partial aggregation order
cannot perturb it), and the single IEEE division at the end is
bit-identical across engines — the same rational-arithmetic discipline
as the repo's moment/OLS queries. KL divergence would need libm
``log``, which Java's StrictMath and DuckDB's libm do not guarantee to
the last ulp; TV needs no transcendentals and is a true metric.

Scale shape: ONE corpus-sized shuffle (the (source, token) count);
everything downstream is vocabulary×sources sized. The token-level
marginal rides the first aggregation's output (map-side combined), and
the final join broadcasts the vocabulary-sized marginal table.

Overflow bound: the products are cnt·N ≤ N² — fine in BIGINT up to
N ≈ 3·10⁹ tokens per slice; beyond that swap the two product columns
to DECIMAL(38,0) (one-line change, noted inline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text as T


def token_counts(df: DataFrame) -> DataFrame:
    """(token, cnt) unigram counts — the persistable reference
    distribution for :func:`tv_between` (vocabulary-sized output,
    map-side combined)."""
    return (
        df.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def tv_between(a_counts: DataFrame, b_counts: DataFrame) -> DataFrame:
    """One-row exact total-variation distance between two unigram
    count tables (a = the slice under test, b = the reference):
    ``(n_tokens_a, n_tokens_b, tv_distance, top_token)`` where
    top_token is the most over-represented token in a vs b (signed
    diff max, ties by token string). Same rational-arithmetic
    discipline as :func:`token_drift_by_source`; the full outer join
    covers tokens missing from either side exactly. Both inputs are
    vocabulary-sized, so every stage here is metadata-scale."""
    a = a_counts.select("token", F.col("cnt").alias("cnt_a"))
    b = b_counts.select("token", F.col("cnt").alias("cnt_b"))
    n_a = int(a.agg(F.sum("cnt_a")).first()[0] or 0)
    n_b = int(b.agg(F.sum("cnt_b")).first()[0] or 0)
    if n_a == 0 or n_b == 0:
        # an empty side has no distribution; TV defined as 1 when the
        # other side has mass, 0 when both are empty
        spark = a_counts.sparkSession
        return spark.createDataFrame(
            [(n_a, n_b, 0.0 if (n_a == 0 and n_b == 0) else 1.0, None)],
            "n_tokens_a bigint, n_tokens_b bigint, tv_distance double, "
            "top_token string",
        )
    joined = (
        a.join(b, "token", "full_outer")
        .select(
            "token",
            F.coalesce(F.col("cnt_a"), F.lit(0)).alias("cnt_a"),
            F.coalesce(F.col("cnt_b"), F.lit(0)).alias("cnt_b"),
        )
        .withColumn(
            "diff",
            F.col("cnt_a") * F.lit(n_b) - F.col("cnt_b") * F.lit(n_a),
        )
    )
    joined = joined.localCheckpoint(eager=True)  # two tiny consumers
    top = joined.orderBy(
        F.col("diff").desc(), F.col("token").asc()
    ).first()
    abs_sum = int(
        joined.agg(F.sum(F.abs(F.col("diff")))).first()[0] or 0
    )
    spark = a_counts.sparkSession
    # the result is ONE monitoring row computed from vocabulary-sized
    # relations — assembling it driver-side keeps a 1×1 join (a
    # nested-loop operator) out of every caller's plan
    return spark.createDataFrame(
        [
            (
                n_a,
                n_b,
                float(abs_sum) / float(2 * n_a * n_b),
                top["token"] if top is not None else None,
            )
        ],
        "n_tokens_a bigint, n_tokens_b bigint, tv_distance double, "
        "top_token string",
    )


def token_drift_by_source(
    df: DataFrame,
) -> DataFrame:
    """Per-source unigram drift vs the whole corpus.

    Returns one row per source: ``(source, n_tokens, tv_distance,
    top_token)`` where ``top_token`` is the most over-represented
    token in that source relative to the corpus (ties broken by
    token string, so the output is deterministic).
    """
    toks = df.select(
        F.col("source"),
        F.explode(T.tokens("text")).alias("token"),
    )
    # corpus-sized shuffle #1 (and the only one): per-(source, token)
    # counts with map-side partial aggregation
    st = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt_s")
    # vocab×sources sized — pin it so the four downstream consumers
    # read this tiny table instead of re-running the corpus scan
    ).localCheckpoint(eager=True)
    # everything below is vocab×sources sized
    tok = st.groupBy("token").agg(F.sum("cnt_s").alias("cnt_c"))
    src = st.groupBy("source").agg(F.sum("cnt_s").alias("n_s"))
    # the corpus total is ONE number off the pinned vocab-sized table —
    # fold it in as a literal (a broadcast cross join would put a
    # nested-loop operator in the plan for no reason)
    n_c_val = int(st.agg(F.sum("cnt_s")).first()[0] or 0)
    joined = (
        st.join(F.broadcast(tok), "token")
        .join(F.broadcast(src), "source")
        .withColumn("n_c", F.lit(n_c_val))
        # cnt·N products stay BIGINT-exact to ~3e9 tokens/slice; cast
        # these two to decimal(38,0) for corpora beyond that
        .withColumn(
            "diff", F.col("cnt_s") * F.col("n_c") - F.col("cnt_c") * F.col("n_s")
        )
    )
    # tokens ABSENT from a source contribute |0·N_c − cnt_c·N_s| each;
    # rather than materializing source×vocab rows, fold them in closed
    # form: Σ_{t∉s} cnt_c·N_s = N_s·(N_c − Σ_{t∈s} cnt_c)
    per_source = joined.groupBy("source", "n_s", "n_c").agg(
        F.sum(F.abs(F.col("diff"))).alias("abs_present"),
        F.sum("cnt_c").alias("cov_s"),
    ).withColumn(
        "abs_sum",
        F.col("abs_present")
        + F.col("n_s") * (F.col("n_c") - F.col("cov_s")),
    )
    top = (
        joined.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("diff").desc(), F.col("token").asc()
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select("source", F.col("token").alias("top_token"))
    )
    return (
        per_source.join(top, "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            (
                F.col("abs_sum").cast("double")
                / (F.lit(2) * F.col("n_s") * F.col("n_c")).cast("double")
            ).alias("tv_distance"),
            "top_token",
        )
    )
