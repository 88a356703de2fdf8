"""Poisson bootstrap: uncertainty quantification for corpus statistics
in ONE distributed pass (Chamandy, Muralidharan, Najmi & Naidu 2012,
"Estimating Uncertainty for Massive Data Streams" — the map-reduce
bootstrap Google built for exactly this shape).

The classical bootstrap resamples n rows WITH replacement B times —
impossible to do literally at corpus scale (each replicate is a full
shuffle of the corpus). The Poisson trick: in a resample of size n,
each row's multiplicity is Binomial(n, 1/n) → Poisson(1) as n grows,
and Poisson draws are INDEPENDENT per row — so every row can generate
its own B multiplicities locally, with no coordination, no global
sample, no second pass. One explode (×B) plus a groupBy computes all
B replicate statistics; the per-group spread of replicate means IS the
sampling distribution.

Determinism (what makes this family hash-oracle-able — engines do not
share an RNG): the uniform draw is md5-derived (u = md5-60(doc_id:b)
/ 2^60, the cross-engine hash llm/text.py md5_h60), and the
Poisson(1) inverse CDF is applied via PRECOMPUTED decimal literal
thresholds (cumulative e⁻¹·Σ1/k!) — libm's exp never runs at query
time in either engine, so the weights are bit-reproducible. Replicate
sums stay INTEGER (weight × token count), and each replicate mean is
a single IEEE division of two exact integers — no float-accumulation
order to disagree on. Weights are capped at 7 (P(Poisson(1) > 7) ≈
1e-8; at that point u's 60 bits are the binding precision anyway).

The interval is the order-statistic CI: replicate means ranked per
group, ranks 2 and B-1 of B=32 (≈93.75% coverage). Replicates whose
total weight is zero are dropped in BOTH engines before ranking
(P ≈ e^(-group size) — astronomically rare for any real group, but
NULL ordering differs across engines, so the contract is pinned, not
latent)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import md5_h60


#: cumulative Poisson(1) CDF at k = 0..6, as exact double literals —
#: shared verbatim with the DuckDB oracle (see queries.py)
POISSON1_CUM: tuple[float, ...] = tuple(
    c
    for c in (lambda: (
        # computed once at import; repr()-stable doubles
        [sum(math.exp(-1.0) / math.factorial(j) for j in range(k + 1))
         for k in range(7)]
    ))()
)


def poisson1_weight(u: Column) -> Column:
    """Poisson(1) multiplicity via inverse CDF over literal
    thresholds: w = #{k : u > F(k)} ∈ [0, 7]."""
    w = F.lit(0)
    for t in POISSON1_CUM:
        w = w + (u > F.lit(float(t))).cast("int")
    return w


def u60(*cols: Column) -> Column:
    """Cross-engine uniform in (0, 1): md5-60 of the concatenated key
    over 2^60 (:func:`.text.md5_h60`)."""
    key = F.concat_ws(":", *cols)
    return md5_h60(key) / F.lit(float(1 << 60))


def bootstrap_ci_by_group(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """(group, ci_lo, ci_hi): the order-statistic Poisson-bootstrap
    interval of the per-``source`` mean of ``value_col`` (must be
    integer-typed — replicate sums stay exact). The mean itself is not
    returned: it would cost a second aggregate and a join, and the one
    caller reads only the interval.

    Scale shape: the ×B explode is the only inflation and it carries
    three small columns, not the corpus; one groupBy computes all
    B·|groups| replicate means map-side-combined; ranking runs on the
    metadata-sized replicate relation."""
    d = df.select(
        F.col("source").alias("grp"),
        F.col("doc_id").alias("_id"),
        F.col(value_col).cast("bigint").alias("_n"),
    ).where(F.col("source").isNotNull() & F.col("doc_id").isNotNull())
    # the id filter pins the NULL contract cross-engine: Spark's
    # concat_ws SKIPS a NULL argument (a NULL id would still draw a
    # real uniform) while SQL '||' propagates NULL (weight 0) — so
    # NULL ids are excluded on both sides instead
    rep = d.select(
        "grp",
        "_id",
        "_n",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    )
    w = rep.withColumn(
        "w", poisson1_weight(u60(F.col("_id").cast("string"), F.col("b").cast("string")))
    )
    means = (
        w.groupBy("grp", "b")
        .agg(
            F.sum(F.col("w").cast("bigint") * F.col("_n")).alias("_wn"),
            F.sum(F.col("w").cast("bigint")).alias("_w"),
        )
        .filter(F.col("_w") > 0)
        .select(
            "grp", "b", (F.col("_wn").cast("double") / F.col("_w")).alias("m")
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("grp").orderBy(F.asc("m"), F.asc("b"))
    )
    ranked = means.withColumn("rk", rk)
    return ranked.groupBy(F.col("grp").alias("group")).agg(
        F.round(F.max(F.when(F.col("rk") == 2, F.col("m"))), 4).alias("ci_lo"),
        F.round(F.max(F.when(F.col("rk") == 31, F.col("m"))), 4).alias("ci_hi"),
    )
