"""DSIR-style importance weighting for training-data selection.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023 —
public paper): raw web-scale data is reweighted toward a TARGET
domain by fitting cheap hashed n-gram bucket distributions over both
corpora and scoring every raw document with its importance log-ratio

    w(doc) = sum over n-gram occurrences g of
             log p_target(bucket(g)) - log p_raw(bucket(g))

then keeping the top-k (the deterministic variant of the paper's
importance resampling). The feature space is
hashed unigrams+bigrams folded into ``num_buckets`` buckets — the
distributions are metadata-sized (one row per bucket) no matter how
large the corpora are, which is the whole trick: fitting is one
map-side-combinable count aggregation per corpus, scoring is one
broadcast join.

Spark shape (100 TB story):

- Featurization is pure JVM array algebra: whitespace tokens,
  bigrams via ``transform``/``slice``, and a Horner-mod polynomial
  hash evaluated with ``aggregate`` over the codepoints — no UDF, no
  Python, whole-stage codegen end to end. The hash is the same
  ``(acc*257 + codepoint) % 1_000_000_007`` the winnowing family
  cross-oracles in DuckDB (fingerprint.py), so every query here is
  hash-checkable cross-engine.
- The fitted distribution is a FULL bucket spine (``spark.range``
  joined against the observed counts), exactly ``num_buckets`` rows —
  scoring joins are guaranteed hits and the table broadcasts.
- Per-bucket log-ratios are snapped to INTEGER micro-units
  (``round(log_ratio * 1e6)`` as bigint) before scoring, so a
  document's weight is an exact integer sum — independent of Spark's
  partial-aggregation order AND bit-identical to the oracle's sum
  (float accumulation order across engines would otherwise drift the
  low bits and flip rounded output; the snap happens once per bucket,
  where a single ``log`` evaluation is well inside the 1e-6 grid).
- Selection is ``orderBy(...).limit(k)`` — TakeOrderedAndProject's
  per-partition partial top-k; only k rows per partition shuffle.

The reference engine has no data-selection operator; this family is
part of the beyond-reference training-data layer (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import spread_small_input, tokens

#: modulus shared with the winnowing fingerprint family — keeps every
#: intermediate < 2^63 under (acc*257 + codepoint) per-step reduction
_MOD = 1_000_000_007


def _horner_hash(col: Column) -> Column:
    """Polynomial hash of a string via JVM higher-order functions:
    Horner's rule with per-step modulus over the codepoints. Empty
    string hashes to 0 (the aggregate over an empty array returns the
    initial accumulator)."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 257 + F.ascii(c)) % F.lit(_MOD),
    )


def ngram_buckets_column(
    text_col: Column | str, num_buckets: int
) -> Column:
    """Array of hashed n-gram buckets (unigrams and word bigrams) —
    one element per OCCURRENCE; multiplicity is the feature count
    DSIR weights by."""
    toks = tokens(text_col)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)
    return F.transform(
        grams, lambda g: F.pmod(_horner_hash(g), F.lit(num_buckets))
    )


def ngram_bucket_rows(
    df: DataFrame,
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """(id, bucket) — one row per n-gram occurrence."""
    return spread_small_input(df).select(
        F.col("doc_id").alias("id"),
        F.explode(
            ngram_buckets_column(text_col, num_buckets)
        ).alias("bucket"),
    )


def bucket_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """(bucket, ratio_micro) for EVERY bucket in [0, num_buckets) —
    the Laplace-smoothed importance log-ratio

        log((n_target_b + 1) / (N_target + B))
      - log((n_raw_b    + 1) / (N_raw    + B))

    snapped to integer micro-units. Built as two count aggregations
    (map-side combinable — the n-gram multiset collapses before the
    shuffle) left-joined onto a full ``spark.range`` bucket spine,
    with the corpus totals attached via broadcast scalar aggregates —
    fully lazy, no driver-side collect. Exactly ``num_buckets`` rows:
    broadcast-sized by construction regardless of corpus size.

    An EMPTY corpus (target or raw with zero n-gram occurrences)
    raises at execution time instead of yielding all-NULL ratios —
    NULL ratios would make every downstream weight NULL and
    :func:`importance_topk` would silently return k arbitrary
    documents ordered by id. The guard is a ``raise_error`` branch
    that only evaluates when a ratio comes out NULL, which (smoothing
    keeps every log argument strictly positive) happens exactly when
    a corpus total is NULL — zero cost on the happy path, laziness
    preserved."""
    spark = target.sparkSession

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            ngram_bucket_rows(df, text_col, num_buckets)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    tcnt = counts(target, "t_n")
    rcnt = counts(raw, "r_n")
    t_tot = tcnt.agg(F.sum("t_n").alias("t_total"))
    r_tot = rcnt.agg(F.sum("r_n").alias("r_total"))
    spine = spark.range(num_buckets).select(F.col("id").alias("bucket"))
    b = float(num_buckets)
    smoothed_t = (F.coalesce(F.col("t_n"), F.lit(0)) + 1).cast("double") / (
        F.col("t_total") + b
    )
    smoothed_r = (F.coalesce(F.col("r_n"), F.lit(0)) + 1).cast("double") / (
        F.col("r_total") + b
    )
    return (
        spine.join(tcnt, "bucket", "left")
        .join(rcnt, "bucket", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            F.coalesce(
                F.round((F.log(smoothed_t) - F.log(smoothed_r)) * 1e6).cast(
                    "long"
                ),
                F.raise_error(
                    F.lit(
                        "bucket_log_ratios: target or raw corpus has zero "
                        "n-gram occurrences — importance ratios are "
                        "undefined over an empty distribution"
                    )
                ).cast("long"),
            ).alias("ratio_micro"),
        )
    )


def importance_weights(
    raw: DataFrame,
    ratios: DataFrame,
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """(id, n_grams, weight_micro) per raw document: the exact
    integer sum of per-occurrence bucket log-ratios (micro-units).
    ``ratios`` must come from :func:`bucket_log_ratios` with the same
    ``num_buckets`` — the full spine guarantees every
    occurrence joins; the join broadcasts (num_buckets rows)."""
    occ = ngram_bucket_rows(raw, text_col, num_buckets)
    return (
        occ.join(F.broadcast(ratios), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("ratio_micro").alias("weight_micro"),
        )
    )


def importance_topk(
    raw: DataFrame,
    ratios: DataFrame,
    k: int,
    text_col: str = "text",
    num_buckets: int = 4096,
) -> DataFrame:
    """The deterministic DSIR variant: the ``k`` raw documents most
    target-like by importance weight, ties broken by id. Integer sort
    keys → stable cross-engine; TakeOrderedAndProject keeps the
    shuffle at k rows per partition."""
    w = importance_weights(raw, ratios, text_col, num_buckets)
    return w.orderBy(F.col("weight_micro").desc(), F.col("id").asc()).limit(k)
