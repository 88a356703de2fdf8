"""N-gram language-model perplexity scoring — CCNet-style filtering.

The strongest public cheap quality signal after hand rules is an
n-gram LM: score every document by how surprising its token stream is
under a model trained on the corpus itself (or a trusted reference
corpus), then drop the high-perplexity tail — boilerplate, menus,
hex dumps and lorem-ipsum score far from running prose. CCNet built
this loop with KenLM; the distributed formulation needs only counts:

    p(w2 | w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V)        (add-k)
    log_ppl(doc) = -(1/n) · Σ ln p(w_{i+1} | w_i)

Shapes, because this runs over the whole corpus:

- counts ride COUNT windows over the exploded bigram frame (the
  tf-idf/passage-dedup idiom) instead of aggregate-then-join-back —
  c(w1 w2) and c(w1 ·) each cost one hash exchange of the bigram
  rows, and the model is never materialized as a second table;
- the vocabulary size V is ONE scalar (a distinct-count job), the
  only driver-side number in the model;
- the per-document average folds the position-ordered log-prob array
  (sort_array + aggregate), so the double summation has ONE fixed
  order — rerunning the query, or running it with a different
  partitioning, produces bit-identical scores. A plain SUM over the
  exploded rows would add doubles in partition order and make the
  score run-dependent.

The scoring itself is registered rows-only: ln() is a transcendental
(not guaranteed correctly rounded, so cross-engine hash parity would
rest on libm coincidences — the repo's oracled queries stay rational
on principle; the integer-exact corpus-fit relative, see
``ccnet_bucket_documents``, is hash-oracled). A numpy replica pins the
math in tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text as T


def bigram_lm_perplexity(
    docs: DataFrame,
    k: float = 0.5,
    cutoff: float | None = None,
) -> DataFrame:
    """(id, n_bigrams, log_ppl, keep) — per-document log-perplexity
    under the add-``k`` bigram LM trained on ``docs`` itself, and the
    filter decision against ``cutoff`` (natural-log perplexity; lower
    = more typical). Documents with fewer than two tokens have no
    transitions to judge: ``log_ppl`` is NULL and they are kept —
    length filtering is a different gate's job.

    ``cutoff=None`` keeps everything (scoring only). The returned
    ``keep`` is deterministic: scores fold in token order, so a doc
    never flips sides between runs.
    """
    if k <= 0:
        raise ValueError(f"add-k smoothing needs k > 0, got {k}")
    toks = T.tokens("text")
    base = docs.select(F.col("doc_id"), toks.alias("_toks"))
    n_big = F.greatest(F.size(F.col("_toks")) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(F.col("_toks"), 1, n_big),
        F.slice(F.col("_toks"), 2, n_big),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = base.select(
        F.col("doc_id"),
        F.posexplode(bigrams).alias("pos", "bg"),
    ).select("doc_id", "pos", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    # the model IS the corpus statistics: one scalar (vocab size) and
    # two COUNT windows riding the bigram rows' own exchanges
    vocab = docs.select(F.explode(toks).alias("t")).distinct().count()
    c2 = F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
    c1 = F.count(F.lit(1)).over(Window.partitionBy("w1"))
    scored = bg.select(
        F.col("doc_id"),
        F.col("pos"),
        F.log(
            (c2.cast("double") + F.lit(float(k)))
            / (c1.cast("double") + F.lit(float(k) * vocab))
        ).alias("_logp"),
    )

    per_doc = (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # fixed-order fold: position-sorted array, then one
            # sequential sum — bit-identical across runs/partitionings
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "_logp"))
                    ),
                    lambda s: s["_logp"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("_sum_logp"),
        )
        .select(
            F.col("doc_id"),
            F.col("n_bigrams"),
            (-F.col("_sum_logp") / F.col("n_bigrams")).alias("log_ppl"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.round(F.col("log_ppl"), 6).alias("log_ppl"),
        )
    )
    if cutoff is None:
        keep = F.lit(True)
    else:
        keep = F.col("log_ppl").isNull() | (
            F.col("log_ppl") <= F.lit(float(cutoff))
        )
    return out.withColumn("keep", keep)
