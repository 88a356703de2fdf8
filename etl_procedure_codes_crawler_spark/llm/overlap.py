"""Corpus-overlap analytics: how much content do two SOURCES share?

Mixture design for a training corpus starts with an overlap matrix —
two feeds that are 60% the same content should not both get full
sampling weight, and a new source is only worth onboarding if it adds
material the corpus lacks. Document-level dedup answers a different
question (which rows to drop); this module measures GROUP-level set
overlap: treat each source's k-word shingle set as one giant set and
compare sources pairwise.

- :func:`group_minhash_signatures` / :func:`group_overlap_minhash` —
  the sketch path. A group's signature is the slot-wise MIN of
  xxhash64(seed_i, shingle) over every shingle in the group: min is
  associative and commutative, so Spark's partial aggregation merges
  per-partition sketches map-side and the full shingle multiset is
  NEVER shuffled — per group, ``num_hashes`` longs cross the wire.
  That is the 100 TB shape: signatures are mergeable state you can
  also keep per ingest batch and fold into a running per-source
  sketch without rereading history. Estimated Jaccard = matching-slot
  fraction; standard error ≈ sqrt(J(1-J)/num_hashes), floored in
  tests against the exact overlap.
- :func:`group_cardinality_estimates` — per-source and corpus-total
  distinct-shingle HLL estimates in one rollup scan.

The pairwise comparison joins the signature table to itself — the
group count (sources, feeds, domains) is small by construction, so
the pair join is broadcast-sized even when the corpus is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles_column
from .text import spread_small_input


def _group_shingles(
    df: DataFrame, group_col: str, text_col: str, k: int
) -> DataFrame:
    """(group, shingle) — distinct within a group."""
    return (
        spread_small_input(df)
        .where(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.explode(shingles_column(text_col, k)).alias("shingle"),
        )
        .distinct()
    )


def group_minhash_signatures(
    df: DataFrame,
    hash_fn: str = "xx",
) -> DataFrame:
    """(group, sig) — the group's 64-slot MinHash sketch,
    computed in ONE partially-aggregated pass (slot-wise min merges
    map-side; only per-group sketches shuffle). ``hash_fn="md5"``
    derives each slot from the 60-bit md5 prefix of "i:shingle"
    (llm/dedup._minhash_member) — DuckDB reproduces the sketch
    bit-for-bit, which makes the overlap ESTIMATE hash-oracle-able;
    xxhash64 stays the default for raw 100 TB throughput."""
    from .dedup import _minhash_member

    sh = _group_shingles(df, "source", "text", 3)
    aggs = [
        F.min(_minhash_member(i, F.col("shingle"), hash_fn)).alias(f"h{i}")
        for i in range(64)
    ]
    sig = F.array(*[F.col(f"h{i}") for i in range(64)])
    return (
        sh.groupBy("grp")
        .agg(*aggs)
        .select(F.col("grp").alias("group"), sig.alias("sig"))
    )


def group_overlap_minhash(
    df: DataFrame,
    hash_fn: str = "xx",
) -> DataFrame:
    """(group_a, group_b, est_jaccard) for EVERY group pair —
    disjoint pairs estimate ~0 and appear. The estimate is the
    matching-slot fraction of the two sketches."""
    sig = group_minhash_signatures(df, hash_fn)
    a = sig.select(
        F.col("group").alias("group_a"), F.col("sig").alias("sig_a")
    )
    b = sig.select(
        F.col("group").alias("group_b"), F.col("sig").alias("sig_b")
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    return (
        a.join(b, F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            (matches.cast("double") / F.lit(64.0)).alias(
                "est_jaccard"
            ),
        )
    )


def group_cardinality_estimates(
    df: DataFrame,
) -> DataFrame:
    """Per-group estimated distinct-shingle counts PLUS the corpus
    total row (group NULL) in ONE corpus scan: ``rollup(group)`` makes
    the grand-total sketch a second grouping set of the SAME partial
    aggregation — never a second pass (HLL union is lossless on the
    registers, so merging the per-group sketches estimates the same
    set). Standard error ~1.04/sqrt(2^12) ≈ 1.6% (lg_config_k 12);
    floored against exact distinct counts in tests."""
    sh = _group_shingles(df, "source", "text", 3)
    return (
        sh.rollup("grp")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("shingle", F.lit(12))
            ).alias("est_distinct")
        )
        .select(F.col("grp").alias("group"), "est_distinct")
    )
