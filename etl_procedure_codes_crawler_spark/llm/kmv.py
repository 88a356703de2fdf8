"""K-minimum-values (KMV / "bottom-k" / θ-sketch) distinct-count
sketches with SET-OPERATION estimates — the capability HyperLogLog
lacks.

The HLL family (``source_cardinality_hll``) estimates |A| and |A∪B| but cannot estimate |A∩B| except by
inclusion-exclusion, whose error explodes when the intersection is
small relative to the sets. A KMV sketch (Bar-Yossef et al. 2002;
Beyer et al. 2007 "On Synopses for Distinct-Value Estimation Under
Multiset Operations") keeps the k smallest hash values of a set:

- |A| ≈ (k-1) / u_k          where u_k is the k-th smallest hash
                              mapped to (0,1); EXACT when |A| < k
                              (the sketch holds every value);
- K(A∪B) = k smallest of K(A) ∪ K(B)   (closed under union — the
                              k minima of a union are always among
                              the operands' k minima);
- |A∩B| ≈ ρ·|A∪B|            where ρ = |{h ∈ K(A∪B): h ∈ K(A) and
                              h ∈ K(B)}| / |K(A∪B)| — valid because
                              any union-sketch member drawn from A
                              is necessarily in K(A) (it is ≤ A's
                              k-th minimum).

Unlike the xxhash64 sketches, the hash here is the first 15 hex chars
of md5 (a 60-bit integer) — md5 exists identically in Spark and
DuckDB, so every estimate is a deterministic, cross-engine-
reproducible function of the data and the queries are HASH-ORACLED:
the driver's DuckDB gate re-derives the same sketch and the same
estimate bit-for-bit (integer minima; the only floats are IEEE-exact
divisions of those integers). Accuracy (SE ≈ 1/√k per Beyer et al.)
is additionally floored against the exact overlap relation in
tests/test_r9s2_families.py and tests/test_r9s2_property.py.

Scale shape: the expensive stage is one distinct-(group, hash)
shuffle — the same exchange the exact-overlap path pays, but carrying
60-bit ints instead of shingle strings, and everything downstream of
the per-group top-k is METADATA-SIZED (k rows per group; group count
is bounded — sources, feeds, domains). The pairwise stage joins
k-row sketches, never corpus data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .overlap import _group_shingles
from .text import md5_h60

#: hash space size: 16^15 = 2^60 (15 md5 hex chars). Exactly
#: representable as a double (one significant bit), so (k-1)*H_SPACE
#: is exact for any k-1 that fits in 52-6 mantissa bits.
H_SPACE = 1 << 60


def group_kmv_minima(
    df: DataFrame,
    text_col: str = "text",
    k: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(grp, h, rk) — each ``source`` group's k smallest distinct
    shingle hashes, rk = 1-based rank. Distinctness is collapsed (KMV
    is defined over the hash SET), so estimates are a pure function of
    the data.

    Round 13 shuffle-shape change (guide §2.3, shuffle fewer bytes):
    the old form ran ``distinct()`` FIRST, so the first exchange
    carried every per-partition-distinct (grp, h) row — at corpus
    scale, nearly all of them. Ranking with ``dense_rank() <= k`` on
    the RAW rows first lets Spark's partial WindowGroupLimit drop
    everything but each map partition's k smallest (distinct) hashes
    BEFORE the exchange, so the wide stage moves O(k · partitions)
    rows instead of O(distinct). dense_rank counts each distinct h
    once regardless of duplicates, so filter + distinct + re-rank is
    exactly the old k-smallest-distinct set."""
    sh = _group_shingles(df, "source", text_col, shingle_k)
    hashed = sh.select("grp", md5_h60(F.col("shingle")).alias("h"))
    w = Window.partitionBy("grp").orderBy("h")
    topk = (
        hashed.withColumn("_dr", F.dense_rank().over(w))
        .filter(F.col("_dr") <= k)
        .select("grp", "h")
        .distinct()
    )
    return topk.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def _estimate(n_col, k: int) -> Column:
    """(k-1)/u_k estimator with the exact-mode fallback: a sketch
    holding fewer than k values IS the value set, so the count is
    exact. (k-1)*H_SPACE is computed driver-side in exact float."""
    return F.when(
        F.col(n_col) < k, F.col(n_col).cast("double")
    ).otherwise(F.lit(float((k - 1) * H_SPACE)) / F.col("_hk").cast("double"))


def kmv_distinct_by_group(
    df: DataFrame,
) -> DataFrame:
    """(group, n_in_sketch, est_distinct) — estimated distinct-shingle
    cardinality per group from a k-value sketch."""
    minima = group_kmv_minima(df, "text", 64, 3)
    return (
        minima.groupBy("grp")
        .agg(
            F.max("h").alias("_hk"),
            F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
        )
        .select(
            F.col("grp").alias("group"),
            "n_in_sketch",
            F.round(_estimate("n_in_sketch", 64), 4).alias(
                "est_distinct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# persisted KMV sketch store: incremental distinct counting
# ---------------------------------------------------------------------------
#
# The store keeps each group's k smallest hashes as plain parquet rows
# (grp, h) — k·8 bytes per group. A new ingest batch appends ITS
# k-minima as a new segment; the read path merges segments with
# distinct + per-group bottom-k, which is EXACT: the k minima of a
# union are always among the operands' k minima, and min-k over a hash
# SET is idempotent, commutative, and associative. Three properties
# fall out for free, each pinned in tests/test_r9s2_families.py:
#
# - incremental == batch: a store built on part of the corpus and
#   appended with the rest estimates BIT-IDENTICALLY to one sketch of
#   the whole corpus (so the lifecycle query is hash-ORACLED against
#   the whole-corpus DuckDB sketch — rare for a store lifecycle);
# - replay-safe with NO bookkeeping: re-appending a crashed batch
#   re-offers hashes that distinct collapses — unlike the passage-
#   frequency store (counts inflate; needs batch keys) or the bloom
#   store (bits are lossy), sketch replay cannot corrupt anything;
# - compaction == no-op semantically: rewriting all segments as the
#   merged bottom-k changes no estimate, only file counts.

import json as _json


def _kmv_meta_path(path: str) -> str:
    return path.rstrip("/") + "/meta"


def _kmv_minima_path(path: str) -> str:
    return path.rstrip("/") + "/minima"


def _kmv_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        [StructField("grp", StringType()), StructField("h", LongType())]
    )


def create_kmv_store(
    spark: SparkSession, path: str, k: int = 64
) -> dict:
    """Initialize an empty store; k and shingle_k ride in meta so a
    batch sketched with different parameters cannot silently merge
    (bottom-64 of bottom-32 segments would under-estimate)."""
    meta = {"k": int(k), "shingle_k": 3, "version": 1}
    spark.createDataFrame([(_json.dumps(meta),)], "meta string").repartition(
        1
    ).write.mode("overwrite").parquet(_kmv_meta_path(path))
    return meta


def load_kmv_meta(spark: SparkSession, path: str) -> dict:
    return _json.loads(
        spark.read.parquet(_kmv_meta_path(path)).first()["meta"]
    )


def read_kmv_store(
    spark: SparkSession, path: str, meta: dict | None = None
) -> DataFrame:
    """Merged per-group bottom-k over every persisted segment —
    the exact merge (distinct, then k smallest per group). ``meta``:
    pass the store's (immutable) meta to skip the per-call read —
    one whole job per call otherwise (round 13, guide §1.2)."""
    from ..sources.parquet import read_table_or_empty

    if meta is None:
        meta = load_kmv_meta(spark, path)
    rows = read_table_or_empty(spark, _kmv_minima_path(path), _kmv_schema())
    w = Window.partitionBy("grp").orderBy("h")
    return (
        rows.distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(meta["k"]))
    )


def append_to_kmv_store(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    meta: dict | None = None,
) -> None:
    """Sketch the batch with the store's parameters and append its
    per-group minima as a new segment. Idempotent under replay by
    construction (see module notes) — no batch keys, no anti-join.
    ``meta``: pass the store's (immutable) meta dict to skip the
    per-call meta read — a whole job per micro-batch on streaming
    paths that append every trigger."""
    if meta is None:
        meta = load_kmv_meta(spark, path)
    minima = group_kmv_minima(
        docs, text_col, int(meta["k"]), int(meta["shingle_k"])
    )
    minima.select("grp", "h").write.mode("append").parquet(
        _kmv_minima_path(path)
    )


def compact_kmv_store(
    spark: SparkSession, path: str, meta: dict | None = None
) -> None:
    """Rewrite all segments as the merged bottom-k (one small file) —
    semantically a no-op, physically a file-count reset. The merged
    relation is materialized driver-side first (it is ≤ k rows per
    group) so the overwrite never reads its own input."""
    merged = read_kmv_store(spark, path, meta=meta).select("grp", "h")
    rows = merged.collect()
    spark.createDataFrame(rows, _kmv_schema()).repartition(1).write.mode(
        "overwrite"
    ).parquet(_kmv_minima_path(path))


def kmv_store_estimates(
    spark: SparkSession, path: str, meta: dict | None = None
) -> DataFrame:
    """(group, n_in_sketch, est_distinct) served off the persisted
    minima — no corpus rescan, ever."""
    if meta is None:
        meta = load_kmv_meta(spark, path)
    k = int(meta["k"])
    return (
        read_kmv_store(spark, path, meta=meta)
        .groupBy("grp")
        .agg(
            F.max("h").alias("_hk"),
            F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
        )
        .select(
            F.col("grp").alias("group"),
            "n_in_sketch",
            F.round(_estimate("n_in_sketch", k), 4).alias(
                "est_distinct"
            ),
        )
    )


def kmv_overlap_pairs(
    df: DataFrame,
) -> DataFrame:
    """(group_a, group_b, est_union, est_jaccard, est_intersection)
    for every group pair — the set-operation estimates HLL cannot
    give. The union sketch is the k smallest of the two operand
    sketches' hash union; ρ (the fraction of union-sketch members in
    both operand sketches) estimates Jaccard directly and scales the
    union estimate into the intersection.

    Everything here runs on k-row sketches: the pair enumeration is a
    sketch×sketch join keyed on the shared hash after a group
    cross-pair expansion — with g groups and k sketch rows the largest
    intermediate is g·(g-1)/2·2k rows of (group_a, group_b, h), still
    metadata-sized for any bounded group domain."""
    minima = group_kmv_minima(df, "text", 64, 3)
    groups = minima.select(F.col("grp").alias("_g")).distinct()
    # (ga, gb, h, in_a, in_b): each sketch row fanned to every pair it
    # participates in, from either side
    left = (
        minima.select(F.col("grp").alias("group_a"), "h")
        .crossJoin(F.broadcast(groups.select(F.col("_g").alias("group_b"))))
        .filter(F.col("group_a") < F.col("group_b"))
        .select("group_a", "group_b", "h", F.lit(1).alias("in_a"),
                F.lit(0).alias("in_b"))
    )
    right = (
        minima.select(F.col("grp").alias("group_b"), "h")
        .crossJoin(F.broadcast(groups.select(F.col("_g").alias("group_a"))))
        .filter(F.col("group_a") < F.col("group_b"))
        .select("group_a", "group_b", "h", F.lit(0).alias("in_a"),
                F.lit(1).alias("in_b"))
    )
    members = (
        left.unionAll(right)
        .groupBy("group_a", "group_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("group_a", "group_b").orderBy("h")
    union_sketch = members.withColumn(
        "rk", F.row_number().over(w)
    ).filter(F.col("rk") <= 64)
    agg = union_sketch.groupBy("group_a", "group_b").agg(
        F.max("h").alias("_hk"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("bigint")).alias("_both"),
    )
    est_union = _estimate("_n", 64)
    rho = F.col("_both").cast("double") / F.col("_n")
    return agg.select(
        "group_a",
        "group_b",
        F.round(est_union, 4).alias("est_union"),
        F.round(rho, 4).alias("est_jaccard"),
        F.round(rho * est_union, 4).alias("est_intersection"),
    )
