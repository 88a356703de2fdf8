"""Persisted MinHash signature store: incremental NEAR-dup at ingest.

The exact-hash incremental dedup (:func:`.dedup.incremental_dedup_new_docs`)
only catches byte-identical content; production crawls also need
"is this NEARLY a document we already hold?" at ingest time — without
re-shingling the whole historical corpus per batch. This store
persists one row per snapshot document: ``(id, sig, buckets)`` where
``sig`` is the MinHash signature (``num_hashes`` bigints ≈ 256
bytes/doc — the corpus text stays out of the dedup path entirely) and
``buckets`` is the pre-derived LSH (band, bucket) assignment (v2
layout: ~16 B/band, saves the store side a map-side re-derivation on
EVERY query — the store is read once per ingest batch forever, the
signature is written once).

Query flow for a new batch: shingle + sign ONLY the new docs (one
pass over the batch), derive the batch side's band buckets map-side,
explode the store side's PERSISTED buckets, equi-join on
(band, bucket), and estimate Jaccard as the fraction of agreeing
minhashes (the standard unbiased estimator) — no shingle join against
history, no text reads. Scale shape: the only wide operation is the
(band, bucket) candidate join; the store side shuffles 8-byte bucket
keys plus the 256-byte signature, never documents — and degenerate
buckets (boilerplate corpora: thousands of near-identical pages in
ONE bucket) are CAPPED to ``max_store_bucket_size`` store rows per
(band, bucket), so a hot bucket emits |batch|×cap candidate rows
instead of |batch|×|store| — linear in the batch, never quadratic
inside a task. Capping store rows is sound for the gate's question
("does this batch doc near-dup ANYTHING held?"): a bucket only
degenerates when its members are near-identical, so the ranked
survivors are representative of the members dropped.

Store layout (plain parquet):
    <path>/meta/        one JSON row: k, bands, rows_per_band, version
    <path>/signatures/  (id, sig array<bigint>,
                         buckets array<struct<band int, bucket bigint>>)

Parameters ride in meta so a batch signed with mismatched banding
cannot silently produce an empty join.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .dedup import band_bucket, minhash_signatures

#: store rows kept per (band, bucket) in the candidate join — high
#: enough that non-degenerate LSH buckets (a handful of members) are
#: never touched, low enough that a boilerplate bucket cannot go
#: quadratic
DEFAULT_MAX_STORE_BUCKET = 64


def _sig_array(
    df: DataFrame, k: int, num_hashes: int,
    hash_fn: str = "xx",
) -> DataFrame:
    # one row per id: minhash groups shingles by id, so duplicate ids
    # (even with identical text) must collapse BEFORE signing — two
    # different texts sharing an id would merge into one garbage
    # signature matching neither
    sig = minhash_signatures(
        df.dropDuplicates(["doc_id"]), k, num_hashes,
        hash_fn,
    )
    return sig.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_buckets(
    sig_col, bands: int, rows_per_band: int, hash_fn: str = "xx"
):
    """(band, bucket) structs derived map-side from a signature array —
    the bucket key of :func:`.dedup.minhash_buckets`
    (:func:`.dedup.band_bucket`), so buckets agree across batches AND
    with the SQL oracle."""
    return F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                band_bucket(
                    [
                        F.element_at(sig_col, band * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                    hash_fn,
                ).alias("bucket"),
            )
            for band in range(bands)
        ]
    )


def _signed_with_buckets(
    df: DataFrame,
    bands: int,
    rows_per_band: int,
    hash_fn: str = "xx",
) -> DataFrame:
    """(id, sig, buckets) — the v2 store row: buckets are a pure
    map-side function of the signature, persisted once at write time
    so every future query skips re-deriving them for the store side."""
    signed = _sig_array(df, 3, bands * rows_per_band, hash_fn)
    return signed.withColumn(
        "buckets", _band_buckets(F.col("sig"), bands, rows_per_band, hash_fn)
    )


def build_minhash_store(
    docs: DataFrame,
    path: str,
    bands: int = 8,
    rows_per_band: int = 4,
    hash_fn: str = "xx",
) -> None:
    """Sign the snapshot corpus (one shingle pass) and persist the
    signatures + pre-derived band buckets (v2 layout). ``hash_fn`` is
    pinned in meta — every probe derives the SAME family ('md5' makes the whole store
    lifecycle engine-deterministic and hash-oracle-able; 'xx' stays
    the throughput default)."""
    spark = docs.sparkSession
    _signed_with_buckets(
        docs, bands, rows_per_band, hash_fn
    ).write.mode("overwrite").parquet(path.rstrip("/") + "/signatures")
    meta = {"k": 3, "bands": bands, "rows_per_band": rows_per_band,
            "version": 2, "hash_fn": hash_fn}
    spark.createDataFrame(
        [(json.dumps(meta),)], "meta string"
    ).repartition(1).write.mode("overwrite").parquet(
        path.rstrip("/") + "/meta"
    )


def load_store_meta(spark: SparkSession, path: str) -> dict:
    return json.loads(
        spark.read.parquet(path.rstrip("/") + "/meta").first()["meta"]
    )


def _store_bucket_rows(snap: DataFrame) -> DataFrame:
    """One (snapshot_id, snap_sig, band, bucket) row per store doc per
    band, from the persisted buckets column."""
    return snap.select(
        F.col("id").alias("snapshot_id"),
        F.col("sig").alias("snap_sig"),
        F.explode(F.col("buckets")).alias("bb"),
    ).select("snapshot_id", "snap_sig", "bb.band", "bb.bucket")


def near_dups_against_store(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    max_store_bucket_size: int = DEFAULT_MAX_STORE_BUCKET,
) -> DataFrame:
    """(new_id, snapshot_id, est_jaccard) for every new document that
    LSH-collides with a stored one and whose signature-agreement
    estimate clears ``threshold``. Self-matches (same id already in
    the store) are excluded — replayed docs are the exact-dedup
    path's job. Recall < 1 by LSH design; tune bands/rows at build
    time for the corpus's similarity profile.

    Degenerate buckets are bounded: only the ``max_store_bucket_size``
    lowest-id store rows per (band, bucket) enter the candidate join
    (deterministic ranked truncation — the window's (band, bucket)
    exchange is the same partitioning the join needs, so the cap adds
    no extra wide stage). A boilerplate bucket holding thousands of
    near-identical snapshots therefore costs |batch|×cap rows, not
    |batch|×|store|; for the gate's any-match semantics the truncated
    members are interchangeable with the survivors.
    """
    meta = load_store_meta(spark, path)
    bands, rpb = meta["bands"], meta["rows_per_band"]
    hash_fn = meta["hash_fn"]
    num_hashes = bands * rpb

    new_sig = _sig_array(
        new_docs, meta["k"], num_hashes, hash_fn
    )
    snap = spark.read.parquet(path.rstrip("/") + "/signatures")

    nb = new_sig.select(
        F.col("id").alias("new_id"),
        F.col("sig").alias("new_sig"),
        F.explode(_band_buckets(F.col("sig"), bands, rpb, hash_fn)).alias("bb"),
    ).select("new_id", "new_sig", "bb.band", "bb.bucket")
    w_cap = Window.partitionBy("band", "bucket").orderBy("snapshot_id")
    sb = (
        _store_bucket_rows(snap)
        .withColumn("_bkrank", F.row_number().over(w_cap))
        .filter(F.col("_bkrank") <= max_store_bucket_size)
        .drop("_bkrank")
    )

    agree = F.aggregate(
        F.zip_with(
            F.col("new_sig"),
            F.col("snap_sig"),
            lambda a, b: (a == b).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        nb.join(sb, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("snapshot_id"))
        .select(
            "new_id",
            "snapshot_id",
            (agree.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
        )
        # a pair colliding in several bands dedups to one row; the
        # estimate is identical per pair so max() is exact
        .groupBy("new_id", "snapshot_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Incremental cluster labels: (id, cluster_id) maintained as edges arrive
# ---------------------------------------------------------------------------
#
# keep_best_in_cluster / cluster_holdout_split recomputed connected
# components from scratch per run; a gate that already pays for the
# per-batch near-dup pairs can keep the component labels CURRENT
# instead. Layout added to the store:
#
#     <path>/edges/     append-only (doc_a, doc_b) pair log — tiny rows,
#                       idempotent under replay (duplicate edges cannot
#                       change a component)
#     <path>/clusters/  materialized (id, cluster_id) labels,
#                       cluster_id = min reachable id (the
#                       cluster.duplicate_clusters convention)
#     <path>/cluster_meta/  one JSON row {"n_edges": N} — the
#                       staleness token: labels are valid iff the edge
#                       log holds exactly N rows
#
# Update = QUOTIENT absorb: map each new edge's endpoints to their
# current labels (or themselves), run connected components over the
# resulting root graph — batch-sized, NOT corpus-sized; the driver
# union-find path of cluster.connected_components handles the common
# metadata-scale delta in-process — and relabel only the clusters the
# mapping touched. Because every stored cluster_id is already the min
# id of its old component, the quotient's min is the global min, so
# absorbed labels are IDENTICAL to a from-scratch recompute (pinned in
# tests/test_neardup_store.py).
#
# Crash contract (write order: edges -> clusters -> cluster_meta): any
# crash leaves n_edges(meta) != count(edges/), which the next update
# detects and heals by recomputing labels from the FULL edge log —
# still only the edge relation, never the corpus.


def _edges_path(path: str) -> str:
    return path.rstrip("/") + "/edges"


def _clusters_path(path: str) -> str:
    return path.rstrip("/") + "/clusters"


def _cluster_meta_path(path: str) -> str:
    return path.rstrip("/") + "/cluster_meta"


def _edges_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType(
        [StructField("doc_a", LongType()), StructField("doc_b", LongType())]
    )


def _labels_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType(
        [StructField("id", LongType()), StructField("cluster_id", LongType())]
    )


def read_cluster_labels(spark: SparkSession, path: str) -> DataFrame:
    """(id, cluster_id) for every id that appears in the edge log.
    Ids with no edges are implicitly their own singleton cluster —
    :func:`store_cluster_labels` materializes that view."""
    from ..sources.parquet import read_table_or_empty

    return read_table_or_empty(spark, _clusters_path(path), _labels_schema())


def _cluster_meta(spark: SparkSession, path: str) -> dict:
    from ..sources.parquet import read_table_or_empty
    from pyspark.sql.types import StringType, StructField, StructType

    rows = read_table_or_empty(
        spark,
        _cluster_meta_path(path),
        StructType([StructField("meta", StringType())]),
    ).collect()
    return json.loads(rows[0]["meta"]) if rows else {"n_edges": 0}


def _write_labels(spark, path: str, labels: DataFrame, n_edges: int) -> None:
    # labels BEFORE meta: a crash in between leaves the token stale and
    # the next update heals; meta-first would bless wrong labels
    labels.write.mode("overwrite").parquet(_clusters_path(path))
    spark.createDataFrame(
        [(json.dumps({"n_edges": int(n_edges)}),)], "meta string"
    ).repartition(1).write.mode("overwrite").parquet(_cluster_meta_path(path))


def recompute_cluster_labels(spark: SparkSession, path: str) -> DataFrame:
    """Labels from the FULL edge log — the heal path (stale token, lost
    clusters dir) and the seed path for a store adopting the cluster
    layout mid-life. Cost is O(edge log), never O(corpus)."""
    from ..sources.parquet import read_table_or_empty
    from .cluster import connected_components

    edges = read_table_or_empty(spark, _edges_path(path), _edges_schema())
    n_edges = edges.count()
    comp = connected_components(edges.dropDuplicates(["doc_a", "doc_b"]))
    labels = comp.select(
        F.col("vertex").alias("id"), F.col("component").alias("cluster_id")
    ).localCheckpoint(eager=True)  # survives the overwrite below
    _write_labels(spark, path, labels, n_edges)
    return labels


def update_cluster_labels(
    spark: SparkSession,
    path: str,
    new_edges: DataFrame,
) -> dict:
    """Append ``new_edges`` to the store's edge log and absorb them
    into the persisted labels. Returns ``{"mode": "incremental" |
    "recompute", "n_new_edges": ...}``. Replay-idempotent: re-running
    the same batch appends duplicate edge rows (components are
    unchanged) and the absorb converges to the identical labels."""
    from ..sources.parquet import read_table_or_empty
    from .cluster import connected_components

    e = (
        new_edges.select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
        )
        .where(F.col("doc_a").isNotNull() & F.col("doc_b").isNotNull())
        .dropDuplicates(["doc_a", "doc_b"])
        .localCheckpoint(eager=True)
    )
    n_new = e.count()
    existing_edges = read_table_or_empty(
        spark, _edges_path(path), _edges_schema()
    )
    n_before = existing_edges.count()
    meta = _cluster_meta(spark, path)
    if n_new:
        e.write.mode("append").parquet(_edges_path(path))
    if meta["n_edges"] != n_before:
        # a prior update crashed between its edge append and its label
        # write (or the clusters dir was lost) — heal from the log
        recompute_cluster_labels(spark, path)
        return {"mode": "recompute", "n_new_edges": n_new}
    if not n_new:
        return {"mode": "incremental", "n_new_edges": 0}
    labels = read_cluster_labels(spark, path)
    # quotient graph: endpoints -> current cluster roots (selves if
    # unlabeled); batch-sized, so the joins broadcast the edge side
    la = labels.select(
        F.col("id").alias("doc_a"), F.col("cluster_id").alias("_ra")
    )
    lb = labels.select(
        F.col("id").alias("doc_b"), F.col("cluster_id").alias("_rb")
    )
    q = (
        e.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce(F.col("_ra"), F.col("doc_a")).alias("ra"),
            F.coalesce(F.col("_rb"), F.col("doc_b")).alias("rb"),
        )
        .where(F.col("ra") != F.col("rb"))
    )
    # components over ROOTS: min of merged roots == global min id,
    # because each stored root is already its component's min
    mapping = connected_components(q, src="ra", dst="rb").select(
        F.col("vertex").alias("_v"), F.col("component").alias("_c")
    )
    relabeled = (
        labels.join(
            F.broadcast(mapping),
            labels["cluster_id"] == F.col("_v"),
            "left",
        )
        .select(
            "id",
            F.coalesce(F.col("_c"), F.col("cluster_id")).alias("cluster_id"),
        )
    )
    endpoints = (
        e.select(F.col("doc_a").alias("id"))
        .unionByName(e.select(F.col("doc_b").alias("id")))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
    )
    fresh = endpoints.join(
        F.broadcast(mapping), endpoints["id"] == F.col("_v"), "left"
    ).select(
        "id", F.coalesce(F.col("_c"), F.col("id")).alias("cluster_id")
    )
    new_labels = relabeled.unionByName(fresh).localCheckpoint(eager=True)
    _write_labels(spark, path, new_labels, n_before + n_new)
    return {"mode": "incremental", "n_new_edges": n_new}


def store_cluster_labels(
    spark: SparkSession, path: str
) -> DataFrame:
    """(id, cluster_id) for every store id: edge-labeled ids get
    their component's min id, everyone
    else is their own singleton — the duplicate_clusters view, served
    from the PERSISTED labels with no component computation."""
    ids = (
        spark.read.parquet(path.rstrip("/") + "/signatures")
        .select("id")
        .dropDuplicates(["id"])
    )
    labels = read_cluster_labels(spark, path)
    return ids.join(labels, "id", "left").select(
        "id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id")
    )


def near_dup_pairs_within_store(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) among the STORE's own members —
    candidate pairs from the PERSISTED bucket assignments (no
    re-shingling, no re-signing: the one corpus-sized pass already
    happened at build/append time), kept at a signature-agreement
    estimate of at least 0.9. The self-join
 is (band, bucket)-local with the
    same deterministic ranked cap as :func:`near_dups_against_store`,
    so a degenerate boilerplate bucket costs cap² rows, never
    |bucket|². Feeds :func:`update_cluster_labels` /
    ``cluster.duplicate_clusters`` directly."""
    meta = load_store_meta(spark, path)
    num_hashes = meta["bands"] * meta["rows_per_band"]
    snap = spark.read.parquet(path.rstrip("/") + "/signatures")
    w_cap = Window.partitionBy("band", "bucket").orderBy("snapshot_id")
    rows = (
        _store_bucket_rows(snap)
        .withColumn("_bkrank", F.row_number().over(w_cap))
        .filter(F.col("_bkrank") <= DEFAULT_MAX_STORE_BUCKET)
        .drop("_bkrank")
    )
    a = rows.select(
        F.col("snapshot_id").alias("doc_a"),
        F.col("snap_sig").alias("_sig_a"),
        "band",
        "bucket",
    )
    b = rows.select(
        F.col("snapshot_id").alias("doc_b"),
        F.col("snap_sig").alias("_sig_b"),
        "band",
        "bucket",
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("_sig_a"), F.col("_sig_b"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.9)
    )
