"""Persisted perceptual-hash store: incremental MEDIA near-dup at
ingest — the image/audio twin of :mod:`.neardup_store`.

A multimodal crawl re-fetches the same image under many URLs and the
same audio re-mastered at different gains; byte-level dedup misses
both. This store persists one row per accepted media object:
``(id, phash)`` where phash is the 64-bit perceptual signature
(:func:`.multimodal.image_hashes` dHash, or
:func:`.multimodal.audio_fingerprints`) — 16 bytes/object, so the
store for a billion-image corpus is ~16 GB of parquet, scanned as 3
small columns per probe.

Query flow for a new batch: decode + hash ONLY the new objects (one
Arrow pass, payloads never re-enter the plan), then a (band, bucket)
equi-join of the batch's 4-way banded hashes against the store's —
exact for hamming <= 3 by pigeonhole
(:func:`.dedup.hamming_band_pairs_between`). The corpus payload bytes
are never read at probe time.

Store layout (plain parquet):
    <path>/meta/    one JSON row: method, version
    <path>/hashes/  (id, phash) — append-only; replay re-appends are
                    removed by the id anti-join in append
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _meta_path(path: str) -> str:
    return path.rstrip("/") + "/meta"


def _hashes_path(path: str) -> str:
    return path.rstrip("/") + "/hashes"


def _hashes_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType(
        [StructField("id", LongType()), StructField("phash", LongType())]
    )


def create_phash_store(spark: SparkSession, path: str) -> dict:
    """Initialize an empty store; the hash method (dHash, the only one
    the package computes) rides in meta so the stored format names
    what its 64-bit values mean."""
    meta = {"method": "dhash", "version": 1}
    spark.createDataFrame([(json.dumps(meta),)], "meta string").repartition(
        1
    ).write.mode("overwrite").parquet(_meta_path(path))
    return meta


def read_phash_store(spark: SparkSession, path: str) -> DataFrame:
    from ..sources.parquet import read_table_or_empty

    return read_table_or_empty(spark, _hashes_path(path), _hashes_schema())


def append_to_phash_store(
    spark: SparkSession,
    path: str,
    hashes: DataFrame,
) -> int:
    """Append hashes for ids not already stored (anti-join on id —
    replay-idempotent). NULL hashes (decode errors) are skipped: an
    undecodable payload has no perceptual identity to store."""
    fresh = (
        hashes.select(
            F.col("media_id").cast("bigint").alias("id"),
            F.col("phash").cast("bigint").alias("phash"),
        )
        .where(F.col("id").isNotNull() & F.col("phash").isNotNull())
        .dropDuplicates(["id"])
    )
    # empty-store fast path (the first accepted batch / a fresh gate):
    # nothing to anti-join against — same one-stat shortcut as
    # near_dups_against_phash_store
    from ..sinks.fsutil import hadoop_fs

    fs, hpath = hadoop_fs(spark, path)
    if fs.exists(hpath(_hashes_path(path))):
        fresh = fresh.join(
            read_phash_store(spark, path).select("id"), "id", "left_anti"
        )
    fresh = fresh.localCheckpoint(eager=True)  # lineage reads the append
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(_hashes_path(path))
    return n


def near_dups_against_phash_store(
    spark: SparkSession,
    path: str,
    new_hashes: DataFrame,
) -> DataFrame:
    """(new_id, existing_id, hamming) for every new object within
    hamming 3 of a stored one — exact for max_hamming <= 3
    (4-band pigeonhole). The store side shuffles (id, phash, band,
    bucket) rows only; payloads are never read."""
    # empty-store fast path: a store with no appended hashes yet (the
    # first batch of a fresh gate) has nothing to probe — skip the
    # band join entirely instead of planning it against an empty
    # relation (saves two exchanges of pure scheduling latency in the
    # per-batch sink)
    from ..sinks.fsutil import hadoop_fs

    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath(_hashes_path(path))):
        return spark.createDataFrame(
            [], "new_id bigint, existing_id bigint, hamming bigint"
        )
    new = new_hashes.select(
        F.col("media_id").cast("bigint").alias("id"),
        F.col("phash").cast("bigint").alias("phash"),
    ).where(F.col("phash").isNotNull())
    from .dedup import hamming_band_pairs_between

    return hamming_band_pairs_between(
        new,
        read_phash_store(spark, path),
    )
