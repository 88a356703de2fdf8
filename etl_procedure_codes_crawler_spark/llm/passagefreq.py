"""Persisted passage-frequency store: corpus-wide boilerplate
statistics maintained incrementally — the lifecycle form of
:func:`.dedup.remove_boilerplate_passages`.

C4/CCNet-style pipelines compute passage (line) frequencies over the
WHOLE crawl, then strip frequent passages from every document; a
growing corpus cannot re-aggregate history per batch. This store
persists mergeable per-batch count segments:

    <path>/meta/      one JSON row: block, version
    <path>/segments/  (batch_id, fp, df) — per-segment DISTINCT-
                      document counts KEYED BY BATCH; the read path
                      drops duplicate (batch_id, fp) rows BEFORE
                      summing, so a crash-replayed append (same batch
                      re-offered after a failure between the segment
                      write and the caller's warehouse append) cannot
                      double-count — the stats-artifact discipline the
                      budget gate uses. The summed segments equal the
                      global distinct-document frequency under the
                      store's contract: EVERY DOCUMENT IS OFFERED
                      EXACTLY ONCE (the ingest gates' id anti-join
                      provides this).

Counts are additive, so the store is mergeable like HLL/Bloom
sketches but EXACT; 32-byte fingerprints + one long per distinct
passage per segment. The read-side sum handles segment multiplicity,
so the store needs no compaction for correctness.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _rebuild_cleaned, passage_rows


def _meta_path(path: str) -> str:
    return path.rstrip("/") + "/meta"


def _segments_path(path: str) -> str:
    return path.rstrip("/") + "/segments"


def _segments_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("batch_id", StringType()),
            StructField("fp", StringType()),
            StructField("df", LongType()),
        ]
    )


class PassageFreqStoreVersionError(RuntimeError):
    """Persisted store predates batch-keyed (replay-safe) segments."""


def create_passage_freq_store(
    spark: SparkSession, path: str, block: int = 16
) -> dict:
    """Initialize an empty store; ``block`` rides in meta so a batch
    chunked at a different granularity cannot silently contribute
    incomparable counts."""
    meta = {"block": int(block), "version": 2}
    spark.createDataFrame([(json.dumps(meta),)], "meta string").repartition(
        1
    ).write.mode("overwrite").parquet(_meta_path(path))
    return meta


def load_passage_freq_meta(spark: SparkSession, path: str) -> dict:
    """Store meta, REFUSING version-1 stores: their segments carry no
    batch_id, so the replay-dedup read path cannot tell a crash-
    replayed append from a legitimate one — exactly the silent
    frequency inflation version 2 exists to prevent. Rebuild by
    re-offering the corpus once into a fresh store."""
    meta = json.loads(
        spark.read.parquet(_meta_path(path)).first()["meta"]
    )
    version = meta.get("version", 1)
    if version != 2:
        raise PassageFreqStoreVersionError(
            f"passage-frequency store at {path!r} is version {version}; "
            "version-2 segments are batch-keyed for replay idempotency. "
            "Rebuild: create_passage_freq_store + one append per batch."
        )
    return meta


def _derived_batch_id(docs: DataFrame) -> str:
    """Deterministic, order-independent id of the OFFERED DOCUMENT
    SET: count + two independently-seeded xxhash64 XOR folds. Under
    the once-per-doc contract, two appends can only share an id set
    when one is a replay of the other — which is exactly when the
    read-side (batch_id, fp) dedup must collapse them. One tiny
    3-number aggregate; no extra corpus pass (the ids are already in
    hand)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col("doc_id"), F.lit(0xB1D1))).alias("x1"),
        F.bit_xor(F.xxhash64(F.col("doc_id"), F.lit(0xB1D2))).alias("x2"),
    ).first()
    return f"auto-{row['n']}-{row['x1']}-{row['x2']}"


def append_passage_counts(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    batch_id: str | None = None,
    chunks: DataFrame | None = None,
) -> int:
    """Append one count segment covering ``docs`` — (fp, distinct-doc
    count) within the batch, keyed by ``batch_id``.

    REPLAY-IDEMPOTENT: a crash between this append and the caller's
    warehouse append re-offers the batch; the replay recomputes the
    identical (batch_id, fp, df) rows and the read path's
    (batch_id, fp) dedup collapses them, so frequencies never inflate
    (a version-1 store double-counted here, which could strip
    non-boilerplate passages corpus-wide). Callers with a durable
    batch identity (streaming epoch, ingest-gate batch) should pass
    it; otherwise the id derives deterministically from the offered
    document-id set. The caller must still offer each document
    exactly once across DISTINCT batches (ingest gates' id
    anti-join). Returns the segment's row count.

    ``chunks``: a precomputed :func:`..dedup.passage_rows` relation
    for ``docs`` at the store's block size — callers that both count
    AND strip the same batch (the streaming gate) pass it so the
    batch's passages explode once, not twice. The caller owns the
    block-size agreement; when omitted the rows derive here under the
    store's meta."""
    if batch_id is None:
        batch_id = _derived_batch_id(docs)
    if chunks is None:
        # meta is only needed to derive the rows — a caller passing
        # precomputed chunks owns the block-size agreement, and the
        # meta read is one whole job per batch on the streaming path
        meta = load_passage_freq_meta(spark, path)
        chunks = passage_rows(docs, meta["block"])
    seg = (
        chunks
        .groupBy("fp")
        .agg(F.countDistinct("id").cast("bigint").alias("df"))
        .select(F.lit(batch_id).alias("batch_id"), "fp", "df")
        .localCheckpoint(eager=True)  # lineage must not read the append
    )
    n = seg.count()
    if n:
        seg.write.mode("append").parquet(_segments_path(path))
    return n


def read_passage_freqs(spark: SparkSession, path: str) -> DataFrame:
    """(fp, df) summed over all segments — the corpus-wide passage
    document-frequency relation (one row per distinct passage).
    Duplicate (batch_id, fp) rows — a crash-replayed append — count
    once."""
    from ..sources.parquet import read_table_or_empty

    return (
        read_table_or_empty(spark, _segments_path(path), _segments_schema())
        .dropDuplicates(["batch_id", "fp"])
        .groupBy("fp")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )


def strip_boilerplate_against_store(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    min_doc_freq: int = 50,
) -> DataFrame:
    """Clean ``docs`` against the PERSISTED corpus-wide frequencies:
    passages whose stored document frequency exceeds ``min_doc_freq``
    are stripped, survivors reassemble in order — the same output
    contract as :func:`.dedup.remove_boilerplate_passages`
    ``(id, n_passages, n_removed, text_clean)``, but the frequency
    side never re-reads history (the store relation is
    distinct-passage-sized, and the join hashes 32-byte
    fingerprints). Passages absent from the store count as df=0
    (never seen → never boilerplate)."""
    meta = load_passage_freq_meta(spark, path)
    chunks = passage_rows(docs, meta["block"])
    judged = chunks.join(
        read_passage_freqs(spark, path).withColumnRenamed("df", "_df"),
        "fp",
        "left",
    ).withColumn("_df", F.coalesce(F.col("_df"), F.lit(0)))
    return _rebuild_cleaned(docs, judged, min_doc_freq)


def strip_rebuilt_against_store(
    spark: SparkSession,
    path: str,
    chunks: DataFrame,
    min_doc_freq: int = 50,
) -> DataFrame:
    """The attach-it-yourself form of
    :func:`strip_boilerplate_against_store` (round 13, guide §2.4):
    returns the per-doc rebuilt relation ``(id, n_passages, n_removed,
    text_clean)`` for documents that HAVE passage rows in ``chunks``,
    WITHOUT joining it back onto a document relation. A caller that
    already holds the doc relation (and knows its ids are unique —
    e.g. the unified gate, whose arrival guard enforces it) attaches
    the result with ONE left join and 0/0/NULL defaults; the generic
    form pays a dropDuplicates exchange plus a second doc-sized join
    for the same answer."""
    from .dedup import _rebuilt_per_doc

    judged = chunks.join(
        read_passage_freqs(spark, path).withColumnRenamed("df", "_df"),
        "fp",
        "left",
    ).withColumn("_df", F.coalesce(F.col("_df"), F.lit(0)))
    # the identical aggregation _rebuild_cleaned uses — shared code,
    # so the generic and attach-it-yourself paths cannot drift
    return _rebuilt_per_doc(judged, min_doc_freq)
