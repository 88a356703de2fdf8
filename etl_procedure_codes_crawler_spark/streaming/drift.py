"""Streaming distribution-drift monitor.

Continuous ingest needs a drift alarm: "did this batch's token
distribution move away from the accepted corpus?" — upstream source
changes, crawler bugs, and spam floods all show up here first, before
they poison mixtures and quality models downstream.

Per micro-batch: unigram-count the batch (map-side combined,
vocabulary-sized output), compute the exact total-variation distance
against a PERSISTED reference distribution (``llm.drift.tv_between`` —
rational arithmetic, no transcendentals), and append one metric row.
Metric rows are written with the run-id idempotent writer keyed by
batch_id, so a crash-replayed batch REPLACES its own row instead of
double-reporting — the same exactly-once discipline as the ingest
gate's data path.

The reference is a (token, cnt) table from
:func:`llm.drift.token_counts` — rebuild it when the accepted corpus
advances enough to re-baseline (a deliberate, visible operation; a
silently self-updating baseline can never alarm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..llm import drift as DR
from ..sinks.parquet import write_idempotent_run
from .incremental import start_file_stream


def build_token_reference(
    df: DataFrame, path: str
) -> None:
    """Persist the reference unigram distribution (vocabulary-sized)."""
    DR.token_counts(df).write.mode("overwrite").parquet(path)


def stream_token_drift(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    reference_path: str,
    metrics_path: str,
    checkpoint_dir: str,
):
    """Monitor arriving document files against the persisted
    reference; one (batch_id, n_tokens_batch, n_tokens_reference,
    tv_distance, top_token) row per micro-batch lands at
    ``metrics_path``. Returns the StreamingQuery handle."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        reference = spark.read.parquet(reference_path)
        row = DR.tv_between(DR.token_counts(batch), reference)
        metric = row.select(
            F.lit(int(batch_id)).alias("batch_id"),
            F.col("n_tokens_a").alias("n_tokens_batch"),
            F.col("n_tokens_b").alias("n_tokens_reference"),
            "tv_distance",
            "top_token",
        )
        write_idempotent_run(metric, metrics_path, run_id=str(batch_id))

    return start_file_stream(
        spark, schema, source_dir, checkpoint_dir, _sink
    )


# ---------------------------------------------------------------------------
# Streaming Pearson chi-square drift (the inferential companion)
# ---------------------------------------------------------------------------
#
# The TV monitor above measures the SIZE of a batch's shift; the
# chi-square twin measures how IMPROBABLE the accumulated current
# snapshot's per-source token mass is under no-drift vs the persisted
# reference — the alerting-threshold statistic, streamed. Per batch only (source, token
# total) integer rows land, keyed by batch run-id (replay replaces,
# never double-counts — integer sums need no other bookkeeping, the
# KMV gate's zero-bookkeeping idea applied to counts); the serve path
# reproduces the batch statistic's fixed-order IEEE expression over
# the summed counts, so incremental == one-shot bit-for-bit.


def build_source_token_reference(
    df: DataFrame, path: str
) -> None:
    """Persist the reference per-source token totals (source-sized)."""
    from ..llm import text as T

    (
        df.where(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.sum(T.token_count("text")).cast("bigint").alias("o_ref"))
        .write.mode("overwrite")
        .parquet(path)
    )


def stream_chi_square_counts(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    counts_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Accumulate the CURRENT snapshot's per-source token totals, one
    (source, o_cur) relation per micro-batch under its run-id
    partition. Returns the StreamingQuery handle."""
    from ..llm import text as T

    def _sink(batch: DataFrame, batch_id: int) -> None:
        counts = (
            batch.where(F.col("source").isNotNull())
            .groupBy("source")
            .agg(
                F.sum(T.token_count("text")).cast("bigint").alias("o_cur")
            )
        )
        write_idempotent_run(counts, counts_path, run_id=str(batch_id))

    return start_file_stream(
        spark, schema, source_dir, checkpoint_dir, _sink,
        max_files_per_trigger,
    )


def chi_square_report(
    spark: SparkSession, reference_path: str, counts_path: str
) -> DataFrame:
    """(source, o_ref, o_cur, chi2_contrib) from the persisted
    reference and the accumulated batch counts — the IDENTICAL
    fixed-order contingency expression as a one-shot batch
    computation, so the streamed statistic hash-matches the one-shot
    oracle (streaming_chi_square_drift). Sources seen in only
    one snapshot carry zero mass on the other side (full outer +
    coalesce), matching the one-shot conditional sums."""
    ref = spark.read.parquet(reference_path)
    cur = (
        spark.read.parquet(counts_path)
        .groupBy("source")
        .agg(F.sum("o_cur").cast("bigint").alias("o_cur"))
    )
    halves = (
        ref.join(cur, "source", "full_outer")
        .select(
            "source",
            F.coalesce("o_ref", F.lit(0)).cast("bigint").alias("o_ref"),
            F.coalesce("o_cur", F.lit(0)).cast("bigint").alias("o_cur"),
        )
    )
    tot = halves.agg(
        F.sum("o_ref").cast("bigint").alias("n_ref"),
        F.sum("o_cur").cast("bigint").alias("n_cur"),
    ).withColumn("_k", F.lit(1))
    row_tot = F.col("o_ref") + F.col("o_cur")
    n = F.col("n_ref") + F.col("n_cur")
    e_ref = F.col("n_ref").cast("double") * row_tot / n
    e_cur = F.col("n_cur").cast("double") * row_tot / n
    chi2 = (F.col("o_ref") - e_ref) * (F.col("o_ref") - e_ref) / e_ref + (
        F.col("o_cur") - e_cur
    ) * (F.col("o_cur") - e_cur) / e_cur
    return (
        halves.withColumn("_k", F.lit(1))
        .join(F.broadcast(tot), "_k")
        .select(
            "source",
            "o_ref",
            "o_cur",
            F.round(chi2, 6).alias("chi2_contrib"),
        )
    )
