"""Streaming blocklist scan — the safety-filter admission artifact.

Continuous ingest wants the banned-phrase scan AT ADMISSION, not as a
nightly batch over the warehouse: a spam flood shows up in the batch
it arrives in. The automaton (llm/blocklist.py, Aho–Corasick) is
built ONCE from a fixed phrase list — like the drift monitor's
reference distribution, the list is a deliberate, visible input, not
something the stream re-derives per batch (a self-updating blocklist
can never alarm consistently) — and each micro-batch gets one
shuffle-free Arrow pass.

Per-doc scan rows land under the batch's ``run_id`` partition via the
run-id idempotent writer, so a crash-replayed batch REPLACES its own
rows — the accumulated relation equals the one-shot batch scan
bit-for-bit, which is what lets the streaming query share the batch
oracle.

Scale shape: the automaton is a closure broadcast with the UDF (size
= total phrase characters); the scan is map-only (no shuffle); only
(id, two counts) integer rows are written per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..llm import blocklist as BL
from ..sinks.parquet import write_idempotent_run
from .incremental import start_file_stream


def stream_blocklist_scan(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    phrases: list[str],
    results_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Scan every arriving document against the fixed blocklist; one
    (doc_id, n_hits, n_phrases_hit) row per document lands at
    ``results_path`` under the batch's run-id partition. Returns the
    StreamingQuery handle."""
    phrases = list(phrases)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        rows = BL.scan_blocklist(
            batch, phrases
        ).select(
            F.col("id").alias("doc_id"), "n_hits", "n_phrases_hit"
        )
        write_idempotent_run(rows, results_path, run_id=str(batch_id))

    return start_file_stream(
        spark, schema, source_dir, checkpoint_dir, _sink,
        max_files_per_trigger,
    )
