"""Structured Streaming over the events table (SURVEY §2.8).

The reference has no streaming surface — its closest analog is the
chunked Athena generator (``crawler/src/utils/athena.py:30-54``) and
the LOGICAL_DATE batch-incremental pattern. This module supplies the
streaming counterpart a modern pipeline needs:

- a file-source stream over the events parquet directory;
- tumbling/sliding window aggregations with a watermark for late data
  (same ``F.window`` shape as the batch ``events_hourly_windows``
  query — batch/stream parity by construction);
- a sessionization example via ``applyInPandasWithState``-free
  windowing (session_window), staying declarative.

All queries write to the ``memory`` sink in tests; production sinks
are parquet/Kafka via ``writeStream`` options.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.timestamps import normalize_event_ts, parquet_ts_unit

#: the LEGACY int64-nanos layout of the events stream. Kept for tests
#: that fabricate nanos-encoded files to exercise the legacy branch of
#: ``normalize_event_ts``; ``read_events_stream`` does NOT assume it —
#: it infers the real schema from the files present at start.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # epoch nanoseconds
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    New files appearing under ``events_dir`` are discovered per
    micro-batch — the streaming analog of the reference's incremental
    LOGICAL_DATE reads.

    File streams require an explicit schema; rather than hard-code one
    (testdata regenerations have switched ``ts`` between int64-nanos
    and ``timestamp[us]`` encodings), the schema is taken from a batch
    footer read of the files already present, then ``ts`` is
    normalized to TIMESTAMP dtype-awarely — identical semantics to the
    batch ``load`` path, so stream/batch parity holds under every
    encoding. Later-arriving files must match the starting encoding
    (standard file-source contract). Starting on an EMPTY directory
    falls back to ``EVENTS_RAW_SCHEMA`` (the legacy nanos layout) so a
    stream can be wired up before its producer writes the first file."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # session-tz pin: window boundaries and NTZ casts must agree with
    # the batch path (and the oracle) whatever session runs the stream
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.errors import AnalysisException

    bigint_unit = parquet_ts_unit(events_dir)
    try:
        schema = spark.read.parquet(events_dir).schema
    except AnalysisException:  # no files yet: unable to infer schema
        schema = EVENTS_RAW_SCHEMA
        # the fallback schema IS the legacy nanos layout — pin the
        # unit rather than leaving later-arriving files to magnitude
        # inference (near-epoch nanos instants would land in the
        # wrong magnitude band and scale 1000×)
        bigint_unit = "ns"
    # default 1 keeps tests deterministic (one batch per file); a
    # production directory with thousands of files should raise this
    # so the backlog drains in a handful of micro-batches
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    return normalize_event_ts(raw, bigint_unit=bigint_unit)


def hourly_event_counts(
    events: DataFrame
) -> DataFrame:
    """Tumbling 1-hour windows with late-data watermark.

    Identical aggregation shape to the batch ``events_hourly_windows``
    oracle query — the watermark bounds state so this runs forever on
    an unbounded stream (state per (window, type) only until the
    watermark passes the window end)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(stream_df: DataFrame) -> DataFrame:
    """Drain all available input of ``stream_df`` through a memory sink
    (complete mode) and return its rows, pinned (localCheckpoint); the
    sink's temp view is dropped, so repeated drains leave the catalog
    as they found it. Raises TimeoutError when the stream has not
    drained within 60 s, rather than return the rows that arrived so
    far as the result."""
    import uuid

    spark = stream_df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(60):
            raise TimeoutError(f"stream {name} did not drain within 60 s")
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        query.stop()
        spark.catalog.dropTempView(name)


def drain_table_file(spark: SparkSession, path: str, build) -> DataFrame:
    """Copy the table file ``path`` as-is into a fresh file-stream
    source directory (file streams read directories; the copy keeps
    the file's own encoding, which is what the stream readers must
    handle), drain the stream ``build(directory)`` returns through
    :func:`run_to_memory`, and remove the directory."""
    import shutil
    import tempfile

    staged = tempfile.mkdtemp(prefix="table_stream_")
    try:
        shutil.copy(path, staged)
        return run_to_memory(build(staged))
    finally:
        shutil.rmtree(staged, ignore_errors=True)
