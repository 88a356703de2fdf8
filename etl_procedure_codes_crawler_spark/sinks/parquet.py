"""Parquet dataset sinks (SURVEY §2.2 K1).

Reference: ``crawler/src/utils/s3.py:37-63`` —
``s3_athena_load_table_parquet_snappy`` writes snappy parquet datasets
with append/overwrite modes, optional partition columns, a
date-stamped *filename prefix*, Glue registration, and a skip when the
frame is empty. Spark-first translation:

- the date-stamp filename prefix becomes a ``load_date`` partition
  column (queryable, prunable — filenames are not), holding the run's
  logical date;
- the crawl job addresses its tables by warehouse path, so there is no
  catalog registration;
- append-mode double-write risk under task retry is mitigated by
  writing each run into a distinct ``load_date`` (or run-id) partition.

The reference's single-file export (K2), path cleanup (K6) and catalog
location lookup (K7) have no caller in the crawl job and are not carried.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LOAD_DATE_COLUMN = "load_date"


def with_load_date(df: DataFrame, load_date: str) -> DataFrame:
    """Attach the run's ``load_date`` partition column, the logical date
    as yyyyMMdd (the reference prefixes its files with the date the job
    ran instead, ``datetime.now().strftime('%Y%m%d')``, ``utils/s3.py:37``)."""
    return df.withColumn(LOAD_DATE_COLUMN, F.lit(load_date))


def write_parquet_dataset(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> bool:
    """K1: snappy parquet dataset write with optional partitioning.
    Returns True if written: an empty frame writes nothing (the
    reference's 0-row guard, ``utils/s3.py:40``; a cheap ``isEmpty``
    avoids empty files)."""
    if df.isEmpty():
        return False
    writer = df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return True


RUN_ID_COLUMN = "run_id"


def write_idempotent_run(
    df: DataFrame,
    path: str,
    run_id: str,
) -> bool:
    """Replay-safe incremental write: rows land in a ``run_id=<id>``
    partition via *dynamic* partition overwrite, so re-running the same
    run (Airflow retry, task resubmit, crashed driver) REPLACES its own
    partition instead of appending duplicates — other runs' partitions
    untouched. This is the deliberate upgrade over the reference's
    date-prefixed append files (``crawler/src/utils/s3.py:37``), which
    double-write on retry. Returns True if written."""
    if df.isEmpty():
        return False
    spark = df.sparkSession
    previous = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.withColumn(RUN_ID_COLUMN, F.lit(run_id))
            .write.mode("overwrite")
            .option("compression", "snappy")
            .partitionBy(RUN_ID_COLUMN)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", previous)
    return True
