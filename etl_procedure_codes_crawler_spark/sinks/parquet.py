"""Parquet dataset sinks (SURVEY §2.2 K1/K2/K6).

Reference: ``crawler/src/utils/s3.py:37-63`` —
``s3_athena_load_table_parquet_snappy`` writes snappy parquet datasets
with append/overwrite modes, optional partition columns, a
date-stamped *filename prefix*, Glue registration, and a skip when the
frame is empty. Spark-first translation:

- the date-stamp filename prefix becomes a ``load_date`` partition
  column (queryable, prunable — filenames are not);
- Glue registration becomes the Spark catalog (``saveAsTable``) when a
  table name is given, plain ``save`` for paths;
- append-mode double-write risk under task retry is mitigated by
  writing each run into a distinct ``load_date`` (or run-id) partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fsutil import hadoop_fs

LOAD_DATE_COLUMN = "load_date"


def with_load_date(df: DataFrame, load_date: str | None = None) -> DataFrame:
    """Attach the run's load-date partition column (replaces the
    reference's ``datetime.now().strftime('%Y%m%d')`` filename prefix,
    ``utils/s3.py:37``)."""
    col = (
        F.lit(load_date)
        if load_date is not None
        else F.date_format(F.current_date(), "yyyyMMdd")
    )
    return df.withColumn(LOAD_DATE_COLUMN, col)


def write_parquet_dataset(
    df: DataFrame,
    path: str | None = None,
    table: str | None = None,
    mode: str = "append",
    partition_by: list[str] | None = None,
    skip_empty: bool = True,
) -> bool:
    """K1: snappy parquet dataset write, append/overwrite, optional
    partitioning and catalog registration. Returns True if written.

    ``skip_empty`` keeps the reference's 0-row guard
    (``utils/s3.py:40``; cheap ``isEmpty`` — avoids empty files and
    catalog churn).
    """
    if (path is None) == (table is None):
        raise ValueError("exactly one of path/table must be given")
    if skip_empty and df.isEmpty():
        return False
    writer = df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if table is not None:
        writer.format("parquet").saveAsTable(table)
    else:
        writer.parquet(path)
    return True


def write_single_file_parquet(df: DataFrame, path: str) -> None:
    """K2: single-file write (``utils/s3.py:57-63``).

    ``repartition(1)`` funnels through one task — correct only for
    small frames (the reference used it for small exports); large data
    should use :func:`write_parquet_dataset`. repartition rather than
    coalesce: upstream stages keep their parallelism, and a coalesced
    tiny relation measures ~10× slower to write under AQE here.
    """
    df.repartition(1).write.mode("overwrite").parquet(path)


def delete_path(spark, path: str) -> bool:
    """K6: explicit cleanup (``utils/s3.py:12-24``) via Hadoop FS."""
    fs, hpath = hadoop_fs(spark, path)
    p = hpath(path)
    if fs.exists(p):
        return bool(fs.delete(p, True))
    return False


def get_table_location(spark, table: str) -> str | None:
    """K7: catalog → storage location (``utils/s3.py:65-69``)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    for row in rows:
        if row.col_name.strip() == "Location":
            return row.data_type
    return None


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
