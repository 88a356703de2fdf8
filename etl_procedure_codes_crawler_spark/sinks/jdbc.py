"""JDBC sink (SURVEY §2.2 K3): the crawl job's error-audit append.

Reference: ``crawler/src/utils/postgres.py:62-86`` —
``postgres_to_sql_*`` (pandas ``to_sql``). Spark-first translation:
``df.write.format("jdbc")`` in append mode, which creates the table on
its first write. The reference's multi-statement transactions (K4) and
DDL (K5) have no caller in the job and are not carried.

Exercised end to end against embedded Apache Derby (its jars ship with
Spark): ``tests/test_io_surface.py`` and ``tests/test_crawl_job.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.jdbc import JdbcConnection


def write_jdbc(df: DataFrame, conn: JdbcConnection, table: str) -> bool:
    """K3: append ``df`` to ``table`` (``utils/postgres.py:62-86``).
    Returns True if written; an empty frame writes nothing (the
    reference's empty-frame guard)."""
    if df.isEmpty():
        return False
    (
        df.write.format("jdbc")
        .options(**conn.options())
        .option("dbtable", table)
        .mode("append")
        .save()
    )
    return True
