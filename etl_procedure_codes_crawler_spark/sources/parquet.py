"""Parquet/table sources (SURVEY §2.1 S2/S3).

The reference reads via Athena (``crawler/src/utils/athena.py:30-54``)
with an optional chunked generator, and plain parquet via
``utils/s3.py:71-72``, which is ``spark.read.parquet`` here; Spark scans
are natively partitioned, so "chunking" disappears. ``read_table_or_empty``
preserves one reference behavior worth keeping: a missing/empty source
yields a typed empty DataFrame instead of ``None``
(the reference returns ``None`` at ``athena.py:49-54`` and then
guards on it — a typed empty frame composes with joins/unions without
guards).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_table_or_empty(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """Read a parquet dataset; if absent, an empty frame with ``schema``.

    Replaces the reference's None-on-empty contract
    (``utils/athena.py:47-54``) with the union-identity empty relation
    the rest of the plan can join against unconditionally.
    """
    if _exists(path):
        return spark.read.schema(schema).parquet(path)
    return local_relation(spark, schema)


def local_relation(
    spark: SparkSession, schema: StructType | str, *columns: list
) -> DataFrame:
    """A driver-built relation over ``schema`` (a StructType or a DDL
    string) from one list per field (``columns``; none given: zero
    rows), passed to Spark as an Arrow table. Spark plans it as a
    ``LocalRelation`` (a ``LocalTableScan``, no Python worker tasks at
    scan time), whose size the optimizer knows, and prunes joins
    against it when it is empty."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pydict(
        dict(zip(schema.names, columns or [[]] * len(schema.names))),
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def _exists(path: str) -> bool:
    if "://" not in path or path.startswith("file:"):
        return os.path.exists(path.removeprefix("file:"))
    # Non-local URI: let Spark's Hadoop FS answer (driver-side only).
    from pyspark.sql import SparkSession as _S

    spark = _S.getActiveSession()
    if spark is None:
        return False
    from ..sinks.fsutil import hadoop_fs

    fs, hpath = hadoop_fs(spark, path)
    return fs.exists(hpath(path))
