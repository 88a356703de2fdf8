"""plans/relational.load remembers each table's inferred parquet
schema: a later load of unchanged files starts no Spark job, and a
rewritten file or a changed inference conf infers afresh."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etl_procedure_codes_crawler_spark.plans import relational as R


def test_second_load_of_an_unchanged_file_starts_no_job(
    spark, tmp_path, jobs_started_by
):
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), tmp_path / "t.parquet")
    first = jobs_started_by(lambda: R.load(spark, str(tmp_path), "t"), "first-load")
    again = jobs_started_by(lambda: R.load(spark, str(tmp_path), "t"), "memo-load")
    assert len(first) >= 1  # schema inference
    assert len(again) == 0
    assert R.load(spark, str(tmp_path), "t").dtypes == [("a", "bigint"), ("b", "string")]


def test_a_rewritten_file_gives_the_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert R.load(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"a": ["p", "q", "r"], "c": [1.0, 2.0, 3.0]}), path)
    df = R.load(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "string"), ("c", "double")]
    assert sorted(df.collect()) == [("p", 1.0), ("q", 2.0), ("r", 3.0)]


def test_an_inference_conf_change_infers_again(spark, tmp_path):
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([1, 2], pa.timestamp("ns")),
                "b": pa.array([b"x", b"y"]),
            }
        ),
        tmp_path / "t.parquet",
    )
    conf = spark.conf
    keys = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.binaryAsString",
    )
    saved = {k: conf.get(k) for k in keys}
    try:
        conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        conf.set("spark.sql.parquet.binaryAsString", "false")
        assert R.load(spark, str(tmp_path), "t").dtypes == [
            ("ts", "bigint"),
            ("b", "binary"),
        ]
        conf.set("spark.sql.parquet.binaryAsString", "true")
        assert R.load(spark, str(tmp_path), "t").dtypes == [
            ("ts", "bigint"),
            ("b", "string"),
        ]
        # without nanosAsLong Spark cannot read TIMESTAMP(NANOS) at all:
        # the remembered bigint schema must not hide that
        conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            R.load(spark, str(tmp_path), "t")
    finally:
        for k, v in saved.items():
            conf.set(k, v)
