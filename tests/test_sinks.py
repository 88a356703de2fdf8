"""Parquet sink semantics (reference: utils/s3.py:37-63)."""

from __future__ import annotations

import os

from etl_procedure_codes_crawler_spark.sinks.parquet import (
    with_load_date,
    write_parquet_dataset,
)
from etl_procedure_codes_crawler_spark.sources.parquet import read_table_or_empty
from etl_procedure_codes_crawler_spark.schemas import PROCEDURE_MODIFIERS_SCHEMA


def _mods(spark, pairs):
    return spark.createDataFrame(pairs, PROCEDURE_MODIFIERS_SCHEMA)


def test_append_accumulates(spark, tmp_path):
    path = str(tmp_path / "mods")
    assert write_parquet_dataset(_mods(spark, [("25", "d1")]), path=path)
    assert write_parquet_dataset(_mods(spark, [("59", "d2")]), path=path)
    out = spark.read.parquet(path)
    assert sorted(r.modifier for r in out.collect()) == ["25", "59"]


def test_empty_write_skipped(spark, tmp_path):
    path = str(tmp_path / "empty")
    assert not write_parquet_dataset(_mods(spark, []), path=path)
    assert not os.path.exists(path)


def test_load_date_partitioning(spark, tmp_path):
    path = str(tmp_path / "partitioned")
    df = with_load_date(_mods(spark, [("25", "d1")]), load_date="20260813")
    write_parquet_dataset(df, path=path, partition_by=["load_date"])
    assert os.path.isdir(os.path.join(path, "load_date=20260813"))
    out = spark.read.parquet(path)
    assert out.filter(out.load_date == "20260813").count() == 1


def test_read_missing_table_yields_typed_empty(spark, tmp_path):
    df = read_table_or_empty(
        spark, str(tmp_path / "nope"), PROCEDURE_MODIFIERS_SCHEMA
    )
    assert df.schema == PROCEDURE_MODIFIERS_SCHEMA and df.count() == 0
    # a DDL string schema, as spark.read.schema takes it
    ddl = read_table_or_empty(spark, str(tmp_path / "nope"), "id bigint, fp string")
    assert ddl.dtypes == [("id", "bigint"), ("fp", "string")] and ddl.count() == 0


class TestIdempotentRunWrites:
    def test_rerun_replaces_own_partition_only(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.sinks.parquet import (
            write_idempotent_run,
        )
        path = str(tmp_path / "runs")
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        write_idempotent_run(orders.limit(100), path, run_id="r1")
        write_idempotent_run(orders.limit(50), path, run_id="r2")
        # retry of r1 with fewer rows: must REPLACE r1, leave r2 alone
        write_idempotent_run(orders.limit(70), path, run_id="r1")

        by_run = {
            r.run_id: r.n
            for r in spark.read.parquet(path)
            .groupBy("run_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert by_run == {"r1": 70, "r2": 50}

    def test_empty_frame_skips_write(self, spark, tmp_path):
        import os

        from etl_procedure_codes_crawler_spark.schemas import CODES_INPUT_SCHEMA
        from etl_procedure_codes_crawler_spark.sinks.parquet import (
            write_idempotent_run,
        )

        path = str(tmp_path / "runs")
        empty = spark.createDataFrame([], CODES_INPUT_SCHEMA)
        assert write_idempotent_run(empty, path, run_id="r1") is False
        assert not os.path.exists(path)


class TestPartitionPruning:
    def test_partitioned_scan_prunes(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.functions.timestamps import (
            normalize_event_ts,
        )
        path = str(tmp_path / "events_by_day")
        events = normalize_event_ts(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        events.write.partitionBy("day").parquet(path)

        days = sorted(r.day for r in spark.read.parquet(path).select("day").distinct().collect())
        one_day = spark.read.parquet(path).filter(F.col("day") == days[0])
        plan = one_day._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the scan: only 1 of N day-dirs read
        assert "PartitionFilters: [isnotnull(day" in plan, plan
        n_parts = one_day.select(F.input_file_name()).distinct().count()
        all_parts = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
        assert n_parts < all_parts


class TestSchemaEvolution:
    def test_merge_schema_reads_evolving_dataset(self, spark, tmp_path):
        """Appends with added columns are the normal life of a 100TB
        dataset; mergeSchema must surface the union schema with NULLs
        for pre-evolution files."""
        path = str(tmp_path / "evolving")
        spark.createDataFrame(
            [("a", 1)], "code string, v1 long"
        ).write.mode("append").parquet(path)
        spark.createDataFrame(
            [("b", 2, "extra")], "code string, v1 long, v2 string"
        ).write.mode("append").parquet(path)

        merged = spark.read.option("mergeSchema", "true").parquet(path)
        assert set(merged.columns) == {"code", "v1", "v2"}
        rows = {r.code: r.v2 for r in merged.collect()}
        assert rows == {"a": None, "b": "extra"}
