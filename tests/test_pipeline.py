"""End-to-end crawl pipeline: clean → crawl → fan-out → dedup → sink."""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass

import pytest

from etl_procedure_codes_crawler_spark.plans import pipeline
from etl_procedure_codes_crawler_spark.plans.pipeline import (
    run_and_sink,
    run_crawl_pipeline,
)
from etl_procedure_codes_crawler_spark.schemas import (
    CODES_INPUT_SCHEMA,
    PROCEDURE_MODIFIERS_SCHEMA,
)
from etl_procedure_codes_crawler_spark.sources.fetcher import FixtureFetcher

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _pages():
    pages = {}
    for code, name in {
        "99213": "cpt_normal.html",
        "J0120": "hcpcs_normal.html",
        "XXXXX": "page_404.html",
        "0001M": "deleted_code.html",
    }.items():
        with open(os.path.join(FIXDIR, name)) as handle:
            pages[code] = handle.read()
    return pages


_URLS = {
    "99213": "https://example.test/cpt-codes/99213",
    "0001M": "https://example.test/cpt-codes/0001M",
    "J0120": "https://example.test/hcpcs-codes/J0120",
}

_factory = functools.partial(FixtureFetcher, pages=_pages(), urls=_URLS)

# dirty input: blanks, 'false', dup — P1-P3 exercise
RAW_CODES = ["99213", "", "false", "99213", "J0120", "XXXXX", "0001M", None]


def test_full_pipeline_first_run(spark):
    codes = spark.createDataFrame([(c,) for c in RAW_CODES], CODES_INPUT_SCHEMA)
    result = run_crawl_pipeline(spark, codes, _factory)
    out_codes = {r.code for r in result.codes.collect()}
    # 404 row excluded; deleted row included
    assert out_codes == {"99213", "J0120", "0001M"}
    assert sorted(r.modifier for r in result.modifiers.collect()) == ["25", "59"]
    assert result.ndc.count() == 3


def test_pipeline_dedups_vs_existing_modifiers(spark):
    codes = spark.createDataFrame([("99213",)], CODES_INPUT_SCHEMA)
    existing = spark.createDataFrame(
        [("25", "already known")], PROCEDURE_MODIFIERS_SCHEMA
    )
    result = run_crawl_pipeline(
        spark, codes, _factory, existing_modifiers=existing
    )
    assert [r.modifier for r in result.modifiers.collect()] == ["59"]


def test_incremental_run_and_sink_idempotent(spark, tmp_path):
    warehouse = str(tmp_path / "wh")
    codes = spark.createDataFrame([(c,) for c in RAW_CODES], CODES_INPUT_SCHEMA)

    first = run_and_sink(spark, codes, _factory, warehouse, load_date="20260813")
    assert first.codes.count() == 3
    stored = spark.read.parquet(f"{warehouse}/procedure_codes")
    assert stored.count() == 3

    # Second run with the same input: everything already known → no appends.
    second = run_and_sink(spark, codes, _factory, warehouse, load_date="20260814")
    assert second.codes.count() == 0
    assert second.modifiers.count() == 0
    assert second.ndc.count() == 0
    assert spark.read.parquet(f"{warehouse}/procedure_codes").count() == 3
    assert spark.read.parquet(f"{warehouse}/procedure_modifiers").count() == 2
    assert spark.read.parquet(f"{warehouse}/procedure_ndc").count() == 3


def test_incremental_new_code_appends_only_new(spark, tmp_path):
    warehouse = str(tmp_path / "wh2")
    first_codes = spark.createDataFrame([("99213",)], CODES_INPUT_SCHEMA)
    run_and_sink(spark, first_codes, _factory, warehouse, load_date="20260813")

    both = spark.createDataFrame([("99213",), ("J0120",)], CODES_INPUT_SCHEMA)
    second = run_and_sink(spark, both, _factory, warehouse, load_date="20260814")
    assert [r.code for r in second.codes.collect()] == ["J0120"]
    stored = spark.read.parquet(f"{warehouse}/procedure_ndc")
    # 2 NDC rows from 99213 (run 1) + 1 from J0120 (run 2)
    assert stored.count() == 3


def _warehouse_rows(spark, warehouse):
    return {
        table: sorted(map(tuple, spark.read.parquet(f"{warehouse}/{table}").collect()))
        for table in ("procedure_codes", "procedure_modifiers", "procedure_ndc")
    }


@pytest.fixture(scope="module")
def clean_warehouse(spark, tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("clean") / "wh")
    codes = spark.createDataFrame([(c,) for c in RAW_CODES], CODES_INPUT_SCHEMA)
    run_and_sink(spark, codes, _factory, warehouse, load_date="20260813")
    return _warehouse_rows(spark, warehouse)


class _InjectedCrash(RuntimeError):
    pass


@pytest.mark.parametrize(
    "crash_tables",
    [
        {"procedure_ndc"},
        {"procedure_modifiers"},
        {"procedure_codes"},
        {"procedure_ndc", "procedure_modifiers"},
    ],
    ids=["ndc", "modifiers", "codes", "ndc+modifiers"],
)
def test_crash_between_appends_recovers_on_rerun(
    spark, tmp_path, monkeypatch, clean_warehouse, crash_tables
):
    """A crash at any append, or at both concurrent ones, then a rerun
    of the same input, leaves the warehouse the no-crash run leaves: no
    table loses rows and none gets a key twice. The crash is keyed by
    table, not by call order: NDC and modifiers append concurrently."""
    warehouse = str(tmp_path / "wh")
    codes = spark.createDataFrame([(c,) for c in RAW_CODES], CODES_INPUT_SCHEMA)
    write = pipeline.write_parquet_dataset

    def crashing_write(*args, **kwargs):
        if os.path.basename(kwargs["path"]) in crash_tables:
            raise _InjectedCrash(f"crash at the {kwargs['path']} append")
        return write(*args, **kwargs)

    monkeypatch.setattr(pipeline, "write_parquet_dataset", crashing_write)
    with pytest.raises(_InjectedCrash):
        run_and_sink(spark, codes, _factory, warehouse, load_date="20260813")
    monkeypatch.setattr(pipeline, "write_parquet_dataset", write)
    if "procedure_codes" not in crash_tables:
        # the progress marker is written only after both other appends
        assert not os.path.exists(f"{warehouse}/procedure_codes/load_date=20260813")

    run_and_sink(spark, codes, _factory, warehouse, load_date="20260813")
    assert _warehouse_rows(spark, warehouse) == clean_warehouse


def test_every_job_stays_in_the_callers_job_group(spark, tmp_path, jobs_started_by):
    """The concurrent sink branches run their jobs in the caller's job
    group, so ``cancelJobGroup`` and job-group accounting reach them."""
    codes = spark.createDataFrame([(c,) for c in RAW_CODES], CODES_INPUT_SCHEMA)
    group = "crawl-under-test"
    jobs = jobs_started_by(
        lambda: run_and_sink(
            spark, codes, _factory, str(tmp_path / "wh"), load_date="20260813"
        ),
        group,
    )
    in_group = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    assert jobs and set(jobs) <= in_group


@dataclass
class _PartitionRecordingFetcher(FixtureFetcher):
    """A fixture fetcher that leaves one marker file per fetch, named
    after the fetching task's partition (pickled by value: see
    ``module_pickled_by_value``)."""

    record_dir: str = ""

    def fetch(self, code):
        from pyspark import TaskContext

        partition = TaskContext.get().partitionId()
        open(os.path.join(self.record_dir, f"{partition}-{code}"), "w").close()
        return super().fetch(code)


def _crawl_recording_partitions(spark, tmp_path, batch_partitions):
    """Crawl 40 codes (4 with fixture pages) and return the three
    outputs' sorted rows and the partitions that fetched."""
    out = tmp_path / f"parts-{batch_partitions}"
    out.mkdir()
    codes = spark.createDataFrame(
        [(c,) for c in [*RAW_CODES, *(f"F{i:02d}" for i in range(36))]],
        CODES_INPUT_SCHEMA,
    )
    factory = functools.partial(
        _PartitionRecordingFetcher, pages=_pages(), urls=_URLS, record_dir=str(out)
    )
    result = run_crawl_pipeline(
        spark, codes, factory, batch_partitions=batch_partitions
    )
    rows = [
        sorted(map(tuple, df.collect()))
        for df in (result.codes, result.modifiers, result.ndc)
    ]
    return rows, {int(name.split("-", 1)[0]) for name in os.listdir(out)}


def test_extraction_fetches_in_one_partition_per_core(
    spark, tmp_path, module_pickled_by_value
):
    """A 40-code batch is small enough for AQE to coalesce its shuffle
    into one partition, yet the fetch runs in one partition per core by
    default and in ``batch_partitions`` when given; the rows do not
    depend on the count."""
    cores = spark.sparkContext.defaultParallelism
    default_rows, default_parts = _crawl_recording_partitions(spark, tmp_path, None)
    assert default_parts == set(range(cores))
    given_rows, given_parts = _crawl_recording_partitions(spark, tmp_path, 3)
    assert given_parts == {0, 1, 2}
    single_rows, single_parts = _crawl_recording_partitions(spark, tmp_path, 1)
    assert single_parts == {0}
    assert default_rows == single_rows == given_rows
    assert [len(rows) for rows in default_rows] == [3, 2, 3]


class TestObservedMetrics:
    def test_extract_metrics_ride_the_job(self, spark, fixtures_dir):
        """Observation metrics come from the extraction pass itself —
        no second job — and reconcile with the input code count."""
        pages = {}
        for name in os.listdir(fixtures_dir):
            if name.endswith(".html"):
                with open(os.path.join(fixtures_dir, name), encoding="utf-8") as handle:
                    pages[os.path.splitext(name)[0]] = handle.read()
        codes = list(pages)
        codes_df = spark.createDataFrame(
            [(c,) for c in codes] + [("MISSING1",)], CODES_INPUT_SCHEMA
        )
        result = run_crawl_pipeline(
            spark,
            codes_df,
            functools.partial(FixtureFetcher, pages=pages),
        )
        result.codes.count()  # any action over the observed plan
        metrics = result.extract_metrics
        assert metrics["n_pages"] == len(codes) + 1
        assert metrics["n_errors"] >= 1  # the MISSING1 fetch error
        assert metrics["n_ok"] + metrics["n_deleted"] + metrics["n_errors"] <= metrics["n_pages"]
