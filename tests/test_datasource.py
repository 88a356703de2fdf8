"""Tests for the Python DataSource (sources/datasource.py): the
crawl re-expressed as a planner-visible relation with partition
planning and code-filter pushdown."""

from __future__ import annotations

import os

import pytest

from pyspark.sql.datasource import EqualTo, GreaterThan, In

from etl_procedure_codes_crawler_spark.sources.datasource import (
    ProcedurePagesDataSource,
    ProcedurePagesReader,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(ProcedurePagesDataSource)
    return spark


class TestReaderPlanning:
    def test_pushdown_prunes_fetch_set_equalto(self):
        r = ProcedurePagesReader({"codes": "a,b,c"})
        remaining = list(r.pushFilters([EqualTo(("code",), "b")]))
        assert r.codes == ["b"]  # pruned BEFORE any fetch
        assert remaining == []  # fully answered by the source

    def test_pushdown_prunes_fetch_set_in(self):
        r = ProcedurePagesReader({"codes": "a,b,c,d"})
        remaining = list(r.pushFilters([In(("code",), ("a", "d", "zz"))]))
        assert r.codes == ["a", "d"]
        assert remaining == []

    def test_unsupported_filters_returned(self):
        r = ProcedurePagesReader({"codes": "a,b"})
        unsupported = GreaterThan(("code",), "a")
        remaining = list(r.pushFilters([unsupported]))
        assert remaining == [unsupported]  # same object, by reference
        assert r.codes == ["a", "b"]

    def test_partitions_chunk_at_batch_size(self):
        r = ProcedurePagesReader(
            {"codes": ",".join(f"c{i}" for i in range(5)), "batch_size": "2"}
        )
        parts = r.partitions()
        assert [p.codes for p in parts] == [
            ["c0", "c1"], ["c2", "c3"], ["c4"]
        ]

    def test_empty_relation_still_plans(self):
        r = ProcedurePagesReader({"codes": ""})
        assert len(r.partitions()) == 1

    def test_result_without_html_is_a_fetch_error(self, monkeypatch):
        """Classified on ``html is None``, as the mapInPandas operator
        does: a result with neither html nor error is not an ok row."""
        from etl_procedure_codes_crawler_spark.sources import fetcher
        from etl_procedure_codes_crawler_spark.sources.datasource import (
            _CodesPartition,
        )

        monkeypatch.setattr(
            fetcher.FixtureFetcher, "fetch", lambda self, code: fetcher.FetchResult()
        )
        r = ProcedurePagesReader({"pages_dir": FIXTURES})
        rows = list(r.read(_CodesPartition(["cpt_normal"])))
        assert rows == [("cpt_normal", None, None, "fetch_error", None)]

    def test_codes_discovered_from_pages_dir(self):
        r = ProcedurePagesReader({"pages_dir": FIXTURES})
        assert "cpt_normal" in r.codes and "page_404" in r.codes


class TestEndToEnd:
    def test_reads_fixture_pages(self, registered):
        df = (
            registered.read.format("procedure_pages")
            .option("pages_dir", FIXTURES)
            .load()
        )
        rows = {r.code: r for r in df.collect()}
        assert rows["cpt_normal"].status == "ok"
        assert "<html" in rows["cpt_normal"].html.lower()

    def test_fetch_failure_is_a_row_not_a_task_failure(self, registered):
        df = (
            registered.read.format("procedure_pages")
            .option("pages_dir", FIXTURES)
            .option("codes", "cpt_normal,DOES_NOT_EXIST")
            .load()
        )
        rows = {r.code: r for r in df.collect()}
        assert rows["cpt_normal"].status == "ok"
        # engine-wide status vocabulary (matches operators/extract.py)
        assert rows["DOES_NOT_EXIST"].status == "fetch_error"
        assert rows["DOES_NOT_EXIST"].html is None
        assert "no fixture" in rows["DOES_NOT_EXIST"].error

    def test_filter_result_correct(self, registered):
        df = (
            registered.read.format("procedure_pages")
            .option("pages_dir", FIXTURES)
            .load()
        )
        got = df.filter(df.code == "hcpcs_normal").collect()
        assert [r.code for r in got] == ["hcpcs_normal"]

    def test_source_composes_with_parse_layer(self, registered):
        """source → pure parser: the fetched html column feeds the
        same extraction functions the mapInPandas operator uses."""
        from etl_procedure_codes_crawler_spark.functions.html_extract import (
            extract_short_description,
        )
        from etl_procedure_codes_crawler_spark.functions.htmldom import (
            parse_html,
        )

        df = (
            registered.read.format("procedure_pages")
            .option("pages_dir", FIXTURES)
            .option("codes", "cpt_normal")
            .load()
        )
        html = df.collect()[0].html
        assert extract_short_description(parse_html(html))


class TestStreamReader:
    def test_incremental_microbatches(self, registered, tmp_path):
        """The chunk loop as a stream: batch_size=2 over 6 fixture
        pages → availableNow drains everything in 2-code batches;
        the sink sees every code exactly once."""
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stream = (
            registered.readStream.format("procedure_pages")
            .option("pages_dir", FIXTURES)
            .option("batch_size", "2")
            .load()
        )
        q = (
            stream.select("code", "status")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        # the simple stream reader prefetches one batch per trigger;
        # poll until all 6 fixture pages have drained through
        import time

        expected_n = len(
            [f for f in os.listdir(FIXTURES) if f.endswith(".html")]
        )
        deadline = time.time() + 120
        got = []
        while time.time() < deadline:
            try:
                got = registered.read.parquet(out).collect()
            except Exception:
                got = []
            if len(got) >= expected_n:
                break
            time.sleep(1)
        q.stop()
        assert sorted(r.code for r in got) == sorted(
            f[: -len(".html")]
            for f in os.listdir(FIXTURES)
            if f.endswith(".html")
        )
        assert all(r.status == "ok" for r in got)

    def test_offsets_advance_by_batch_size(self):
        from etl_procedure_codes_crawler_spark.sources.datasource import (
            ProcedurePagesStreamReader,
        )

        r = ProcedurePagesStreamReader({"codes": "a,b,c", "batch_size": "2"})
        start = r.initialOffset()
        rows, end = r.read(start)
        assert [t[0] for t in rows] == ["a", "b"] and end["index"] == 2
        rows, end = r.read(end)
        assert [t[0] for t in rows] == ["c"] and end["index"] == 3
        # replay is deterministic
        assert [t[0] for t in r.readBetweenOffsets(start, {"index": 2, "fp": end["fp"]})] == ["a", "b"]

    def test_changed_code_list_fails_loudly(self):
        """Index offsets checkpointed against one code list must not
        silently replay different codes after the list changes."""
        import pytest as _pytest

        from etl_procedure_codes_crawler_spark.sources.datasource import (
            CodeListChangedError,
            ProcedurePagesStreamReader,
        )

        r1 = ProcedurePagesStreamReader({"codes": "a,b,c", "batch_size": "2"})
        checkpointed = r1.initialOffset()
        # restart with a different list (a file appeared in pages_dir)
        r2 = ProcedurePagesStreamReader(
            {"codes": "a,ZZ,b,c", "batch_size": "2"}
        )
        with _pytest.raises(CodeListChangedError):
            r2.read(checkpointed)


class TestSourceToSqlPipeline:
    def test_source_lateral_udtf_extraction(self, registered):
        """The all-SQL alternative pipeline: pages relation (Python
        DataSource) LATERAL-joined to the extraction UDTF — crawl to
        modifier table without a line of imperative driver code."""
        from etl_procedure_codes_crawler_spark.operators.udtf import (
            register_udtfs,
        )

        register_udtfs(registered)
        (
            registered.read.format("procedure_pages")
            .option("pages_dir", FIXTURES)
            .option("codes", "cpt_normal,hcpcs_normal,page_404")
            .load()
            .createOrReplaceTempView("pages")
        )
        out = registered.sql(
            """
            SELECT p.code, m.modifier, m.description
            FROM pages p, LATERAL extract_modifiers(p.html) m
            WHERE p.status = 'ok'
            ORDER BY p.code, m.modifier
            """
        ).collect()
        assert len(out) > 0
        assert all(r.modifier for r in out)
        codes_with_modifiers = {r.code for r in out}
        assert "cpt_normal" in codes_with_modifiers
