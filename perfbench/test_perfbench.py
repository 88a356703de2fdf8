"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from etl_procedure_codes_crawler_spark.functions.html_extract import parse_procedure_page
from perfbench import gen, run, tracing
from perfbench.server import PageServer, http_fetcher_factory
from perfbench.workloads import WORKLOADS, result_digest

HERE = os.path.dirname(os.path.abspath(__file__))


def _inputs(seed: int):
    rng = random.Random(seed)
    pages = gen.make_pages(rng, 0, 300, 100)
    return pages, gen.dirty_batch(rng, [p.code for p in pages])


def _tables(warehouse: str) -> dict:
    return {
        table: pq.read_table(os.path.join(warehouse, table)).to_pylist()
        for table in ("procedure_codes", "procedure_modifiers", "procedure_ndc")
    }


def test_generator_is_deterministic(tmp_path):
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)
    templates = gen.load_templates()
    pages, _ = _inputs(7)
    dates = ("20260801", "20260802")
    keys_a = gen.seed_warehouse(str(tmp_path / "a"), pages, dates, templates)
    keys_b = gen.seed_warehouse(str(tmp_path / "b"), pages, dates, templates)
    assert keys_a == keys_b
    assert _tables(str(tmp_path / "a")) == _tables(str(tmp_path / "b"))
    gen.write_query_tables(str(tmp_path / "q1"), 3, 50, 10, 200, 2, 40)
    gen.write_query_tables(str(tmp_path / "q2"), 3, 50, 10, 200, 2, 40)
    for name in os.listdir(tmp_path / "q1"):
        assert pq.read_table(tmp_path / "q1" / name) == pq.read_table(tmp_path / "q2" / name)


def test_generated_pages_parse_to_template_status_and_varied_keys():
    templates = gen.load_templates()
    records = gen.template_records(templates)
    pages, _ = _inputs(11)
    assert {p.template for p in pages} == set(gen.TEMPLATES)
    for page in pages:
        record = parse_procedure_page(page.code, page.url, gen.render(page, templates))
        assert record["status"] == page.status
        assert record == gen.page_record(page, records)
        if page.modifiers:
            assert record["modifiers"] == [gen.modifier_row(k)[0] for k in page.modifiers]
        if page.ndc:
            assert record["ndc_alternate_id"] == [gen.ndc_row(k)[0] for k in page.ndc]


def test_expected_rows_follow_the_snapshot(tmp_path):
    templates = gen.load_templates()
    pages, _ = _inputs(5)
    stored = gen.seed_warehouse(str(tmp_path), pages[:200], ("20260801",), templates)
    codes, modifiers, ndc = gen.expected_rows(pages, *stored)
    assert not codes & stored[0] and not modifiers & stored[1] and not ndc & stored[2]
    assert codes == {p.code for p in pages[200:] if p.has_code_row}


def test_loopback_server_fault_counts_and_zero_latency_cost():
    templates = gen.load_templates()
    pages, _ = _inputs(3)
    pages = pages[:60]
    codes = [p.code for p in pages]
    permanent, one_shot = set(codes[:3]), set(codes[3:8])
    served = {
        p.code: (404 if p.status == "error_404" else 200, gen.render(p, templates))
        for p in pages
    }
    server = PageServer(served, 0.0, permanent, one_shot).start()
    try:
        fetcher = http_fetcher_factory(server.port, backoff=0.0)()
        costs, errors = [], set()
        try:
            for code in codes:
                t0 = time.perf_counter()
                result = fetcher.fetch(code)
                costs.append(time.perf_counter() - t0)
                if result.error is not None:
                    errors.add(code)
                else:
                    assert result.html == served[code][1]
        finally:
            fetcher.close()
        assert errors == permanent
        assert sum(server.requests.values()) == len(codes) + 2 * len(permanent) + len(one_shot)
        # Nagle's algorithm would cost ~40 ms a request on keep-alive
        assert statistics.median(costs) < 0.02
        server.reset()
        assert not server.requests
    finally:
        server.close()


def test_event_log_parser_on_recorded_log():
    events = tracing.read_event_log(os.path.join(HERE, "testdata", "eventlog_small.jsonl"))
    stats = tracing.unit_stats(events)
    # unit-a: localCheckpoint of a grouped range (shuffle map + result job);
    # unit-b: isEmpty, then a parquet write; the untagged count is dropped
    assert set(stats) == {"unit-a", "unit-b"}
    a, b = stats["unit-a"], stats["unit-b"]
    assert [p for _, _, p in a.jobs] == ["checkpoint", "checkpoint"]
    assert [p for _, _, p in b.jobs] == ["write", "write", "write"]
    assert (a.stages, a.tasks, b.stages, b.tasks) == (2, 5, 4, 10)
    assert a.shuffle_write_bytes == a.shuffle_read_bytes > 0
    assert a.executor_run_s > 0 and b.executor_cpu_s > 0
    assert 0 < a.job_s() == a.phase_s("checkpoint")
    assert b.phase_s("checkpoint") == 0


def test_event_log_parser_keeps_the_heap_peak():
    def task_end(heap):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Metrics": {"Executor Run Time": 1},
            "Task Executor Metrics": {"JVMHeapMemory": heap},
        }

    job = {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 0,
        "Stage Infos": [{"Stage ID": 0}],
        "Properties": {tracing.UNIT_PROPERTY: "u"},
    }
    stats = tracing.unit_stats([job, task_end(300), task_end(500), task_end(400)])
    assert stats["u"].heap_peak_bytes == 500


def test_union_length():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10), (2, 3)]) == 10


def test_result_digest_ignores_row_and_column_order():
    a = pa.table({"x": [1, 2], "y": [0.5, None]})
    b = pa.table({"y": [None, 0.5], "x": [2, 1]})
    assert result_digest(a) == result_digest(b)
    assert result_digest(a) != result_digest(pa.table({"x": [1, 2], "y": [0.5, 0.25]}))


def test_tail_is_never_below_the_median():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    samples = [float(i) for i in range(40)]
    value, label = run.tail(samples)
    assert value == 29.0 and label == "p75 of 40"


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
