"""Structured Streaming over events: hourly windows.

The stream is driven with availableNow over the real testdata parquet,
and the windowed result is cross-checked against the BATCH version of
the same aggregation — stream/batch parity is the correctness bar.
"""

from __future__ import annotations

import pytest

from etl_procedure_codes_crawler_spark.plans.relational import QUERIES
from etl_procedure_codes_crawler_spark.streaming import events as E


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    # file-source streams require a DIRECTORY; stage the single parquet
    # file into one (also how new files would arrive in production)
    import shutil

    directory = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", directory / "part-000.parquet")
    return str(directory)


def test_stream_hourly_matches_batch(spark, sf_dir, events_dir):
    stream = E.read_events_stream(spark, events_dir)
    assert stream.isStreaming
    query = E.run_to_memory(E.hourly_event_counts(stream), "hourly_test")
    try:
        streamed = spark.sql(
            "SELECT date_format(window_start, 'yyyy-MM-dd HH:mm:ss') AS ws,"
            "       event_type, n_events, sum_value FROM hourly_test"
        ).collect()
        batch = QUERIES["events_hourly_windows"](spark, sf_dir).collect()
        s = {(r.ws, r.event_type): (r.n_events, r.sum_value) for r in streamed}
        b = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in batch
        }
        assert s == b
    finally:
        query.stop()
