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
    streamed = (
        E.run_to_memory(E.hourly_event_counts(stream))
        .selectExpr(
            "date_format(window_start, 'yyyy-MM-dd HH:mm:ss') AS ws",
            "event_type",
            "n_events",
            "sum_value",
        )
        .collect()
    )
    batch = QUERIES["events_hourly_windows"](spark, sf_dir).collect()
    s = {(r.ws, r.event_type): (r.n_events, r.sum_value) for r in streamed}
    b = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch
    }
    assert s == b


def test_undrained_stream_raises_instead_of_returning_partial_rows(
    spark, events_dir, monkeypatch
):
    """A drain whose wait times out (awaitTermination returns False)
    must raise, not hand back whatever rows had arrived; the query is
    still stopped and its view dropped."""
    from pyspark.sql.streaming.query import StreamingQuery

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    before = {t.name for t in spark.catalog.listTables()}
    stream = E.read_events_stream(spark, events_dir)
    with pytest.raises(TimeoutError, match="did not drain"):
        E.run_to_memory(E.hourly_event_counts(stream))
    assert not [
        q for q in spark.streams.active if (q.name or "").startswith("drain_")
    ]
    assert {t.name for t in spark.catalog.listTables()} == before


def test_memory_sink_queries_leave_the_catalog_unchanged(spark, sf_dir):
    """Each run of a memory-sink query used to register a new temp
    view and never drop it; two runs of each must leave the catalog's
    table list as it was."""
    from etl_procedure_codes_crawler_spark.harness import registry

    queries = registry()
    names = (
        "streaming_hourly_event_counts",
        "streaming_incremental_dedup_documents",
    )
    before = sorted(t.name for t in spark.catalog.listTables())
    for _ in range(2):
        for name in names:
            assert queries[name](spark, sf_dir).count() > 0
    assert sorted(t.name for t in spark.catalog.listTables()) == before
