"""Encoding-robustness net for the events ``ts`` column.

The driver regenerates ``/root/testdata`` between rounds and has
already switched the parquet encoding of ``events.ts`` once
(TIMESTAMP(NANOS) → ``timestamp[us]`` NTZ), silently corrupting every
timestamp 1000× in code that assumed the old layout. This test writes
the SAME rows under all three plausible encodings and asserts that the
batch loader and the streaming reader produce identical, correct
results on each — so the next regeneration cannot break anything
silently.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.functions.timestamps import (
    epoch_micros,
    normalize_event_ts,
)
from etl_procedure_codes_crawler_spark.plans.relational import load
from etl_procedure_codes_crawler_spark.streaming import events as E

#: fixed wall-clock instants (epoch micros, UTC) spanning two hours
_TS_US = [
    1_700_000_000_000_000,
    1_700_000_060_000_000,
    1_700_003_600_000_000,
    1_700_007_199_000_000,
]
_ROWS = {
    "event_id": [1, 2, 3, 4],
    "user_id": [10, 10, 11, 12],
    "event_type": ["view", "purchase", "view", "view"],
    "value": [1.5, 2.5, 3.5, 4.5],
    "props": ["{}", "{}", "{}", "{}"],
}

ENCODINGS = {
    # legacy: TIMESTAMP(NANOS) — Spark reads bigint under nanosAsLong
    "nanos": pa.array([us * 1000 for us in _TS_US], pa.timestamp("ns")),
    # current driver testdata: naive micros — Spark reads TIMESTAMP_NTZ
    "ntz_us": pa.array(_TS_US, pa.timestamp("us")),
    # tz-aware micros — Spark reads TIMESTAMP (LTZ)
    "ltz_us": pa.array(_TS_US, pa.timestamp("us", tz="UTC")),
    # plain int64 columns (no parquet logical type): a regeneration
    # could write raw epoch integers in any unit — the normalizer
    # infers the unit from magnitude instead of assuming nanos
    "int64_us": pa.array(_TS_US, pa.int64()),
    "int64_ms": pa.array([us // 1000 for us in _TS_US], pa.int64()),
    "int64_s": pa.array([us // 1_000_000 for us in _TS_US], pa.int64()),
}


def _write(dirpath: str, encoding: str) -> str:
    table = pa.table({**_ROWS, "ts": ENCODINGS[encoding]})
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(table, os.path.join(dirpath, "events.parquet"))
    return dirpath


@pytest.mark.parametrize("encoding", list(ENCODINGS))
def test_batch_load_normalizes_every_encoding(spark, tmp_path, encoding):
    sf_dir = _write(str(tmp_path / encoding), encoding)
    df = load(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(
        (r.event_id, r.us)
        for r in df.select("event_id", epoch_micros("ts").alias("us")).collect()
    )
    assert got == sorted(zip(_ROWS["event_id"], _TS_US))


@pytest.mark.parametrize("encoding", list(ENCODINGS))
def test_stream_reader_matches_batch(spark, tmp_path, encoding):
    src = _write(str(tmp_path / encoding), encoding)
    stream = E.read_events_stream(spark, src)
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"
    got = {
        (r.ws, r.event_type, r.n_events)
        for r in E.run_to_memory(E.hourly_event_counts(stream))
        .selectExpr(
            "date_format(window_start,'yyyy-MM-dd HH:mm:ss') ws",
            "event_type",
            "n_events",
        )
        .collect()
    }
    # base instant is 2023-11-14 22:13:20 UTC; +60s stays in 22:00,
    # +3600s lands in 23:00, +7199s crosses into 2023-11-15 00:00
    assert got == {
        ("2023-11-14 22:00:00", "view", 1),
        ("2023-11-14 22:00:00", "purchase", 1),
        ("2023-11-14 23:00:00", "view", 1),
        ("2023-11-15 00:00:00", "view", 1),
    }


def test_epoch_micros_accepts_ntz_and_ltz(spark):
    df = spark.sql(
        "SELECT TIMESTAMP'2023-11-14 22:13:20' AS ltz,"
        "       TIMESTAMP_NTZ'2023-11-14 22:13:20' AS ntz"
    )
    row = df.select(
        epoch_micros("ltz").alias("a"), epoch_micros("ntz").alias("b")
    ).collect()[0]
    assert row.a == row.b == 1_700_000_000_000_000


def test_normalize_is_noop_without_ts_column(spark):
    df = spark.range(3)
    assert normalize_event_ts(df) is df


def test_queries_pin_utc_against_foreign_session_tz(spark, sf_dir):
    """The driver's gate runs queries in ITS session. If that session's
    timezone were, say, Asia/Kolkata (+5:30 — misaligns hour windows),
    NTZ casts and window boundaries would drift from the DuckDB
    oracle's naive reading. load()/read_events_stream pin the session
    timezone to UTC at the seam; this sets a hostile tz and asserts
    oracle parity anyway."""
    from etl_procedure_codes_crawler_spark.plans.parity import compare_query
    from etl_procedure_codes_crawler_spark.plans.relational import (
        ORACLES,
        QUERIES,
    )

    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        for name in ("events_hourly_windows", "asof_last_view_before_purchase"):
            spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
            report = compare_query(spark, sf_dir, QUERIES[name], ORACLES[name])
            assert report["values_match"], (name, report)
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


BOUNDARY_US = [
    -1_000_000,                 # pre-epoch: 1969-12-31 23:59:59
    0,                          # the epoch itself
    1,                          # first representable microsecond
    4_102_444_800_000_000,      # 2100-01-01 (beyond any i32-seconds)
    7_258_118_400_000_000,      # 2200-01-01 (inside the int64-nanos range)
]


# raw-int64 encodings are excluded: near-epoch instants are below the
# magnitude bands' unambiguous range (1973+) by construction
@pytest.mark.parametrize("encoding", ["nanos", "ntz_us", "ltz_us"])
def test_boundary_instants_agree_across_encodings(spark, tmp_path, encoding):
    """Whole-microsecond instants at the representation boundaries
    (pre-epoch negatives, epoch zero, far future near the int64-nanos
    ceiling) normalize to the identical epoch-micros under every
    encoding — the invariant every temporal operator relies on."""
    arr = {
        "nanos": pa.array([us * 1000 for us in BOUNDARY_US], pa.timestamp("ns")),
        "ntz_us": pa.array(BOUNDARY_US, pa.timestamp("us")),
        "ltz_us": pa.array(BOUNDARY_US, pa.timestamp("us", tz="UTC")),
    }[encoding]
    table = pa.table(
        {"event_id": list(range(len(BOUNDARY_US))), "ts": arr}
    )
    d = str(tmp_path / encoding)
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "events.parquet"))
    df = load(spark, d, "events")
    got = dict(
        (r.event_id, r.us)
        for r in df.select("event_id", epoch_micros("ts").alias("us")).collect()
    )
    assert got == dict(enumerate(BOUNDARY_US))


def test_stream_starts_on_empty_directory(spark, tmp_path):
    """Wiring a stream before the producer's first file must not raise
    (falls back to EVENTS_RAW_SCHEMA); files arriving later are read."""
    d = str(tmp_path / "empty_events")
    os.makedirs(d, exist_ok=True)
    stream = E.read_events_stream(spark, d)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    # producer writes a nanos-encoded file after stream wiring
    table = pa.table({**_ROWS, "ts": ENCODINGS["nanos"]})
    pq.write_table(table, os.path.join(d, "events.parquet"))
    rows = E.run_to_memory(
        stream.groupBy("event_id").agg(
            F.min(epoch_micros("ts")).alias("us")
        )
    ).collect()
    got = sorted((r.event_id, r.us) for r in rows)
    assert got == sorted(zip(_ROWS["event_id"], _TS_US))


def test_stream_empty_start_near_epoch_nanos(spark, tmp_path):
    """The empty-dir fallback schema IS the nanos layout, so the
    stream must pin unit='ns' rather than magnitude-infer: a
    near-epoch instant (1970-01-02, 8.64e13 ns) sits in the 'ms'
    magnitude band and would silently scale 1000x under inference."""
    d = str(tmp_path / "empty_events_boundary")
    os.makedirs(d, exist_ok=True)
    stream = E.read_events_stream(spark, d)
    day2_us = 86_400_000_000  # 1970-01-02 00:00:00 in epoch micros
    table = pa.table(
        {
            "event_id": [1],
            "user_id": [10],
            "event_type": ["view"],
            "value": [1.0],
            "props": ["{}"],
            "ts": pa.array([day2_us * 1000], pa.timestamp("ns")),
        }
    )
    pq.write_table(table, os.path.join(d, "events.parquet"))
    rows = E.run_to_memory(
        stream.groupBy("event_id").agg(
            F.min(epoch_micros("ts")).alias("us")
        )
    ).collect()
    got = {r.event_id: r.us for r in rows}
    assert got == {1: day2_us}
