"""Watermark semantics under append mode: late data beyond the
watermark must be DROPPED, not silently aggregated.

The other streaming tests use complete/update modes (which never
finalize windows); this one drives append mode across two
micro-batches so the watermark actually advances and closes windows.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.streaming.events import (
    EVENTS_RAW_SCHEMA,
    read_events_stream,
)
from etl_procedure_codes_crawler_spark.streaming.incremental import (
    stage_stream_files,
)


def _write_events_file(spark, source_dir: str, name: str, rows, mtime: float):
    """rows: (event_id, ts_seconds, user_id, type, value). ``mtime``
    fixes the file's modification time — the file source orders
    micro-batches by mtime, and copies land within the same clock tick
    otherwise (batch order would be arbitrary)."""
    df = spark.createDataFrame(
        [
            (eid, int(sec * 1_000_000_000), uid, etype, val, "{}")
            for eid, sec, uid, etype, val in rows
        ],
        EVENTS_RAW_SCHEMA,
    )
    (target,) = stage_stream_files(df.coalesce(1), source_dir, name)
    os.utime(target, (mtime, mtime))


HOUR = 3600


def test_append_mode_finalizes_windows_and_bounds_state(spark, tmp_path):
    """What watermarks actually GUARANTEE for aggregations: append
    mode emits a window exactly once — when the watermark passes its
    end — and state for passed windows is evicted (bounded state on an
    unbounded stream). Note the drop of too-late input rows is
    documented as likely-but-not-guaranteed, so it is deliberately NOT
    asserted here."""
    source = str(tmp_path / "src")
    os.mkdir(source)
    base = 1_700_000_000

    import time as _time

    now = _time.time()
    # batch 1: two events in hour-0; watermark still at epoch → window
    # open, nothing emitted yet
    _write_events_file(
        spark,
        source,
        "b1",
        [(1, base, 1, "click", 1.0), (2, base + 60, 1, "click", 2.0)],
        mtime=now - 1000,
    )
    # batch 2: an event 10 hours on → watermark advances to +8h,
    # passing hour-0's window end → that window finalizes and emits
    _write_events_file(
        spark, source, "b2", [(3, base + 10 * HOUR, 1, "click", 5.0)], mtime=now
    )

    stream = read_events_stream(spark, source)
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    query = (
        windowed.writeStream.format("memory")
        .queryName("wm_append")
        .outputMode("append")  # emits only FINALIZED windows
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    progress = list(query.recentProgress)
    query.stop()

    rows = spark.sql("SELECT n, v FROM wm_append").collect()
    # exactly the finalized hour-0 window, exactly once, fully merged
    assert [(r.n, r.v) for r in rows] == [(2, 3.0)]

    # state eviction: after the final batch only the live (hour-10)
    # window remains in the store — watermark bounds state
    state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
    assert state_rows == 1, progress[-1]["stateOperators"]
