"""Unit tests for the bucketed range join (operators/rangejoin.py)."""

from __future__ import annotations

import datetime as dt

from etl_procedure_codes_crawler_spark.operators.rangejoin import range_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _frames(spark):
    intervals = spark.createDataFrame(
        [
            ("w1", _ts("2024-01-01 10:00:00"), _ts("2024-01-01 12:00:00")),
            ("w2", _ts("2024-01-01 11:30:00"), _ts("2024-01-01 11:45:00")),
        ],
        "win string, start timestamp, end timestamp",
    )
    points = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00")),  # inclusive start of w1
            (2, _ts("2024-01-01 11:40:00")),  # inside w1 AND w2
            (3, _ts("2024-01-01 12:00:00")),  # exclusive end of w1
            (4, _ts("2024-01-01 09:59:59")),  # before everything
        ],
        "pid int, ts timestamp",
    )
    return points, intervals


def test_containment_inclusive_start_exclusive_end(spark):
    points, intervals = _frames(spark)
    out = range_join(points, intervals, "start", "end")
    pairs = sorted((r.pid, r.win) for r in out.collect())
    assert pairs == [(1, "w1"), (2, "w1"), (2, "w2")]


def test_bucket_size_does_not_change_results(spark):
    points, intervals = _frames(spark)
    for bucket in (60, 600, 3600, 86400):
        out = range_join(points, intervals, "start", "end", bucket_seconds=bucket)
        assert sorted((r.pid, r.win) for r in out.collect()) == [
            (1, "w1"),
            (2, "w1"),
            (2, "w2"),
        ], f"bucket_seconds={bucket}"


def test_keyed_range_join_partitions_by_key(spark):
    intervals = spark.createDataFrame(
        [("u1", _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"))],
        "user string, start timestamp, end timestamp",
    )
    points = spark.createDataFrame(
        [
            ("u1", 1, _ts("2024-01-01 05:00:00")),
            ("u2", 2, _ts("2024-01-01 05:00:00")),  # right time, wrong key
        ],
        "user string, pid int, ts timestamp",
    )
    out = range_join(points, intervals, "start", "end", on="user")
    assert [r.pid for r in out.collect()] == [1]


def test_plans_as_equi_join_not_nested_loop(spark):
    points, intervals = _frames(spark)
    plan = range_join(points, intervals, "start", "end")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
