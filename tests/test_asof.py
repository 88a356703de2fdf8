"""Unit tests for the union+window as-of join (operators/asof.py)."""

from __future__ import annotations

import datetime as dt

import pytest

from etl_procedure_codes_crawler_spark.operators.asof import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def quotes_and_trades(spark):
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:00"), 100.0),
            ("A", _ts("2024-01-01 10:00:05"), 101.0),
            ("A", _ts("2024-01-01 10:00:10"), 102.0),
            ("B", _ts("2024-01-01 10:00:03"), 50.0),
        ],
        "sym string, ts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:04"), 10),  # after 10:00:00 quote
            ("A", _ts("2024-01-01 10:00:05"), 20),  # equal ts -> inclusive
            ("A", _ts("2024-01-01 09:59:59"), 30),  # before any quote -> NULL
            ("B", _ts("2024-01-01 10:01:00"), 40),
            ("C", _ts("2024-01-01 10:00:00"), 50),  # key absent from right
        ],
        "sym string, ts timestamp, qty int",
    )
    return quotes, trades


def test_backward_matches_latest_not_later(spark, quotes_and_trades):
    quotes, trades = quotes_and_trades
    out = asof_join(trades, quotes, on="sym", prefix="q_")
    got = {(r.sym, r.qty): r.q_px for r in out.collect()}
    assert got[("A", 10)] == 100.0
    assert got[("A", 20)] == 101.0  # equal timestamp matches (inclusive)
    assert got[("A", 30)] is None  # nothing at-or-before
    assert got[("B", 40)] == 50.0
    assert got[("C", 50)] is None  # key never quoted
    assert out.count() == trades.count()  # left join: every left row kept


def test_payload_struct_keeps_columns_from_same_row(spark):
    # right payload has nulls in some columns: per-column last() would
    # stitch values from different rows; the struct must not.
    right = spark.createDataFrame(
        [
            ("k", _ts("2024-01-01 00:00:01"), "a", None),
            ("k", _ts("2024-01-01 00:00:02"), None, "b2"),
        ],
        "k string, ts timestamp, x string, y string",
    )
    left = spark.createDataFrame(
        [("k", _ts("2024-01-01 00:00:03"))], "k string, ts timestamp"
    )
    row = asof_join(left, right, on="k").collect()[0]
    # matched row is the 00:00:02 one: x must be NULL (not 'a' from row 1)
    assert row.right_x is None and row.right_y == "b2"


def test_multi_key_join(spark):
    right = spark.createDataFrame(
        [("u1", "mobile", _ts("2024-01-01 00:00:01"), 1)],
        "user string, device string, ts timestamp, v int",
    )
    left = spark.createDataFrame(
        [
            ("u1", "mobile", _ts("2024-01-01 00:00:02")),
            ("u1", "web", _ts("2024-01-01 00:00:02")),
        ],
        "user string, device string, ts timestamp",
    )
    got = {
        (r.user, r.device): r.right_v
        for r in asof_join(left, right, on=["user", "device"]).collect()
    }
    assert got[("u1", "mobile")] == 1
    assert got[("u1", "web")] is None


def test_single_shuffle_plan(spark, quotes_and_trades):
    quotes, trades = quotes_and_trades
    out = asof_join(trades, quotes, on="sym")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one exchange for the union'd window, nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
