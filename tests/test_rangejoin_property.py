"""Property test: bucketed range_join ≡ naive non-equi join.

The bucketed rewrite must be invisible in results for ANY bucket size;
Hypothesis hunts boundary cases (points exactly on interval edges,
intervals smaller/larger than the bucket, zero-length intervals).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_procedure_codes_crawler_spark.operators.rangejoin import range_join

BASE = dt.datetime(2024, 1, 1)
_SEC = st.integers(min_value=0, max_value=7200)


def _ts(seconds: int) -> dt.datetime:
    return BASE + dt.timedelta(seconds=seconds)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(_SEC, min_size=1, max_size=10),
    intervals=st.lists(st.tuples(_SEC, st.integers(0, 3600)), min_size=1, max_size=8),
    bucket=st.sampled_from([60, 600, 3600]),
)
def test_range_join_matches_naive_containment(spark, points, intervals, bucket):
    expected = set()
    for pid, p in enumerate(points):
        for iid, (start, length) in enumerate(intervals):
            if start <= p < start + length:
                expected.add((pid, iid))

    pts = spark.createDataFrame(
        [(pid, _ts(p)) for pid, p in enumerate(points)],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (iid, _ts(start), _ts(start + length))
            for iid, (start, length) in enumerate(intervals)
        ],
        "iid long, start timestamp, end timestamp",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            pts, ivs, "start", "end", bucket_seconds=bucket
        ).collect()
    }
    assert got == expected
