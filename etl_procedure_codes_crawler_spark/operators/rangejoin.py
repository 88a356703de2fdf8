"""Range (interval-containment) join — bucketed equi-join scale path.

Problem: "match each point-timestamp row to interval rows containing
it" expressed naively is a non-equi join, which Spark plans as a
broadcast-nested-loop — O(n·m) and undistributable when neither side
broadcasts. At 100 TB that plan never finishes.

Scale path: quantize time into fixed buckets. An interval covers the
buckets it overlaps (``sequence`` + ``explode``); a point belongs to
exactly one bucket. Equi-join on (keys…, bucket) — a plain shuffled
hash join Catalyst handles like any other — then re-check exact
containment. Cost is linear in (rows × buckets-per-interval): pick
``bucket_seconds`` near the typical interval length so intervals
explode into ~1-2 buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timestamps import epoch_micros

BUCKET_COLUMN = "_tbucket"


def _bucket(col, bucket_seconds: int):
    return (epoch_micros(F.col(col)) / F.lit(bucket_seconds * 1_000_000)).cast(
        "long"
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    interval_start: str,
    interval_end: str,
    on: str | list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner join: every (point, interval) pair with
    ``interval_start <= ts < interval_end`` (and equal ``on``
    keys, if given). Output carries all columns of both inputs except
    duplicated key columns.

    Intervals spanning many buckets replicate once per bucket — size
    ``bucket_seconds`` to the typical interval, and cap pathological
    intervals upstream if the interval-length distribution is
    heavy-tailed.
    """
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))

    pts = points.withColumn(BUCKET_COLUMN, _bucket("ts", bucket_seconds))
    ivs = intervals.withColumn(
        BUCKET_COLUMN,
        F.explode(
            F.sequence(
                _bucket(interval_start, bucket_seconds),
                _bucket(interval_end, bucket_seconds),
            )
        ),
    )
    joined = pts.join(ivs, [*keys, BUCKET_COLUMN], "inner")
    return joined.filter(
        (F.col("ts") >= F.col(interval_start))
        & (F.col("ts") < F.col(interval_end))
    ).drop(BUCKET_COLUMN)
