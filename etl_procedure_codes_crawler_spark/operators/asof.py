"""As-of (nearest-timestamp) join — a custom operator Spark lacks.

Semantics: for every left row, attach the right row with the greatest
``right.ts <= left.ts`` (backward, inclusive) for the same key —
DuckDB's ``ASOF JOIN`` / pandas ``merge_asof`` defaults.

Scale-first implementation: NOT a range-condition join (a non-equi
join degenerates to a per-key cross product that explodes on hot
keys). Instead union both sides and run one window pass:

    union(left∪right) → shuffle once on key → sort by (ts, side)
        → last(right_payload, ignorenulls) over preceding rows
        → keep left rows

One shuffle, one sort, linear in rows per key — the same plan shape a
purpose-built streaming engine uses for temporal joins. The right
payload travels as a single struct so every output column comes from
the SAME matched row (per-column last() could mix rows when payload
columns contain nulls).

Ties on (key, right.ts) are broken arbitrarily — pre-dedup the right
side (e.g. max event_id per key+ts) when exact determinism matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    prefix: str = "right_",
) -> DataFrame:
    """Left as-of join on column ``ts`` of both sides; right columns
    (other than keys) come back
    ``prefix``-renamed, NULL where no row qualifies."""
    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns if c not in keys]
    left_cols = [c for c in left.columns if c not in keys and c != "ts"]

    payload_struct = StructType(
        [StructField(c, right.schema[c].dataType) for c in payload_cols]
    )
    left_tagged = left.select(
        *keys,
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in left_cols],
        F.lit(None).cast(payload_struct).alias("_rpay"),
    )
    right_tagged = right.select(
        *keys,
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        F.struct(*[F.col(c) for c in payload_cols]).alias("_rpay"),
    )
    unioned = left_tagged.unionByName(right_tagged)

    # ascending ts, right-before-left at equal ts, look back
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.select(
        *keys,
        "_ts",
        "_is_left",
        *left_cols,
        F.last("_rpay", ignorenulls=True).over(w).alias("_rpay"),
    ).filter(F.col("_is_left") == 1)

    return matched.select(
        *keys,
        F.col("_ts").alias("ts"),
        *left_cols,
        *[
            F.col("_rpay").getField(c).alias(prefix + c)
            for c in payload_cols
        ],
    )
