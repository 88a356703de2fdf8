"""Deterministic salting for skew mitigation.

At 100 TB a handful of hot keys (the token "the", a null-ish default
user id, one viral document) turn a single reducer into the job's
critical path. AQE's skew-join splitting handles *joins* at runtime;
for pre-planned salting, :func:`with_salt` spreads each hot key over N
sub-keys (the two-phase grouped top-k in ``operators/topk.py`` ranks
per (key, salt) first).

Salts are deterministic (xxhash64 of payload columns), so plans stay
replayable — no rand() nondeterminism under task retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COLUMN = "_salt"


def with_salt(df: DataFrame, buckets: int, from_cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt in [0, buckets): xxhash64 over ``from_cols``
    (default: all columns) — stable under retries, unlike rand()."""
    cols = from_cols or df.columns
    return df.withColumn(
        SALT_COLUMN, F.pmod(F.xxhash64(*cols), F.lit(buckets)).cast("int")
    )
