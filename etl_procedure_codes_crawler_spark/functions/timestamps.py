"""Event-timestamp normalization (encoding-robust, batch + stream).

The driver-generated ``events.parquet`` has carried its ``ts`` column
under different parquet encodings across regenerations:

- ``TIMESTAMP(NANOS)`` — Spark can't read it natively; with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as
  ``bigint`` nanoseconds;
- ``timestamp[us]`` (no timezone) — Spark 4 reads ``TIMESTAMP_NTZ``;
- ``timestamp[us, tz=UTC]`` — Spark reads ``TIMESTAMP`` (LTZ).

Code must never assume which encoding a file it doesn't own uses.
This module is the single place that looks at the *actual* dtype and
normalizes to a session-timezone ``TIMESTAMP`` (sessions here pin
``spark.sql.session.timeZone=UTC``, so all three encodings agree on
wall-clock — the same interpretation DuckDB applies when reading the
naive/NTZ columns for the oracle comparison).

Both the batch loader (``plans.relational.load``) and the streaming
reader (``streaming.events.read_events_stream``) route through
``normalize_event_ts``; operators that need epoch arithmetic on
timestamps they didn't load themselves use ``epoch_micros``, which
tolerates ``TIMESTAMP_NTZ`` inputs.

All of this is a plain column cast — whole-stage-codegen'd, no Python
in the hot path, and it does not block parquet filter pushdown on the
other columns.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["normalize_event_ts", "epoch_micros", "parquet_ts_unit"]


def parquet_ts_unit(path: str) -> str | None:
    """Driver-side footer peek: the parquet logical-type unit ('ns',
    'us', 'ms', 's') of column ``ts`` in the first parquet file under
    ``path``, or None when the column is a plain integer (no logical
    type) or absent. One footer read, no Spark job — and cached per
    (file, mtime): the unit is a schema property, so repeated
    loads of the same file (every event query in a session) skip the
    pyarrow open. An appended file with a DIFFERENT encoding than its
    siblings is already outside the file-source contract; the mtime
    key still invalidates on rewrite."""
    import glob
    import os

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    else:
        files = [path]
    if not files:
        return None
    f = files[0]
    try:
        mtime = os.stat(f).st_mtime_ns
    except OSError:
        return None
    return _ts_unit_read(f, mtime)


@lru_cache(maxsize=256)
def _ts_unit_read(f: str, mtime_ns: int) -> str | None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(f)
    except Exception:
        return None
    if "ts" in schema.names:
        t = schema.field("ts").type
        if pa.types.is_timestamp(t):
            return t.unit
    return None


def normalize_event_ts(
    df: DataFrame, bigint_unit: str | None = None
) -> DataFrame:
    """Normalize the event-timestamp column ``ts`` to TIMESTAMP, whatever
    the file encoding produced. Works on batch and streaming DataFrames
    (only the analyzed schema is consulted).

    - ``bigint``        → epoch integer. When the caller knows the unit
      (``bigint_unit`` in {'ns','us','ms','s'} — e.g. from
      :func:`parquet_ts_unit` on a TIMESTAMP(NANOS) file read under
      ``nanosAsLong``), that is definitive, exact at every instant.
      Otherwise the unit is *inferred from magnitude* (nanos ≥ 1e17 >
      micros ≥ 1e14 > millis ≥ 1e11 > seconds): a regeneration writing
      plain int64 micros/millis would also surface as bigint, and
      assuming nanos would silently scale it 1000×. The bands are
      unambiguous for any instant between 1973 and 5138 — pass
      ``bigint_unit`` for near-epoch data. Either way the dispatch is
      pure expressions (codegen'd); truncation to micros matches what
      DuckDB applies to TIMESTAMP_NS;
    - ``timestamp_ntz`` → cast to TIMESTAMP via the session timezone
      (UTC in this engine), preserving wall-clock;
    - ``timestamp``     → already correct, untouched;
    - column absent     → untouched (caller's schema has no event ts).
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        v = F.col("ts")
        if bigint_unit is not None:
            micros = {
                "ns": F.expr("`ts` div 1000"),
                "us": v,
                "ms": v * F.lit(1000),
                "s": v * F.lit(1_000_000),
            }[bigint_unit]
        else:
            mag = F.abs(v)
            micros = (
                F.when(mag >= F.lit(10**17), F.expr("`ts` div 1000"))
                .when(mag >= F.lit(10**14), v)
                .when(mag >= F.lit(10**11), v * F.lit(1000))
                .otherwise(v * F.lit(1_000_000))
            )
        return df.withColumn("ts", F.timestamp_micros(micros))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def epoch_micros(col: str | Column) -> Column:
    """``unix_micros`` that also accepts TIMESTAMP_NTZ.

    ``F.unix_micros`` raises AnalysisException on TIMESTAMP_NTZ input;
    casting through TIMESTAMP first is a no-op for TIMESTAMP columns
    and a session-timezone (UTC) reinterpretation for NTZ — exactly
    the normalization :func:`normalize_event_ts` applies at load.
    Generic operators (as-of join, range join) use this so they stay
    correct on frames the caller built without going through
    ``load``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))
