"""The one timing harness behind ``bench.py`` and the profiling scripts.

Every query runs through :func:`materialize`, a write to Spark's
``noop`` sink. It executes every column and every operator of the
plan, as a caller consuming the result would, and keeps no output.
``count()`` is not a substitute: Catalyst prunes the columns a count
does not need, and with them UDF, join, window and generate nodes.

Each timed unit starts from :func:`settle`, so a query is not billed
for the GC debt or leaked cache of whatever ran before it, and times
plan building plus materialization (a fresh DataFrame per pass, so
every pass recompiles its plan).
"""

from __future__ import annotations

import functools
import gc
import sys
import time

from pyspark.sql import DataFrame, SparkSession

#: untimed pause per settle, split over its two GC rounds
SETTLE_S = 0.3

#: cheap representative shapes: pure-JVM agg + join, Arrow decode and a
#: banded self-join. Between them they warm whole-stage codegen, parquet
#: footer readers and the band-join and window code paths.
WARM_UP_QUERIES = (
    "q1_pricing_summary",
    "multimodal_payload_stats",
    "simhash_near_dup_pairs",
)


def registry() -> dict:
    """The query registry, beyond-reference families included."""
    from etl_procedure_codes_crawler_spark.llm import queries  # noqa: F401 — registers on import
    from etl_procedure_codes_crawler_spark.plans.relational import QUERIES

    return QUERIES


def materialize(df: DataFrame) -> None:
    """Run ``df`` to completion through the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def settle(spark: SparkSession) -> None:
    """Interference firebreak between timed units (untimed).

    Clears the SQL cache and forces a full JVM and Python collection,
    twice with a drain gap: ``System.gc()`` is what triggers Spark's
    ContextCleaner, whose asynchronous shuffle and broadcast file
    deletion would otherwise land inside the next timed window. The
    first collection queues that cleanup, the gap lets the cleaner
    drain it, and the second sweeps what the finalizers freed.
    """
    for _ in range(2):
        try:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — a firebreak, never a crash
            pass
        gc.collect()
        time.sleep(SETTLE_S / 2)


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Untimed process warm-up; a failing step is reported and skipped.

    The pandas UDF pass warms the Python worker pool and the Arrow
    paths. It runs four times because worker and JIT state keep
    deepening over executions, and one token pass leaves the first
    benched Arrow query paying part of that ramp. The representative
    shapes then run twice each."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0

    def udf_pass() -> DataFrame:
        return spark.range(4096).select(_warm(F.col("id").cast("double")))

    queries = registry()
    builds = [udf_pass] * 4 + [
        functools.partial(queries[name], spark, sf_dir)
        for name in WARM_UP_QUERIES
        if name in queries
        for _ in range(2)
    ]
    for build in builds:
        try:
            materialize(build())
        except Exception as exc:  # noqa: BLE001 — warm-up, never fatal
            print(f"harness: warm-up step failed: {exc!r:.200}", file=sys.stderr)


def time_query(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Settle, then the seconds to build ``name``'s plan and materialize it."""
    settle(spark)
    start = time.perf_counter()
    materialize(registry()[name](spark, sf_dir))
    return round(time.perf_counter() - start, 3)


def isolated_best(spark: SparkSession, name: str, sf_dir: str, runs: int) -> float:
    """Best of ``runs`` timings of ``name`` under isolation conditions.

    One untimed pass of the query itself comes first: the in-suite
    value an isolated reading is compared with is a best pass, so plan
    compile and scaffold builds must not land in the timed runs."""
    settle(spark)
    materialize(registry()[name](spark, sf_dir))
    return min(time_query(spark, name, sf_dir) for _ in range(runs))
