"""SparkSession factory tuned for the engine.

Replaces the reference's external-engine delegation (Athena via
awswrangler, ``crawler/src/utils/athena.py:11-54``) with an in-process
Catalyst session. All defaults are chosen for scale-out behavior:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy);
- Arrow on (every pandas-UDF / mapInPandas boundary is vectorized);
- shuffle partitions sized from the configured parallelism rather than
  the 200-row-chunk hand scheduling of the reference
  (``crawler/src/procedure_code.py:725``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "etl-procedure-codes-crawler-spark"


def default_parallelism() -> int:
    """Parallelism knob: honored by tests/bench via SPARK_GRAFT_CPUS."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from SPARK_GRAFT_CPUS.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and sort-merge→broadcast conversion at 100TB scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every Python<->JVM data transfer.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Partition-size ceiling so scans split into memory-safe tasks.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Broadcast policy (round 12): the STATIC planner must never
        # pick broadcast joins — its size estimate for explode-derived
        # relations (shingle/gram/band rows) is fiction, and at 500k
        # docs it estimated corpus-sized gram relations under the old
        # 64 MB threshold and OOMed the driver building the broadcast
        # tables (the works-at-sf0.1/dies-at-100x class). AQE instead
        # promotes joins to broadcast from RUNTIME sizes (truth), and
        # explicit F.broadcast()/hint sites still force it where the
        # code knows the relation is bounded.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Semantics pins, set HERE for sessions this engine owns.
        # plans.relational.load() re-pins the same two values at the
        # query seam because the correctness gate runs queries in a
        # session it builds itself — that re-pin is an idempotent
        # no-op for sessions created by this factory.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        # Robustness to parquet files carrying TIMESTAMP(NANOS), which
        # Spark otherwise rejects outright: read as long; the actual
        # dtype is then inspected and normalized at the source
        # (functions/timestamps.py) — never assumed.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The driver JVM touches its heap as it commits it, so its
        # resident memory follows its heap size, not G1's timing. Without
        # this, a heap committed up front (-Xms = -Xmx) is resident only
        # where eden has cycled. A run whose old plus humongous occupancy
        # crosses G1's concurrent-start threshold early keeps eden small
        # from then on and peaks ~300 MB under one that does not
        # (perfbench crawl_incremental, 2 GB heap: 2,712-3,079 MB over
        # 20 runs before, 3,047-3,100 MB over 10 after). Default options
        # are prepended to a caller's spark.driver.extraJavaOptions, not
        # replaced by them.
        .config("spark.driver.defaultJavaOptions", "-XX:+AlwaysPreTouch")
        # Compile each distinct whole-stage pipeline once per JVM. At
        # small scale Janino compilation, not data, sets query latency:
        # llm_corpus_prep_v5 generates ~150 classes per run and the
        # four-query perfbench mix ~200, so Spark's default LRU of 100
        # entries recompiled every class on every run. 2000 holds the
        # ~1,530 classes of one sweep of the 97 bench HEADLINE rows (at
        # sf0.001 and at sf0.01); two such sweeps used ~130 MB of the
        # 240 MB reserved code heap. The cache size is a static conf: it
        # takes effect only when this factory creates the JVM's first
        # session.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # A stage id in a generated class name gives an identical
        # pipeline a new cache key whenever AQE re-plans it or it sits
        # at another position: with ids, a HEADLINE sweep at sf0.001
        # compiles 1,929 classes and a second sweep 307 more; without,
        # 1,530 and 22. Runtime conf.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # No per-call call-site capture. With DataFrame debugging on,
        # PySpark wraps every functions.*/Column call in a capture that
        # costs about ten py4j commands (the active session, a conf read,
        # set/clear of the JVM origin) plus a Python stack walk: 2,510 of
        # the 4,312 commands a warm llm_corpus_prep_v5 build and
        # materialization sent. The capture only names the Python line in
        # a query-context error message; to get it back while debugging,
        # pass extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
        # "true"} to the JVM's first session (PySpark reads it once per
        # process).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
