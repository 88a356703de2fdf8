"""A JVM compiles each distinct generated pipeline once.

``session.get_spark`` sizes the codegen cache to the bench's working
set and keeps stage ids out of generated class names, so a plan run
again finds every class it needs already compiled. With Spark's
default 100-entry cache, ``llm_corpus_prep_v5`` alone (~150 classes)
evicted its own classes and recompiled all of them on every run.
"""

from __future__ import annotations

import json
import subprocess
import sys

from etl_procedure_codes_crawler_spark import harness


def _compiles(spark) -> int:
    # the histogram's count is exact (one update per compile); its
    # values are a reservoir sample, so their sum is not
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiles_per_run(spark, sf_dir: str, name: str) -> list[int]:
    """Classes compiled by each of two back-to-back runs of ``name``."""
    build = harness.registry()[name]
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        harness.materialize(build(spark, sf_dir))
        counts.append(_compiles(spark) - before)
    return counts


def test_session_sizes_the_cache_and_drops_stage_ids(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_session_turns_off_dataframe_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_a_plan_run_again_compiles_nothing(spark, sf_dir):
    first, second = _compiles_per_run(
        spark, sf_dir, "window_top3_orders_per_customer"
    )
    assert second == 0, (first, second)


#: run in a new interpreter: the codegen cache is sized once per JVM, by
#: whichever thread compiles the JVM's first generated class
_V5_FIRST_IN_JVM = """
import json, sys
from etl_procedure_codes_crawler_spark import harness
from etl_procedure_codes_crawler_spark.session import get_spark

spark = get_spark(shuffle_partitions=2)
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
counts = []
for _ in range(2):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    harness.materialize(harness.registry()["llm_corpus_prep_v5"](spark, sys.argv[1]))
    counts.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
print(json.dumps(counts))
spark.stop()
"""


def test_corpus_prep_v5_run_again_compiles_at_most_a_tenth(sf_dir, tmp_path):
    # In a new JVM, so the first run is cold whatever ran before it in
    # this session. v5 is the JVM's first query: it compiles its first
    # classes on the worker thread that checkpoints the posting join,
    # and a cache sized there from Spark's defaults (100 entries)
    # recompiles most of v5 on every run.
    proc = subprocess.run(
        [sys.executable, "-c", _V5_FIRST_IN_JVM, sf_dir],
        capture_output=True, text=True, cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert second <= first // 10, (first, second)
