"""The timing harness behind bench.py and the profiling scripts.

``materialize`` must run what ``count()`` prunes, ``settle`` must drop
cached relations, and ``warm_up`` must survive a failing warm-up query.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from etl_procedure_codes_crawler_spark import harness

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_materialize_runs_what_count_prunes(spark):
    @pandas_udf("double")
    def boom(s):
        raise RuntimeError("pruned work ran")

    df = spark.range(10).withColumn("boom", boom(F.col("id").cast("double")))
    assert df.count() == 10  # Catalyst drops the UDF column
    with pytest.raises(Exception, match="pruned work ran"):
        harness.materialize(df)


def test_settle_clears_cached_relations(spark):
    before = _persistent_rdd_ids(spark)
    df = spark.range(100).cache()
    df.count()
    cached = _persistent_rdd_ids(spark) - before
    assert cached
    harness.settle(spark)
    assert not cached & _persistent_rdd_ids(spark)


def test_warm_up_survives_a_failing_query(spark, monkeypatch):
    queries = harness.registry()
    calls: list[str] = []

    def fake(name):
        def build(spark_, sf_dir):
            calls.append(name)
            if name == harness.WARM_UP_QUERIES[0]:
                raise RuntimeError("warm-up query failed")
            return spark_.range(3)

        return build

    for name in harness.WARM_UP_QUERIES:
        monkeypatch.setitem(queries, name, fake(name))
    harness.warm_up(spark, "/nonexistent")
    assert calls == [n for n in harness.WARM_UP_QUERIES for _ in range(2)]


def test_time_query_and_isolated_best_time_the_registry_query(spark, monkeypatch):
    built: list[str] = []

    def build(spark_, sf_dir):
        built.append(sf_dir)
        return spark_.range(5)

    monkeypatch.setitem(harness.registry(), "harness_probe", build)
    assert harness.time_query(spark, "harness_probe", "sf") >= 0
    assert harness.isolated_best(spark, "harness_probe", "sf", 2) >= 0
    # one timed pass, then one untimed pass + two timed passes
    assert built == ["sf"] * 4


def test_profile_query_script_prints_one_result_line(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "2"))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(_REPO_ROOT, "scripts", "profile_query.py"),
            "--runs", "1", "--sf-dir", sf_dir, "q1_pricing_summary",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, proc.stdout
    row = json.loads(lines[0])
    assert row["query"] == "q1_pricing_summary"
    assert row["best"] > 0
    assert row["jobs_last_pass"] >= 1
    (build_s,), (materialize_s,) = row["build_s"], row["materialize_s"]
    assert build_s + materialize_s == pytest.approx(row["times"][0], abs=0.002)
    assert row["py4j_commands"][0] > 0
