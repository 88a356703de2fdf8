#!/usr/bin/env python
"""Isolate one (or more) registry queries for optimization work.

For each named query: the bench's warm-up, N timed passes (the bench's
methodology: ``harness.settle``, then ``harness.build_and_materialize``
builds the plan and materializes the full result through the noop
sink), plus job/stage counts from the status tracker, the number of
generated classes compiled, and an optional .explain("formatted") dump.

Usage:
  python scripts/profile_query.py [--runs N] [--explain-dir DIR]
      [--sf-dir DIR] query [query ...]

Prints one JSON line per query:
  {"query": ..., "times": [...], "best": ..., "build_s": [...],
   "materialize_s": [...], "py4j_commands": [...], "jobs_last_pass": J,
   "stages_last_pass": S, "codegen_compiles_last_pass": C}

The lists hold one value per pass. ``build_s`` is the registry call
(plan construction, with any eager jobs the build runs) and
``materialize_s`` the noop write; they sum to the pass's ``times``
entry. ``py4j_commands`` counts the driver's round trips to the JVM in
both, from every thread: the driver-side planning layer, without an
event log.

C counts the classes the last pass compiled (codegen cache misses): 0
once the JVM holds every class the plan generates. The first pass of
a plan pays for its compiles, so pass --runs 2 or more to see both.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)


def main() -> None:
    ap = argparse.ArgumentParser()
    def _positive_int(v: str) -> int:
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError("--runs must be >= 1")
        return n

    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=_positive_int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    from etl_procedure_codes_crawler_spark import harness
    from etl_procedure_codes_crawler_spark.session import get_spark

    spark = get_spark(app_name="profile-query")
    queries = harness.registry()
    harness.warm_up(spark, args.sf_dir)
    st = spark.sparkContext.statusTracker()
    # one count per compile, exact; the histogram's values are a
    # reservoir sample, so their sum would not be
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    def run_once(name: str) -> dict:
        harness.settle(spark)
        jobs_before = set(st.getJobIdsForGroup(None) or [])
        compiles_before = compiles.getCount()
        with harness.py4j_commands(spark) as sent:
            build_s, materialize_s = harness.build_and_materialize(
                spark, name, args.sf_dir
            )
            py4j_commands = sent()
        compiled = compiles.getCount() - compiles_before
        new_jobs = set(st.getJobIdsForGroup(None) or []) - jobs_before
        infos = [st.getJobInfo(j) for j in new_jobs]
        return {
            "time": round(build_s + materialize_s, 3),
            "build_s": round(build_s, 3),
            "materialize_s": round(materialize_s, 3),
            "py4j_commands": py4j_commands,
            "jobs": len(new_jobs),
            "stages": sum(len(ji.stageIds) for ji in infos if ji),
            "compiled": compiled,
        }

    for name in args.queries:
        if name not in queries:
            print(json.dumps({"query": name, "error": "not registered"}))
            continue
        passes = [run_once(name) for _ in range(args.runs)]
        times = [p["time"] for p in passes]
        last = passes[-1]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            try:
                df = queries[name](spark, args.sf_dir)
                txt = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(
                    os.path.join(args.explain_dir, f"{name}.txt"), "w"
                ) as fh:
                    fh.write(txt)
            except Exception as exc:  # noqa: BLE001
                print(f"explain failed for {name}: {exc}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "query": name,
                    "times": times,
                    "best": min(times),
                    **{
                        key: [p[key] for p in passes]
                        for key in ("build_s", "materialize_s", "py4j_commands")
                    },
                    "jobs_last_pass": last["jobs"],
                    "stages_last_pass": last["stages"],
                    "codegen_compiles_last_pass": last["compiled"],
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
