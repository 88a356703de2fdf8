#!/usr/bin/env python
"""Isolate one (or more) registry queries for optimization work.

For each named query: the bench's warm-up, N timed passes (the bench's
methodology: ``harness.time_query`` settles, then materializes the full
result through the noop sink), plus job/stage counts from the status
tracker and an optional .explain("formatted") dump.

Usage:
  python scripts/profile_query.py [--runs N] [--explain-dir DIR]
      [--sf-dir DIR] query [query ...]

Prints one JSON line per query:
  {"query": ..., "times": [...], "best": ..., "jobs_last_pass": J,
   "stages_last_pass": S}
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

    def run_once(name: str) -> tuple[float, int, int]:
        jobs_before = set(st.getJobIdsForGroup(None) or [])
        dt = harness.time_query(spark, name, args.sf_dir)
        new_jobs = set(st.getJobIdsForGroup(None) or []) - jobs_before
        infos = [st.getJobInfo(j) for j in new_jobs]
        return dt, len(new_jobs), sum(len(ji.stageIds) for ji in infos if ji)

    for name in args.queries:
        if name not in queries:
            print(json.dumps({"query": name, "error": "not registered"}))
            continue
        passes = [run_once(name) for _ in range(args.runs)]
        times = [dt for dt, _, _ in passes]
        _, jobs, stages = passes[-1]
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
                    "jobs_last_pass": jobs,
                    "stages_last_pass": stages,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
