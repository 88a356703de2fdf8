"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process is one closed loop with one
client: a single driver on ``local[4]`` starts each iteration only after
the previous one has finished, and every iteration runs to full
materialization (committed appends, or ``noop``-sink writes).

A run: set-up, then timed iterations until ``--seconds`` of timed work
and at least three iterations. ``setup_s`` is the whole cold path before
the first timed iteration: the driver JVM's launch and the Spark
session, the seeded inputs (pages, warehouse, tables, oracle digests)
and the checked warm-up iterations. A cold start happens once per
process, so a run has one sample of it; the median is taken across
runs. ``peak_rss_mb`` is the peak over set-up and the timed loop of the
process tree's memory, each process counted by its PSS. With
``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` the timed loop runs twice, untraced and then traced (event
log on, fetch spans on, in a fresh session), followed by standalone
timed calls into single layers; the line carries the per-layer metrics
and the tracing overhead (traced minus untraced ``run_s``). The traced
loop runs second, on a JVM that has warmed further, so the overhead
also carries that drift and can read negative.

``run_s_tail``, ``codes_per_s`` and ``ops_failed_ratio`` are printed on
the lines before the result; they are not bounded metrics (a run holds
too few iterations for a stable tail; codes/s is the batch over
``run_s``; failures are the result's ``failed`` over ``attempted``).

Which end-to-end metric each layer metric should move, and where:

    layer metrics                  should move           on workload
    fetcher.*, parse.*, extract.*  run_s                 crawl_incremental
    dedup.*, snapshot.*, sink.*    run_s                 crawl_incremental
    pipeline.*                     run_s                 crawl_incremental
    spark.*                        run_s, peak_rss_mb    both
    query.<q>.*                    run_s                 query_mix

Layers a workload does not reach report 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
#: a median of fewer would be the mean of a warming first iteration and
#: a later one
MIN_ITERATIONS = 3

QUERY_METRICS = {"s": "s", "jobs": "count", "stages": "count", "driver_only_s": "s", "shuffle_bytes": "bytes"}

#: per-layer metric -> unit; every traced run reports all of them (0 where
#: the workload does not reach the layer)
PER_LAYER_UNITS = {
    "fetcher.calls": "count",
    "fetcher.calls_per_code": "ratio",
    "fetcher.instances": "count",
    "fetcher.wait_s": "s",
    "fetcher.wait_ms_p50": "ms",
    "fetcher.wait_ms_p99": "ms",
    "fetcher.wait_share": "ratio",
    "fetcher.errors": "count",
    "fetcher.retries": "count",
    "parse.pages": "count",
    "parse.ms_per_page": "ms",
    "parse.s": "s",
    "extract.s": "s",
    "extract.busy_ratio": "ratio",
    "dedup.s": "s",
    "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "snapshot.read_s": "s",
    "snapshot.files": "count",
    "snapshot.bytes": "bytes",
    "sink.s": "s",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.bytes_per_row": "bytes",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.checkpoint_s": "s",
    "pipeline.write_s": "s",
    "pipeline.driver_only_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jvm_heap_peak_mb": "MB",
    "trace.run_s_untraced": "s",
    "trace.run_s_traced": "s",
    "trace.overhead_s": "s",
}

END_TO_END_UNITS = {"run_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import QUERY_MIX

    units = dict(PER_LAYER_UNITS)
    for q in QUERY_MIX:
        for key, unit in QUERY_METRICS.items():
            units[f"query.{q}.{key}"] = unit
    return units


def configure_environment(work: str) -> None:
    """Keep every file the run writes inside ``work``; must run before
    the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def new_session(work: str, extra: dict | None = None):
    from etl_procedure_codes_crawler_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a heap fixed at its maximum (SPARK_GRAFT_DRIVER_MEM) from the
        # start, so peak RSS does not depend on when the JVM grows it
        "spark.driver.extraJavaOptions": "-Xms2g",
    }
    spark = get_spark(extra_conf={**conf, **(extra or {})})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin
    closes (the Python workers stopped with the SparkContext)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class RssSampler:
    """Peak memory of this process and all its descendants (the driver
    JVM and the Python workers), sampled from ``/proc``. Each process
    counts its proportional set size (PSS): a page shared by forked
    workers, or by a child the JVM is spawning, counts once, where
    summed RSS would count it in every process mapping it."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        return 0

    @classmethod
    def _tree_kb(cls, root: int) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue  # the process exited while being read
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        total = 0
        for pid in parent:
            p = pid
            while p and p != root:
                p = parent.get(p, 0)
            if p == root:
                try:
                    total += cls._pss_kb(pid)
                except (OSError, ValueError, IndexError):
                    pass  # the process exited while being read
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; with
    fewer than 21 samples no such percentile lies above the median, so
    the slowest sample is reported."""
    ordered = sorted(samples)
    n = len(ordered)
    if n < 21:
        return ordered[-1], f"max of {n}"
    return ordered[n - 11], f"p{100 * (n - 10) / n:.0f} of {n}"


def timed_loop(workload, spark, seconds: float, prefix: str, span_dir=None):
    """Closed loop until ``seconds`` of timed work and ``MIN_ITERATIONS``
    iterations. Returns per-iteration timed seconds, the segments timed,
    attempts and failures."""
    samples, segments, attempted, failed = [], [], 0, 0
    wall_start = time.perf_counter()
    while (len(samples) < MIN_ITERATIONS or sum(samples) < seconds) and (
        time.perf_counter() - wall_start < 4 * seconds + 60
    ):
        unit = f"{prefix}-{attempted}"
        attempted += 1
        t0 = time.perf_counter()
        try:
            parts, ok = workload.iterate(spark, unit, span_dir)
        except Exception:
            traceback.print_exc()
            samples.append(time.perf_counter() - t0)
            failed += 1
            continue
        samples.append(sum(end - start for _, start, end in parts))
        segments += parts
        failed += not ok
    return samples, segments, attempted, failed


def event_layer_metrics(workload, stats, segments, n_iter) -> dict:
    """Per-layer metrics the Spark event log gives, per iteration."""
    from perfbench.workloads import QUERY_MIX

    seg_wall = {label: end - start for label, start, end in segments}
    units = [stats[label] for label in seg_wall if label in stats]
    totals = {
        "spark.executor_run_s": sum(u.executor_run_s for u in units),
        "spark.executor_cpu_s": sum(u.executor_cpu_s for u in units),
        "spark.gc_s": sum(u.gc_s for u in units),
        "spark.shuffle_read_bytes": sum(u.shuffle_read_bytes for u in units),
        "spark.shuffle_write_bytes": sum(u.shuffle_write_bytes for u in units),
        "spark.spill_bytes": sum(u.spill_bytes for u in units),
    }
    m: dict[str, float] = {
        "spark.jvm_heap_peak_mb": max((u.heap_peak_bytes for u in units), default=0) / 2**20
    }
    if workload.name == "query_mix":
        for q in QUERY_MIX:
            labels = [label for label, _, _ in segments if label.startswith(f"{q}@")]
            qs = [stats[label] for label in labels if label in stats]
            m[f"query.{q}.s"] = statistics.mean(seg_wall[label] for label in labels)
            m[f"query.{q}.jobs"] = statistics.mean(len(u.jobs) for u in qs)
            m[f"query.{q}.stages"] = statistics.mean(u.stages for u in qs)
            m[f"query.{q}.driver_only_s"] = statistics.mean(
                seg_wall[label] - stats[label].job_s() for label in labels
            )
            m[f"query.{q}.shuffle_bytes"] = statistics.mean(u.shuffle_write_bytes for u in qs)
    else:
        totals.update({
            "pipeline.jobs": sum(len(u.jobs) for u in units),
            "pipeline.stages": sum(u.stages for u in units),
            "pipeline.tasks": sum(u.tasks for u in units),
            "pipeline.checkpoint_s": sum(u.phase_s("checkpoint") for u in units),
            "pipeline.write_s": sum(u.phase_s("write") for u in units),
            "pipeline.driver_only_s": sum(
                seg_wall[label] - stats[label].job_s() for label in seg_wall if label in stats
            ),
        })
    m.update({key: total / n_iter for key, total in totals.items()})
    return m


def traced_pass(workload, spark, work: str, seconds: float):
    """Fresh session with the event log on, a warm-up, the traced timed
    loop and standalone layer calls; returns samples and layer metrics."""
    from perfbench import tracing

    log_dir = os.path.join(work, "event-log")
    span_dir = os.path.join(work, "spans")
    os.makedirs(log_dir)
    os.makedirs(span_dir)
    spark.stop()
    spark = new_session(work, tracing.event_log_conf(log_dir))
    workload.start(spark)
    workload.iterate(spark, "warm-up-traced")  # new Python workers; the JVM is warm
    samples, segments, attempted, failed = timed_loop(
        workload, spark, seconds, "traced", span_dir
    )
    units = sorted({label.rsplit("@", 1)[-1] for label, _, _ in segments})
    layers = workload.layer_metrics(spark, units, tracing.read_spans(span_dir))
    spark.stop()  # closes the event log
    (log_name,) = os.listdir(log_dir)
    stats = tracing.unit_stats(tracing.read_event_log(os.path.join(log_dir, log_name)))
    layers.update(event_layer_metrics(workload, stats, segments, len(units)))
    return spark, samples, attempted, failed, layers


def run(workload_name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[workload_name](seed, work)
    spark = None
    try:
        # peak RSS over set-up and the timed loop: the cold warm-up touches
        # more memory than later iterations, and set-up work shows too
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = new_session(work)
            t1 = time.perf_counter()
            workload.prepare(spark)
            workload.start(spark)
            t2 = time.perf_counter()
            warm_ok = workload.warm_up(spark)
            t3 = time.perf_counter()
            setup_s = t3 - t0
            samples, _, attempted, failed = timed_loop(workload, spark, seconds, "iter")
        if trace:
            spark, traced, t_attempted, t_failed, layers = traced_pass(
                workload, spark, work, seconds
            )
            attempted += t_attempted
            failed += t_failed
    finally:
        workload.close()
        if spark is not None:
            spark.stop()
            stop_jvm()

    run_s = statistics.median(samples)
    tail_s, tail_label = tail(samples)
    summary = {
        "workload": workload_name,
        "iterations": attempted,
        "failed": failed,
        "ops_failed_ratio": failed / attempted,
        "warm_up_checked": warm_ok,
        "run_s": f"{run_s:.4f} s (median of {len(samples)})",
        "run_s_tail": f"{tail_s:.4f} s ({tail_label})",
        "setup_s": f"{setup_s:.4f} s (session {t1 - t0:.2f} + inputs {t2 - t1:.2f}"
        f" + warm-up {t3 - t2:.2f})",
        "peak_rss_mb": f"{rss.peak_kb / 1024:.1f} MB",
    }
    if hasattr(workload, "to_crawl"):
        summary["codes_per_s"] = f"{len(workload.batch) / run_s:.1f} codes/s"
    if trace:
        layers["trace.run_s_untraced"] = run_s
        layers["trace.run_s_traced"] = statistics.median(traced)
        layers["trace.overhead_s"] = layers["trace.run_s_traced"] - run_s
        # fetch wait per core as a share of the traced iteration
        layers["fetcher.wait_share"] = layers.get("fetcher.wait_s", 0.0) / (
            CORES * layers["trace.run_s_traced"]
        )
        units = per_layer_units()
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        values = {
            "run_s": run_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_kb / 1024,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    for key, value in summary.items():
        print(f"{key}: {value}")
    return {
        "correct": warm_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    configure_environment(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
