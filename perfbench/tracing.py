"""Tracing for the benchmark's traced runs.

Two sources, both recorded from the benchmark's side of the package's
public entry points:

- fetch spans: :class:`SpanFetcher` wraps the fetcher the benchmark
  injects into the crawl; each partition's instance keeps its spans in
  memory and writes one JSON file when the partition closes it;
- the Spark event log (enabled through ``get_spark(extra_conf=...)``),
  parsed into jobs, stages, tasks and task metrics per timed unit. The
  benchmark tags every job of a unit with the ``perfbench.unit`` local
  property, and a job's phase comes from the call site of the action
  that triggered it (``localCheckpoint at ...``, ``parquet at ...``).
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from dataclasses import dataclass, field

UNIT_PROPERTY = "perfbench.unit"


class SpanFetcher:
    """Fetcher wrapper recording one span per fetch and one per partition
    (construction to close), written to ``span_dir`` on close."""

    def __init__(self, inner_factory, span_dir: str, unit: str):
        self._start = time.time()
        self._inner = inner_factory()
        self._dir = span_dir
        self._unit = unit
        self._fetch_s: list[float] = []
        self._errors = 0

    def fetch(self, code):
        t0 = time.perf_counter()
        result = self._inner.fetch(code)
        self._fetch_s.append(time.perf_counter() - t0)
        self._errors += result.error is not None
        return result

    def close(self) -> None:
        self._inner.close()
        record = {
            "unit": self._unit,
            "start": self._start,
            "end": time.time(),
            "fetch_s": self._fetch_s,
            "errors": self._errors,
        }
        path = os.path.join(self._dir, f"span-{uuid.uuid4().hex}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(record, fh)


def read_spans(span_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(span_dir, "span-*.json"))):
        with open(path, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class UnitStats:
    """Everything the event log says about one timed unit."""

    jobs: list = field(default_factory=list)  # (start_s, end_s, phase)
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    heap_peak_bytes: int = 0  # driver JVM heap in use, polled during tasks

    def phase_s(self, phase: str) -> float:
        return union_length((a, b) for a, b, p in self.jobs if p == phase)

    def job_s(self) -> float:
        return union_length((a, b) for a, b, _ in self.jobs)


SQL_EXECUTION_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def job_phase(call_site: str) -> str:
    """Pipeline phase of a job from the call site of the action that
    triggered it, recorded as ``<method> at <file>:<line>``."""
    method = call_site.split(" at ", 1)[0]
    if method == "localCheckpoint":
        return "checkpoint"
    if method in ("parquet", "save", "isEmpty"):
        return "write"
    return "other"


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def unit_stats(events) -> dict[str, UnitStats]:
    """Per-unit jobs, executed stages, tasks and task metrics."""
    units: dict[str, UnitStats] = {}
    call_sites: dict[str, str] = {}  # SQL execution id -> action call site
    job_unit: dict[int, str] = {}
    job_start: dict[int, tuple[float, str]] = {}
    stage_unit: dict[int, str] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == SQL_EXECUTION_START:
            call_sites[str(ev["executionId"])] = ev["description"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            unit = props.get(UNIT_PROPERTY)
            if unit is None:
                continue
            job_unit[ev["Job ID"]] = unit
            site = call_sites.get(props.get("spark.sql.execution.root.id"), "")
            job_start[ev["Job ID"]] = (ev["Submission Time"] / 1e3, job_phase(site))
            for stage in ev["Stage Infos"]:
                stage_unit[stage["Stage ID"]] = unit
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_unit:
            start, phase = job_start[ev["Job ID"]]
            units.setdefault(job_unit[ev["Job ID"]], UnitStats()).jobs.append(
                (start, ev["Completion Time"] / 1e3, phase)
            )
        elif kind == "SparkListenerStageCompleted":
            unit = stage_unit.get(ev["Stage Info"]["Stage ID"])
            if unit is not None:
                units.setdefault(unit, UnitStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            unit = stage_unit.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if unit is None or not metrics:
                continue
            stats = units.setdefault(unit, UnitStats())
            stats.tasks += 1
            stats.executor_run_s += metrics.get("Executor Run Time", 0) / 1e3
            stats.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
            stats.gc_s += metrics.get("JVM GC Time", 0) / 1e3
            read = metrics.get("Shuffle Read Metrics") or {}
            stats.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            write = metrics.get("Shuffle Write Metrics") or {}
            stats.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
            stats.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
            peaks = ev.get("Task Executor Metrics") or {}
            stats.heap_peak_bytes = max(stats.heap_peak_bytes, peaks.get("JVMHeapMemory", 0))
    return units


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes one plain JSON-lines event log, with
    executor memory polled so task-end events carry heap peaks."""
    return {
        "spark.executor.metrics.pollingInterval": "100ms",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
