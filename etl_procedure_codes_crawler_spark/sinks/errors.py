"""Error-audit sink (SURVEY §2.2 K8, §2.6 F23).

Reference: ``crawler/src/utils/error_handler.py:13-39`` — parse the
Airflow run-spec JSON (with ``ast.literal_eval`` fallback for
single-quoted payloads), build a one-row DataFrame
``(dag_id, task_id, run_id, error)`` and append it to the audit table.

The sink target is injected: the crawl job (``scripts/crawl.py``)
appends to :data:`ERRORS_TABLE` through :func:`..sinks.jdbc.write_jdbc`,
tests may wire a parquet writer. The builder itself is pure driver-side
code — a 1-row frame never touches the cluster's data path.
"""

from __future__ import annotations

import ast
import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..schemas import AIRFLOW_ERRORS_SCHEMA

#: the audit table (``error_handler.py:25-35``)
ERRORS_TABLE = "airflow_errors"


def parse_run_spec(raw: str) -> dict:
    """F23 fallback chain (``error_handler.py:15-19``): strict JSON
    first, then ``ast.literal_eval`` for Python-repr payloads (Airflow
    templates historically emitted single-quoted dicts)."""
    try:
        return json.loads(raw)
    except (json.JSONDecodeError, TypeError):
        parsed = ast.literal_eval(raw)
        if not isinstance(parsed, dict):
            raise ValueError(f"run spec is not a mapping: {type(parsed)}")
        return parsed


def error_row(
    spark: SparkSession, run_spec_raw: str, error: str
) -> DataFrame:
    """Build the 1-row audit frame (``error_handler.py:21-31``).

    Missing keys become NULL rather than raising — the audit write must
    not itself fail on a malformed run spec."""
    spec = parse_run_spec(run_spec_raw)
    row = (
        _str_or_none(spec.get("dag_id")),
        _str_or_none(spec.get("task_id")),
        _str_or_none(spec.get("run_id")),
        _str_or_none(error),
    )
    return spark.createDataFrame([row], AIRFLOW_ERRORS_SCHEMA)


def register_error(
    spark: SparkSession,
    run_spec_raw: str,
    error: str,
    sink: Callable[[DataFrame], None],
) -> DataFrame:
    """K8: parse → 1-row frame → injected sink (``error_handler.py:33-39``).
    Returns the frame for assertion in tests."""
    df = error_row(spark, run_spec_raw, error)
    sink(df)
    return df


def _str_or_none(value) -> str | None:
    return None if value is None else str(value)
