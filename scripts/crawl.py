#!/usr/bin/env python
"""Run one dated crawl: the reference's batch job
(``crawler/src/procedure_code.py:677-815``) from start to end.

Usage (every variable is required; the query's ``{logical_date}`` is
filled with LOGICAL_DATE as YYYY-MM-DD once it parses as a date):

  LOGICAL_DATE=2026-08-13 \\
  BASE_SITE=https://codes.example/codes/ LOGIN_SITE=https://codes.example/ \\
  WAREHOUSE_PATH=s3a://bucket/warehouse \\
  SITE_SECRET_ID=crawler/site DB_SECRET_ID=crawler/db \\
  CODES_QUERY="SELECT code FROM codes_input WHERE dt = DATE '{logical_date}'" \\
  RUN_SPEC='{"dag_id": "crawl", "task_id": "extract", "run_id": "manual"}' \\
  python scripts/crawl.py

Steps: the settings (one MissingConfigError names every one unset,
before a JVM starts); the site login and the database connection from
AWS Secrets Manager (SITE_SECRET_ID holds ``{"email", "password"}``,
DB_SECRET_ID a JDBC connection, see ``sources.jdbc.connection_from_secret``);
the codes query over JDBC; ``plans.pipeline.run_and_sink``, which
crawls the codes missing from the warehouse, logged in on every fetch
thread, and appends the new rows to its three tables in the
``load_date`` partition of the logical date (yyyyMMdd). On any failure
after the connection is made, one ``airflow_errors`` row
(``dag_id, task_id, run_id, error``) goes to the same database, and the
error is raised again.
"""

from __future__ import annotations

import functools
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# executors import the package by reference: set before the JVM starts
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from pyspark.sql import SparkSession  # noqa: E402

from etl_procedure_codes_crawler_spark.config import PipelineConfig  # noqa: E402
from etl_procedure_codes_crawler_spark.plans.pipeline import (  # noqa: E402
    CrawlResult,
    run_and_sink,
)
from etl_procedure_codes_crawler_spark.session import get_spark  # noqa: E402
from etl_procedure_codes_crawler_spark.sinks.errors import (  # noqa: E402
    ERRORS_TABLE,
    register_error,
)
from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc  # noqa: E402
from etl_procedure_codes_crawler_spark.sources.fetcher import HttpFetcher  # noqa: E402
from etl_procedure_codes_crawler_spark.sources.jdbc import (  # noqa: E402
    connection_from_secret,
    read_jdbc_query,
)
from etl_procedure_codes_crawler_spark.sources.login import (  # noqa: E402
    reference_login_steps,
    scripted_login,
)
from etl_procedure_codes_crawler_spark.sources.secrets import (  # noqa: E402
    AwsSecretsManagerProvider,
    SecretProvider,
    parse_secret_json,
)


def crawl(
    spark: SparkSession, config: PipelineConfig, secrets: SecretProvider
) -> CrawlResult:
    """One run at ``config.logical_date``; see the module docstring."""
    db = connection_from_secret(secrets, config.db_secret_id)
    try:
        site = parse_secret_json(secrets.get_secret(config.site_secret_id))
        login = scripted_login(
            config.login_site, reference_login_steps(site["email"], site["password"])
        )
        return run_and_sink(
            spark,
            read_jdbc_query(spark, db, config.codes_sql()),
            functools.partial(HttpFetcher, base_url=config.base_site, login=login),
            config.warehouse_path,
            load_date=config.load_date,
        )
    except Exception as exc:
        register_error(
            spark,
            config.run_spec,
            f"{type(exc).__name__}: {exc}",
            sink=lambda df: write_jdbc(df, db, ERRORS_TABLE),
        )
        raise


def main() -> None:
    config = PipelineConfig.from_env()
    crawl(get_spark(), config, AwsSecretsManagerProvider())


if __name__ == "__main__":
    main()
