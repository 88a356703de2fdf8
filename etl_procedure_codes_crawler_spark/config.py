"""Validated settings of the crawl job (``scripts/crawl.py``).

Reference pattern: ``crawler/src/utils/config.py:10-32`` (``handle_env_vars``
raises on missing required vars) and the env block at
``crawler/src/procedure_code.py:27-39``. Every setting is required, so one
:class:`MissingConfigError` names every variable that is unset or blank,
before the job starts a JVM or asks for a secret. The settings travel in
one picklable dataclass instead of being read from ``os.environ``
mid-task.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass, fields


class MissingConfigError(RuntimeError):
    """A required configuration variable is absent or blank."""


def handle_env_vars(
    required: list[str], env: dict[str, str] | None = None
) -> dict[str, str]:
    """Resolve env vars, failing fast on missing required ones.

    Mirrors the contract of the reference's ``handle_env_vars``
    (``crawler/src/utils/config.py:10-32``): every name in ``required``
    must be present and non-blank.
    """
    env = os.environ if env is None else env
    missing = sorted(name for name in required if not env.get(name, "").strip())
    if missing:
        raise MissingConfigError(
            f"missing required environment variables: {', '.join(missing)}"
        )
    return {name: env[name] for name in required}


@dataclass(frozen=True)
class PipelineConfig:
    """Everything the crawl job reads, resolved once on the driver; each
    field is read from the environment variable of its name in upper case.

    Mirrors the env block at ``crawler/src/procedure_code.py:27-39``
    (logical date, secret ids, base site); the output tables are the
    warehouse's ``procedure_*`` directories and the audit table is
    ``airflow_errors``, so neither is a setting.
    """

    logical_date: datetime.date
    #: a code's page is ``base_site + code``
    base_site: str
    #: the login wizard's paths resolve against it
    login_site: str
    warehouse_path: str
    #: JSON ``{"email": ..., "password": ...}`` for the site login
    site_secret_id: str
    #: the JDBC database the codes come from and the audit row goes to
    db_secret_id: str
    #: SQL text with a ``{logical_date}`` (YYYY-MM-DD) placeholder; the
    #: reference's query files are not public, so the query is a setting
    codes_query: str
    #: the Airflow run spec (JSON) that names the audit row
    run_spec: str

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "PipelineConfig":
        resolved = handle_env_vars([f.name.upper() for f in fields(cls)], env)
        values = {name.lower(): value for name, value in resolved.items()}
        try:
            values["logical_date"] = datetime.date.fromisoformat(
                values["logical_date"].strip()
            )
        except ValueError:
            raise ValueError(
                f"LOGICAL_DATE is not a date: {values['logical_date']!r}"
            ) from None
        return cls(**values)

    @property
    def load_date(self) -> str:
        """The ``load_date`` partition of this run: the logical date as
        yyyyMMdd, so a rerun of one date lands in that date's partition."""
        return self.logical_date.strftime("%Y%m%d")

    def codes_sql(self) -> str:
        """The codes query at the logical date, put in only once parsed."""
        return self.codes_query.format(logical_date=self.logical_date.isoformat())
