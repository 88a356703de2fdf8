"""JDBC sources (SURVEY §2.1 S4/S5).

Reference: ``crawler/src/utils/postgres.py`` — connections built from a
Secrets-Manager payload (``postgres_connect``, ``postgres.py:7-15``) and
query→pandas reads (``postgres_pd_from_query``, ``postgres.py:88-95``).

Spark-first translation: ``spark.read.format("jdbc")``. The crawl job
reads one codes list of a few thousand rows through one connection;
:data:`FETCHSIZE` keeps the connection's row buffer bounded.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .secrets import SecretProvider, parse_secret_json

#: rows each JDBC connection buffers per round trip
FETCHSIZE = 10_000

POSTGRES_DRIVER = "org.postgresql.Driver"


@dataclass(frozen=True)
class JdbcConnection:
    """Everything needed to open a JDBC connection; picklable so plans
    can carry it to executors (each JDBC task opens its own connection)."""

    url: str
    user: str
    password: str
    driver: str

    def options(self) -> dict[str, str]:
        return {
            "url": self.url,
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
        }


def connection_from_secret(provider: SecretProvider, secret_id: str) -> JdbcConnection:
    """S5: connection info from a secret payload
    (``utils/postgres.py:7-15``). The AWS RDS convention (host, port,
    dbname/database, username/user, password) gives a PostgreSQL
    connection; a payload with ``url`` and ``driver`` names any other
    JDBC database (Athena, an embedded Derby) outright."""
    payload = parse_secret_json(provider.get_secret(secret_id))
    url = payload.get("url") or (
        f"jdbc:postgresql://{payload.get('host', '')}:{payload.get('port', 5432)}"
        f"/{payload.get('dbname', payload.get('database', ''))}"
    )
    return JdbcConnection(
        url=url,
        user=payload.get("username", payload.get("user", "")),
        password=payload.get("password", ""),
        driver=payload.get("driver", POSTGRES_DRIVER),
    )


def read_jdbc_query(
    spark: SparkSession, conn: JdbcConnection, query: str
) -> DataFrame:
    """S4: SQL → DataFrame over JDBC (``utils/postgres.py:88-95``)."""
    return (
        spark.read.format("jdbc")
        .options(**conn.options())
        .option("fetchsize", str(FETCHSIZE))
        .option("query", query)
        .load()
    )
