"""JDBC sources (SURVEY §2.1 S4/S5).

Reference: ``crawler/src/utils/postgres.py`` — connections built from a
Secrets-Manager payload (``postgres_connect``, ``postgres.py:7-15``) and
query→pandas reads (``postgres_pd_from_query``, ``postgres.py:88-95``).

Spark-first translation: ``spark.read.format("jdbc")``. The part the
reference never had to think about — and the part that matters at
scale — is the **partitioned read**: a single-connection JDBC scan is a
one-task bottleneck, so ``read_jdbc_query``/``read_jdbc_table`` accept
``partition_column/lower/upper/num_partitions`` and fan the scan out
across executors, each fetching a key-range slice. :data:`FETCHSIZE`
keeps the per-connection row buffer bounded.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .secrets import SecretProvider, parse_secret_json

#: rows each JDBC connection buffers per round trip
FETCHSIZE = 10_000


@dataclass(frozen=True)
class JdbcConnection:
    """Everything needed to open a JDBC connection; picklable so plans
    can carry it to executors (each JDBC task opens its own connection)."""

    host: str
    database: str
    user: str
    password: str
    port: int = 5432
    scheme: str = "postgresql"
    driver: str = "org.postgresql.Driver"
    properties: dict[str, str] = field(default_factory=dict)
    #: full JDBC URL for non-host/port databases (embedded Derby/H2,
    #: unix-socket URLs); when set it wins over the host/port assembly
    url_override: str | None = None

    @property
    def url(self) -> str:
        if self.url_override is not None:
            return self.url_override
        return f"jdbc:{self.scheme}://{self.host}:{self.port}/{self.database}"

    def options(self) -> dict[str, str]:
        opts = {
            "url": self.url,
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
        }
        opts.update(self.properties)
        return opts

    @classmethod
    def embedded_derby(cls, db_path: str) -> "JdbcConnection":
        """In-process Apache Derby (jars ship with Spark) — the
        JVM-reachable database the test suite uses to exercise the
        real JDBC write→read path without a server."""
        return cls(
            host="",
            database=db_path,
            user="",
            password="",
            scheme="derby",
            driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
            url_override=f"jdbc:derby:{db_path};create=true",
        )


def connection_from_secret(
    provider: SecretProvider, secret_id: str, **overrides
) -> JdbcConnection:
    """S5: connection info from a secret payload
    (``utils/postgres.py:7-15``). Expected JSON keys mirror the AWS RDS
    convention: host, port, dbname/database, username/user, password."""
    payload = parse_secret_json(provider.get_secret(secret_id))
    kwargs = {
        "host": payload.get("host", ""),
        "port": int(payload.get("port", 5432)),
        "database": payload.get("dbname", payload.get("database", "")),
        "user": payload.get("username", payload.get("user", "")),
        "password": payload.get("password", ""),
    }
    kwargs.update(overrides)
    return JdbcConnection(**kwargs)


def read_jdbc_query(
    spark: SparkSession,
    conn: JdbcConnection,
    query: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 1,
) -> DataFrame:
    """S4: SQL → DataFrame over JDBC (``utils/postgres.py:88-95``).

    With ``partition_column`` + bounds the scan runs as
    ``num_partitions`` parallel range queries instead of one connection
    pulling every row through the driver of the remote DB.
    """
    reader = (
        spark.read.format("jdbc")
        .options(**conn.options())
        .option("fetchsize", str(FETCHSIZE))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC read needs lower_bound and upper_bound"
            )
        reader = (
            # partitioned reads require dbtable (query + partitioning is
            # rejected by the JDBC source), so wrap as a derived table
            reader.option("dbtable", f"({query}) AS subq")
            .option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    else:
        reader = reader.option("query", query)
    return reader.load()


def read_jdbc_table(
    spark: SparkSession,
    conn: JdbcConnection,
    table: str,
    **partition_kwargs,
) -> DataFrame:
    """Whole-table read; same partitioning knobs as ``read_jdbc_query``."""
    return read_jdbc_query(
        spark, conn, f"SELECT * FROM {table}", **partition_kwargs
    )
