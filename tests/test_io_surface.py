"""The crawl job's I/O surface: secrets (S7), JDBC connections and
reads (S4/S5), the JDBC append (K3) and the error-audit sink (K8)."""

from __future__ import annotations

import pytest

from etl_procedure_codes_crawler_spark.sinks.errors import (
    error_row,
    parse_run_spec,
    register_error,
)
from etl_procedure_codes_crawler_spark.sources.jdbc import (
    JdbcConnection,
    connection_from_secret,
)
from etl_procedure_codes_crawler_spark.sources.secrets import (
    AwsSecretsManagerProvider,
    mask_secret_id,
)

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


class DictSecrets(dict):
    """In-memory SecretProvider: secret id -> payload."""

    def get_secret(self, secret_id: str) -> str:
        return self[secret_id]


@pytest.fixture
def aws_secrets(monkeypatch, tmp_path):
    """An AwsSecretsManagerProvider whose client answers from a botocore
    Stubber, and the stubber. Credentials and region come from the
    environment, so boto3 looks nowhere else, and no request leaves the
    process."""
    from botocore.stub import Stubber

    for name, value in {
        "AWS_DEFAULT_REGION": "us-east-1",
        "AWS_ACCESS_KEY_ID": "testing",
        "AWS_SECRET_ACCESS_KEY": "testing",
        "AWS_EC2_METADATA_DISABLED": "true",
        "AWS_CONFIG_FILE": str(tmp_path / "no-config"),
        "AWS_SHARED_CREDENTIALS_FILE": str(tmp_path / "no-credentials"),
    }.items():
        monkeypatch.setenv(name, value)
    monkeypatch.delenv("AWS_PROFILE", raising=False)
    provider = AwsSecretsManagerProvider()
    with Stubber(provider._client) as stubber:
        yield provider, stubber
        stubber.assert_no_pending_responses()


class TestSecrets:
    def test_aws_provider_returns_the_secret_string(self, aws_secrets):
        provider, stubber = aws_secrets
        stubber.add_response(
            "get_secret_value",
            {"SecretString": '{"user": "u"}'},
            {"SecretId": "db/creds"},
        )
        assert provider.get_secret("db/creds") == '{"user": "u"}'

    def test_missing_secret_is_masked_in_error(self, aws_secrets):
        provider, stubber = aws_secrets
        stubber.add_client_error(
            "get_secret_value", service_error_code="ResourceNotFoundException"
        )
        with pytest.raises(KeyError) as exc:
            provider.get_secret("prod/super-secret-name")
        assert "super-secret-name" not in str(exc.value)
        assert "***" in str(exc.value)

    def test_mask_keeps_first_half(self):
        # reference masking: secret_id[:len//2] + '***' (postgres.py:10)
        assert mask_secret_id("abcdef") == "abc***"
        assert mask_secret_id("") == "***"


class TestJdbcConnection:
    def test_url_and_options(self):
        conn = JdbcConnection(
            url="jdbc:postgresql://db.example:5432/app",
            user="u",
            password="p",
            driver="org.postgresql.Driver",
        )
        assert conn.options() == {
            "url": "jdbc:postgresql://db.example:5432/app",
            "user": "u",
            "password": "p",
            "driver": "org.postgresql.Driver",
        }

    def test_connection_from_secret_rds_convention(self):
        provider = DictSecrets(
            {
                "rds": '{"host": "h", "port": 5433, "dbname": "d",'
                ' "username": "u", "password": "p"}'
            }
        )
        conn = connection_from_secret(provider, "rds")
        assert conn.url == "jdbc:postgresql://h:5433/d"
        assert conn.user == "u"
        assert conn.driver == "org.postgresql.Driver"

    def test_connection_from_secret_overrides(self):
        # a payload's url and driver win over the host/port assembly
        provider = DictSecrets(
            {
                "athena": '{"host": "h", "url": "jdbc:awsathena://AwsRegion=us-east-1",'
                ' "driver": "com.simba.athena.jdbc.Driver", "user": "u",'
                ' "password": "p"}'
            }
        )
        conn = connection_from_secret(provider, "athena")
        assert conn.url == "jdbc:awsathena://AwsRegion=us-east-1"
        assert conn.driver == "com.simba.athena.jdbc.Driver"
        assert (conn.user, conn.password) == ("u", "p")


class TestErrorAudit:
    RUN_SPEC = '{"dag_id": "crawl", "task_id": "extract", "run_id": "r1"}'

    def test_parse_run_spec_json(self):
        assert parse_run_spec(self.RUN_SPEC)["dag_id"] == "crawl"

    def test_parse_run_spec_literal_eval_fallback(self):
        # Airflow-template style single-quoted payload (error_handler.py:15-19)
        spec = parse_run_spec("{'dag_id': 'crawl', 'task_id': 't', 'run_id': 'r'}")
        assert spec == {"dag_id": "crawl", "task_id": "t", "run_id": "r"}

    def test_parse_run_spec_rejects_non_mapping(self):
        with pytest.raises(ValueError):
            parse_run_spec("['not', 'a', 'dict']")

    def test_error_row_schema_and_nulls(self, spark):
        df = error_row(spark, '{"dag_id": "d"}', "boom")
        row = df.collect()[0]
        assert [f.name for f in df.schema.fields] == [
            "dag_id",
            "task_id",
            "run_id",
            "error",
        ]
        assert row.dag_id == "d" and row.task_id is None and row.error == "boom"

    def test_register_error_routes_to_sink(self, spark, tmp_path):
        out = str(tmp_path / "errors")
        register_error(
            spark,
            self.RUN_SPEC,
            "ValueError: bad page",
            sink=lambda df: df.write.mode("append").parquet(out),
        )
        written = spark.read.parquet(out).collect()
        assert len(written) == 1
        assert written[0].run_id == "r1"


class TestEmbeddedDerbyRoundTrip:
    """K3/S4 against a REAL JVM-reachable database: Apache Derby runs
    embedded inside the Spark JVM (its jars ship with Spark), so the
    actual JDBC write path and read path execute end-to-end — not just
    option assembly. Reference: crawler/src/utils/postgres.py:62-95."""

    @pytest.fixture
    def derby(self, tmp_path):
        return JdbcConnection(
            url=f"jdbc:derby:{tmp_path / 'derbydb'};create=true",
            user="",
            password="",
            driver=DERBY_DRIVER,
        )

    def _frame(self, spark):
        return spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", None)],
            "id int, name string, score double",
        )

    def test_write_then_read_back_parity(self, spark, derby):
        from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc
        from etl_procedure_codes_crawler_spark.sources.jdbc import read_jdbc_query

        df = self._frame(spark)
        assert write_jdbc(df, derby, "people") is True

        back = read_jdbc_query(spark, derby, "SELECT * FROM people")
        assert {
            (r.id, r.name, r.score) for r in back.collect()
        } == {(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", None)}

        filtered = read_jdbc_query(
            spark, derby, 'SELECT "id", "name" FROM people WHERE "id" <= 2'
        )
        assert sorted((r.id, r.name) for r in filtered.collect()) == [
            (1, "alpha"),
            (2, "beta"),
        ]

    def test_empty_frame_skipped(self, spark, derby):
        from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc

        empty = self._frame(spark).limit(0)
        assert write_jdbc(empty, derby, "never_created") is False
