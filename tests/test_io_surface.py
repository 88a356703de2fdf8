"""Phase-4 I/O surface: secrets (S7), JDBC connections (S4/S5),
transactions (K4), catalog DDL (K5), error-audit sink (K8)."""

from __future__ import annotations

import sqlite3

import pytest

from etl_procedure_codes_crawler_spark.sinks.errors import (
    error_row,
    parse_run_spec,
    register_error,
)
from etl_procedure_codes_crawler_spark.sinks.jdbc import (
    create_table,
    execute_transaction,
)
from etl_procedure_codes_crawler_spark.sources.jdbc import (
    JdbcConnection,
    connection_from_secret,
)
from etl_procedure_codes_crawler_spark.sources.secrets import (
    DictSecretProvider,
    EnvSecretProvider,
    mask_secret_id,
)


class TestSecrets:
    def test_dict_provider_roundtrip(self):
        provider = DictSecretProvider({"db/creds": '{"user": "u"}'})
        assert provider.get_secret("db/creds") == '{"user": "u"}'

    def test_missing_secret_is_masked_in_error(self):
        provider = DictSecretProvider({})
        with pytest.raises(KeyError) as exc:
            provider.get_secret("prod/super-secret-name")
        assert "super-secret-name" not in str(exc.value)
        assert "***" in str(exc.value)

    def test_env_provider(self, monkeypatch):
        monkeypatch.setenv("MY_SECRET", "payload")
        assert EnvSecretProvider().get_secret("MY_SECRET") == "payload"

    def test_mask_keeps_first_half(self):
        # reference masking: secret_id[:len//2] + '***' (postgres.py:10)
        assert mask_secret_id("abcdef") == "abc***"
        assert mask_secret_id("") == "***"


class TestJdbcConnection:
    def test_url_and_options(self):
        conn = JdbcConnection(
            host="db.example", database="app", user="u", password="p"
        )
        assert conn.url == "jdbc:postgresql://db.example:5432/app"
        opts = conn.options()
        assert opts["driver"] == "org.postgresql.Driver"
        assert opts["user"] == "u" and opts["password"] == "p"

    def test_connection_from_secret_rds_convention(self):
        provider = DictSecretProvider(
            {
                "rds": '{"host": "h", "port": 5433, "dbname": "d",'
                ' "username": "u", "password": "p"}'
            }
        )
        conn = connection_from_secret(provider, "rds")
        assert conn.url == "jdbc:postgresql://h:5433/d"
        assert conn.user == "u"

    def test_connection_from_secret_overrides(self):
        provider = DictSecretProvider(
            {"rds": '{"host": "h", "dbname": "d", "user": "u", "password": "p"}'}
        )
        conn = connection_from_secret(provider, "rds", scheme="mysql", port=3306)
        assert conn.url == "jdbc:mysql://h:3306/d"


class TestExecuteTransaction:
    """K4 semantics against stdlib sqlite3 — same DB-API surface as
    psycopg2 (``utils/postgres.py:19-33``)."""

    def test_commit_on_success(self, tmp_path):
        db = str(tmp_path / "t.db")
        execute_transaction(
            lambda: sqlite3.connect(db),
            [
                "CREATE TABLE t (x INTEGER)",
                "INSERT INTO t VALUES (1)",
                "INSERT INTO t VALUES (2)",
            ],
        )
        with sqlite3.connect(db) as conn:
            assert conn.execute("SELECT COUNT(*) FROM t").fetchone()[0] == 2

    def test_rollback_on_failure_is_atomic(self, tmp_path):
        db = str(tmp_path / "t.db")
        execute_transaction(
            lambda: sqlite3.connect(db), ["CREATE TABLE t (x INTEGER)"]
        )
        with pytest.raises(sqlite3.OperationalError):
            execute_transaction(
                lambda: sqlite3.connect(db),
                ["INSERT INTO t VALUES (1)", "INSERT INTO nonexistent VALUES (2)"],
            )
        with sqlite3.connect(db) as conn:
            # the successful INSERT must have been rolled back with the batch
            assert conn.execute("SELECT COUNT(*) FROM t").fetchone()[0] == 0


class TestCatalogDdl:
    def test_create_table_and_describe(self, spark):
        create_table(
            spark, "ddl_smoke", {"id": "BIGINT", "name": "STRING"}
        )
        try:
            fields = {f.name for f in spark.table("ddl_smoke").schema.fields}
            assert fields == {"id", "name"}
            # idempotent under IF NOT EXISTS
            create_table(spark, "ddl_smoke", {"id": "BIGINT"})
        finally:
            spark.sql("DROP TABLE IF EXISTS ddl_smoke")


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
        return JdbcConnection.embedded_derby(str(tmp_path / "derbydb"))

    def _frame(self, spark):
        return spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", None)],
            "id int, name string, score double",
        )

    def test_write_then_read_back_parity(self, spark, derby):
        from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc
        from etl_procedure_codes_crawler_spark.sources.jdbc import (
            read_jdbc_query,
            read_jdbc_table,
        )

        df = self._frame(spark)
        assert write_jdbc(df, derby, "people", mode="overwrite") is True

        back = read_jdbc_table(spark, derby, "people")
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

    def test_append_accumulates_overwrite_replaces(self, spark, derby):
        from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc
        from etl_procedure_codes_crawler_spark.sources.jdbc import read_jdbc_table

        df = self._frame(spark)
        write_jdbc(df, derby, "modes", mode="overwrite")
        write_jdbc(df, derby, "modes", mode="append")
        assert read_jdbc_table(spark, derby, "modes").count() == 6
        write_jdbc(df, derby, "modes", mode="overwrite")
        assert read_jdbc_table(spark, derby, "modes").count() == 3

    def test_empty_frame_skipped(self, spark, derby):
        from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc

        empty = self._frame(spark).limit(0)
        assert write_jdbc(empty, derby, "never_created") is False

    def test_partitioned_read_fans_out_and_matches(self, spark, derby):
        from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc
        from etl_procedure_codes_crawler_spark.sources.jdbc import read_jdbc_query

        df = spark.range(1, 101).selectExpr("CAST(id AS INT) AS id", "id * 2 AS v")
        write_jdbc(df, derby, "wide", mode="overwrite")
        part = read_jdbc_query(
            spark,
            derby,
            'SELECT "id", "v" FROM wide',
            partition_column='"id"',
            lower_bound=1,
            upper_bound=101,
            num_partitions=4,
        )
        assert part.rdd.getNumPartitions() == 4
        assert part.count() == 100
        assert part.agg({"v": "sum"}).collect()[0][0] == sum(i * 2 for i in range(1, 101))

    def test_execute_transaction_commit_and_rollback(self, spark, derby):
        from etl_procedure_codes_crawler_spark.sinks.jdbc import (
            execute_transaction,
            jvm_jdbc_connection_factory,
        )
        from etl_procedure_codes_crawler_spark.sources.jdbc import read_jdbc_table

        factory = jvm_jdbc_connection_factory(spark, derby.url)
        execute_transaction(
            factory,
            [
                "CREATE TABLE txn_t (id INT, label VARCHAR(32))",
                "INSERT INTO txn_t VALUES (1, 'committed')",
                "INSERT INTO txn_t VALUES (2, 'also committed')",
            ],
        )
        assert read_jdbc_table(spark, derby, "txn_t").count() == 2

        # one bad statement rolls back the whole batch
        with pytest.raises(Exception):
            execute_transaction(
                factory,
                [
                    "INSERT INTO txn_t VALUES (3, 'doomed')",
                    "INSERT INTO no_such_table VALUES (1)",
                ],
            )
        rows = {
            (r.ID, r.LABEL)
            for r in read_jdbc_table(spark, derby, "txn_t").collect()
        }
        assert rows == {(1, "committed"), (2, "also committed")}
