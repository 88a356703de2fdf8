"""Tests for config.py — the reference's fail-fast env handling
(``crawler/src/utils/config.py:10-32``) rebuilt as a picklable
dataclass. Pure Python; no SparkSession needed."""

from __future__ import annotations

import datetime

import pytest

from etl_procedure_codes_crawler_spark.config import (
    MissingConfigError,
    PipelineConfig,
    handle_env_vars,
)


class TestHandleEnvVars:
    def test_required_present(self):
        out = handle_env_vars(required=["A"], env={"A": "x"})
        assert out == {"A": "x"}

    def test_required_missing_raises_with_all_names(self):
        with pytest.raises(MissingConfigError) as ei:
            handle_env_vars(required=["A", "B"], env={"A": ""})
        # both missing vars named, sorted — one error reports everything
        assert "A" in str(ei.value) and "B" in str(ei.value)

    def test_blank_counts_as_missing(self):
        # the reference treats whitespace-only values as absent
        with pytest.raises(MissingConfigError):
            handle_env_vars(required=["A"], env={"A": "   "})


#: every variable PipelineConfig.from_env requires
_ENV = {
    "LOGICAL_DATE": "2026-08-13",
    "BASE_SITE": "https://codes.example/codes/",
    "LOGIN_SITE": "https://codes.example/",
    "WAREHOUSE_PATH": "/warehouse",
    "SITE_SECRET_ID": "crawler/site",
    "DB_SECRET_ID": "crawler/db",
    "CODES_QUERY": "SELECT code FROM codes_input WHERE dt = DATE '{logical_date}'",
    "RUN_SPEC": '{"dag_id": "crawl"}',
}


class TestPipelineConfig:
    def test_empty_env_raises_naming_every_variable(self):
        with pytest.raises(MissingConfigError) as ei:
            PipelineConfig.from_env(env={})
        for name in _ENV:
            assert name in str(ei.value)

    def test_env_overrides(self):
        cfg = PipelineConfig.from_env(env=_ENV)
        assert cfg.logical_date == datetime.date(2026, 8, 13)
        assert cfg.base_site == "https://codes.example/codes/"
        assert cfg.db_secret_id == "crawler/db"
        # the rerun of one date lands in that date's partition
        assert cfg.load_date == "20260813"
        assert cfg.codes_sql() == (
            "SELECT code FROM codes_input WHERE dt = DATE '2026-08-13'"
        )

    def test_logical_date_must_parse_before_the_query_sees_it(self):
        env = {**_ENV, "LOGICAL_DATE": "2026-08-13' OR '1'='1"}
        with pytest.raises(ValueError, match="LOGICAL_DATE"):
            PipelineConfig.from_env(env=env)

    def test_frozen_and_picklable(self):
        import pickle

        cfg = PipelineConfig.from_env(env=_ENV)
        with pytest.raises(Exception):
            cfg.base_site = "x"  # type: ignore[misc]
        assert pickle.loads(pickle.dumps(cfg)) == cfg
