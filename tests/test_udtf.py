"""Python UDTF parse fan-out (operators/udtf.py) — must agree with the
pure parser and work from SQL text via LATERAL."""

from __future__ import annotations

import os

import pytest

from etl_procedure_codes_crawler_spark.functions.html_extract import (
    extract_modifier_rows,
)
from etl_procedure_codes_crawler_spark.functions.htmldom import parse_html
from etl_procedure_codes_crawler_spark.operators.udtf import (
    register_udtfs,
)


@pytest.fixture()
def cpt_html(fixtures_dir):
    with open(os.path.join(fixtures_dir, "cpt_normal.html"), encoding="utf-8") as fh:
        return fh.read()


def test_udtf_matches_pure_parser(spark, cpt_html):
    register_udtfs(spark)
    pages = spark.createDataFrame([("C1", cpt_html)], "code string, html string")
    pages.createOrReplaceTempView("udtf_pages")
    try:
        got = {
            (r.modifier, r.description)
            for r in spark.sql(
                "SELECT m.* FROM udtf_pages, LATERAL extract_modifiers(html) m"
            ).collect()
        }
        expected, _ = extract_modifier_rows(parse_html(cpt_html))
        assert got == set(expected)
        assert got  # fixture page has modifiers
    finally:
        spark.catalog.dropTempView("udtf_pages")


def test_udtf_empty_and_null_html(spark):
    register_udtfs(spark)
    pages = spark.createDataFrame(
        [("C1", None), ("C2", ""), ("C3", "<html><body>no table</body></html>")],
        "code string, html string",
    )
    pages.createOrReplaceTempView("udtf_pages_empty")
    try:
        rows = spark.sql(
            "SELECT code, m.* FROM udtf_pages_empty, LATERAL extract_modifiers(html) m"
        ).collect()
        assert rows == []  # no modifiers anywhere, no crash
    finally:
        spark.catalog.dropTempView("udtf_pages_empty")
