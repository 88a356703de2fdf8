"""DSIR importance weighting (llm/dsir.py): weights vs a pure-Python
replica, full-spine ratios, deterministic top-k,
selection bias toward the target domain."""

from __future__ import annotations

import math
import re

import pytest

from etl_procedure_codes_crawler_spark.llm.dsir import (
    _MOD,
    bucket_log_ratios,
    importance_topk,
    importance_weights,
    ngram_bucket_rows,
)

B = 64  # small bucket count so collisions are exercised


def _py_grams(text: str) -> list[str]:
    toks = re.split(r"\s+", text.strip())
    return toks + [
        " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
    ]


def _py_bucket(gram: str) -> int:
    acc = 0
    for ch in gram:
        acc = (acc * 257 + ord(ch)) % _MOD
    return acc % B


# target domain: medical-ish vocabulary; raw pool mixes it with noise
TARGET = [
    (100, "procedure code billing claim"),
    (101, "billing claim denial procedure"),
    (102, "code billing procedure claim audit"),
]
RAW = [
    (1, "procedure code billing claim audit"),  # very target-like
    (2, "billing claim procedure"),  # target-like
    (3, "weather sports music travel cooking"),  # off-domain
    (4, "travel cooking weather sports"),  # off-domain
    (5, "procedure weather code sports"),  # mixed
]


@pytest.fixture(scope="module")
def frames(spark):
    target = spark.createDataFrame(TARGET, ["doc_id", "text"])
    raw = spark.createDataFrame(RAW, ["doc_id", "text"])
    return target, raw


def _py_weights() -> dict[int, int]:
    """Pure-Python replica of the smoothed micro-unit weights."""
    tcnt: dict[int, int] = {}
    rcnt: dict[int, int] = {}
    for _, text in TARGET:
        for g in _py_grams(text):
            b = _py_bucket(g)
            tcnt[b] = tcnt.get(b, 0) + 1
    for _, text in RAW:
        for g in _py_grams(text):
            b = _py_bucket(g)
            rcnt[b] = rcnt.get(b, 0) + 1
    t_total = sum(tcnt.values())
    r_total = sum(rcnt.values())
    ratio = {
        b: round(
            (
                math.log((tcnt.get(b, 0) + 1) / (t_total + B))
                - math.log((rcnt.get(b, 0) + 1) / (r_total + B))
            )
            * 1e6
        )
        for b in range(B)
    }
    return {
        doc_id: sum(ratio[_py_bucket(g)] for g in _py_grams(text))
        for doc_id, text in RAW
    }


class TestFeaturization:
    def test_bucket_rows_match_python(self, spark, frames):
        _, raw = frames
        got = {
            (r.id, r.bucket)
            for r in ngram_bucket_rows(raw, num_buckets=B).collect()
        }
        want = {
            (doc_id, _py_bucket(g))
            for doc_id, text in RAW
            for g in _py_grams(text)
        }
        # sets drop multiplicity; compare counts separately
        assert got == want
        n = ngram_bucket_rows(raw, num_buckets=B).count()
        assert n == sum(len(_py_grams(t)) for _, t in RAW)

    def test_null_and_empty_text_yield_no_or_zero_grams(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "   ")], ["doc_id", "text"]
        )
        rows = ngram_bucket_rows(df, num_buckets=B).collect()
        # NULL text drops; empty/whitespace text hashes the single
        # empty token to bucket 0 (matches the DuckDB oracle's CASE)
        assert all(r.id in (2, 3) and r.bucket == 0 for r in rows)


class TestWeights:
    def test_ratio_table_is_a_full_spine(self, frames):
        target, raw = frames
        rows = bucket_log_ratios(target, raw, num_buckets=B).collect()
        assert sorted(r.bucket for r in rows) == list(range(B))

    def test_empty_target_raises_loudly(self, spark, frames):
        """An empty target corpus must raise at execution, not yield
        all-NULL ratios that make importance_topk return k arbitrary
        documents ordered by id."""
        import pytest
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException, SparkRuntimeException

        _, raw = frames
        empty = spark.createDataFrame([], "doc_id long, text string")
        with pytest.raises(
            (SparkRuntimeException, PythonException, Py4JJavaError),
            match="zero n-gram occurrences",
        ):
            bucket_log_ratios(empty, raw, num_buckets=B).collect()

    def test_weights_match_python_replica_exactly(self, frames):
        target, raw = frames
        ratios = bucket_log_ratios(target, raw, num_buckets=B)
        got = {
            r.id: (r.n_grams, r.weight_micro)
            for r in importance_weights(raw, ratios, num_buckets=B).collect()
        }
        want = _py_weights()
        assert set(got) == set(want)
        for doc_id, (n_grams, weight) in got.items():
            assert n_grams == len(_py_grams(dict(RAW)[doc_id]))
            assert weight == want[doc_id], doc_id

    def test_target_like_docs_outrank_off_domain(self, frames):
        target, raw = frames
        ratios = bucket_log_ratios(target, raw, num_buckets=B)
        top = importance_topk(raw, ratios, k=2, num_buckets=B).collect()
        assert {r.id for r in top} == {1, 2}
        # descending weight, schema stable
        assert top[0].weight_micro >= top[1].weight_micro
        assert set(top[0].asDict()) == {"id", "n_grams", "weight_micro"}
