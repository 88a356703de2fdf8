"""Unigram-LM tokenizer (llm/unigram.py): trainer convergence on
planted structure, segmentation closure/round-trip, determinism, and
the fertility report's exact-integer arithmetic."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import unigram as UG
from etl_procedure_codes_crawler_spark.llm import queries  # noqa: F401 — registers
from etl_procedure_codes_crawler_spark.plans.relational import QUERIES


class TestViterbi:
    SCORES = {
        "a": math.log(0.2), "b": math.log(0.2),
        "ab": math.log(0.5), "c": math.log(0.1),
    }

    def test_prefers_high_score_piece(self):
        assert UG._viterbi("ababab", self.SCORES) == ["ab", "ab", "ab"]

    def test_roundtrip_always(self):
        for w in ("abc", "aab", "cccab", "xyz", "a"):
            pieces = UG._viterbi(w, self.SCORES)
            assert "".join(pieces) == w

    def test_unseen_chars_fall_back_to_singletons(self):
        assert UG._viterbi("xyz", self.SCORES) == ["x", "y", "z"]


class TestTrainUnigram:
    def test_learns_planted_repeated_piece(self, spark):
        # a corpus dominated by 'spark' inside longer words: the piece
        # must survive pruning to a tiny vocabulary
        rows = [
            (i, "sparkly sparked sparks respark sparkplug") for i in range(30)
        ] + [(100 + i, "other words here entirely") for i in range(5)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        scores = UG.train_unigram(df, vocab_size=40, seed_size=256)
        multi = {p for p in scores if len(p) > 1}
        assert any("spark" in p for p in multi), sorted(multi)
        # closure: every character of the corpus is in the vocab
        chars = set("".join(t for _i, t in rows).replace(" ", ""))
        assert chars <= set(scores)

    def test_deterministic_across_runs(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = UG.train_unigram(docs, vocab_size=96)
        b = UG.train_unigram(docs, vocab_size=96)
        assert a == b

    def test_vocab_size_respected(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        scores = UG.train_unigram(docs, vocab_size=96)
        n_chars = sum(1 for p in scores if len(p) == 1)
        assert len(scores) <= max(96, n_chars)


class TestUnigramEncode:
    def test_roundtrip_concatenation(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        scores = UG.train_unigram(docs, vocab_size=96)
        enc = UG.unigram_encode(docs, scores)
        from etl_procedure_codes_crawler_spark.llm.text import bpe_pretokens

        # expected = concatenated pretokens, computed by the SAME
        # JVM-regex pretokenizer the encoder consumes (the Java \p{L}
        # classes are not Python-re syntax)
        want = docs.select(
            "doc_id",
            F.array_join(bpe_pretokens("text"), "").alias("flat"),
        )
        joined = want.join(enc, want.doc_id == enc.id).collect()
        assert joined
        for r in joined:
            assert "".join(r["tokens"]) == r["flat"]

    def test_empty_docs_survive_with_empty_tokens(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, None)],
            "doc_id bigint, text string",
        )
        scores = UG.train_unigram(
            df.filter(F.col("doc_id") == 1), vocab_size=30, seed_size=64
        )
        rows = {r["id"]: r["tokens"] for r in UG.unigram_encode(df, scores).collect()}
        assert set(rows) == {1, 2, 3}
        assert rows[2] == [] and rows[3] == []
        assert rows[1]


class TestUnigramQueries:

    def test_fertility_query_integrity(self, spark, sf_dir):
        rows = QUERIES["unigram_fertility_by_source"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            # a subword tokenizer never produces fewer pieces than
            # whitespace words on this corpus (pretokens >= words)
            assert r["subword_tokens"] >= r["word_tokens"]
            assert r["fertility_micro"] >= 1_000_000
