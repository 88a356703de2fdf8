"""Streaming twins for the blocklist scan and the chi-square drift
statistic (round 10): every other analysis family already has one —
these pin the two contracts the shared batch oracles rely on:
cross-batch accumulation equals the one-shot batch computation
bit-for-bit, and a crash-replayed batch REPLACES its own rows (run-id
idempotent writes) instead of double-counting."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import blocklist as BL
from etl_procedure_codes_crawler_spark.streaming.drift import (
    build_source_token_reference,
    chi_square_report,
    stream_chi_square_counts,
)
from etl_procedure_codes_crawler_spark.streaming.incremental import (
    stage_stream_files,
)
from etl_procedure_codes_crawler_spark.streaming.scan import (
    stream_blocklist_scan,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (i, f"ban me {i} " * (i % 4 + 1) + ("ban me now " * (i % 3)), f"s{i % 3}")
            for i in range(1, 31)
        ],
        "doc_id long, text string, source string",
    )


class TestStreamingBlocklist:
    def test_multi_batch_accumulation_equals_one_shot(self, spark, tmp_path):
        docs = _docs(spark)
        phrases = ["ban me", "me now"]
        src = str(tmp_path / "in")
        stage_stream_files(docs.repartition(3), src, "b")
        results = str(tmp_path / "results")
        q = stream_blocklist_scan(
            spark, src, docs.schema, phrases, results,
            str(tmp_path / "ck1"), max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        q.stop()
        streamed = {
            r.doc_id: (r.n_hits, r.n_phrases_hit)
            for r in spark.read.parquet(results).collect()
        }
        batch = {
            r.id: (r.n_hits, r.n_phrases_hit)
            for r in BL.scan_blocklist(docs, phrases).collect()
        }
        assert streamed == batch
        assert len(streamed) == 30

    def test_crash_replay_replaces_not_duplicates(self, spark, tmp_path):
        docs = _docs(spark)
        phrases = ["ban me"]
        src = str(tmp_path / "in")
        stage_stream_files(docs.repartition(1), src, "b")
        results = str(tmp_path / "results")

        def run(ck):
            q = stream_blocklist_scan(
                spark, src, docs.schema, phrases, results, ck
            )
            q.awaitTermination(120)
            q.stop()

        run(str(tmp_path / "ckA"))
        # fresh checkpoint = the whole stream replays; the run-id
        # partition for batch 0 is REPLACED, not appended
        run(str(tmp_path / "ckB"))
        rows = spark.read.parquet(results).collect()
        assert len(rows) == 30


class TestStreamingChiSquare:
    def test_streamed_statistic_matches_batch_expression(
        self, spark, tmp_path
    ):
        docs = _docs(spark)
        even = docs.where(F.col("doc_id") % 2 == 0)
        odd = docs.where(F.col("doc_id") % 2 == 1)
        ref = str(tmp_path / "ref")
        build_source_token_reference(even, ref)
        src = str(tmp_path / "in")
        stage_stream_files(odd.repartition(3), src, "b")
        counts = str(tmp_path / "counts")
        q = stream_chi_square_counts(
            spark, src, odd.schema, counts, str(tmp_path / "ck1"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        q.stop()
        got = {
            r.source: (r.o_ref, r.o_cur, r.chi2_contrib)
            for r in chi_square_report(spark, ref, counts).collect()
        }
        # independent replica of the batch expression
        from collections import defaultdict

        o_ref, o_cur = defaultdict(int), defaultdict(int)
        for r in docs.collect():
            n = len(r.text.split())
            (o_ref if r.doc_id % 2 == 0 else o_cur)[r.source] += n
        n_ref, n_cur = sum(o_ref.values()), sum(o_cur.values())
        for s in set(o_ref) | set(o_cur):
            orf, ocr = o_ref[s], o_cur[s]
            row = orf + ocr
            e_r = n_ref * row / (n_ref + n_cur)
            e_c = n_cur * row / (n_ref + n_cur)
            chi2 = (orf - e_r) ** 2 / e_r + (ocr - e_c) ** 2 / e_c
            assert got[s][0] == orf and got[s][1] == ocr
            assert abs(got[s][2] - round(chi2, 6)) <= 1e-6, (s, got[s])

    def test_count_replay_is_idempotent(self, spark, tmp_path):
        docs = _docs(spark)
        odd = docs.where(F.col("doc_id") % 2 == 1)
        ref = str(tmp_path / "ref")
        build_source_token_reference(
            docs.where(F.col("doc_id") % 2 == 0), ref
        )
        src = str(tmp_path / "in")
        stage_stream_files(odd.repartition(1), src, "b")
        counts = str(tmp_path / "counts")

        def run(ck):
            q = stream_chi_square_counts(
                spark, src, odd.schema, counts, ck
            )
            q.awaitTermination(120)
            q.stop()

        run(str(tmp_path / "ckA"))
        first = sorted(
            (r.source, r.o_cur, r.chi2_contrib)
            for r in chi_square_report(spark, ref, counts).collect()
        )
        run(str(tmp_path / "ckB"))  # crash replay, fresh checkpoint
        second = sorted(
            (r.source, r.o_cur, r.chi2_contrib)
            for r in chi_square_report(spark, ref, counts).collect()
        )
        assert first == second
