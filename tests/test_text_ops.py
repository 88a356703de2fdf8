"""Text operators: overlapping RAG chunking (llm/text.chunk_documents)."""

from __future__ import annotations

import pytest

class TestChunkDocuments:
    def _chunks(self, spark, text, chunk_size=10, overlap=3):
        from etl_procedure_codes_crawler_spark.llm import text as T

        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        return sorted(
            T.chunk_documents(
                df, chunk_size=chunk_size, overlap=overlap
            ).collect(),
            key=lambda r: r.chunk_idx,
        )

    def test_geometry_covers_every_token_with_exact_overlap(self, spark):
        words = [f"w{i}" for i in range(1, 26)]  # 25 tokens
        rows = self._chunks(spark, " ".join(words))
        # chunk 0: [1,10], chunk 1: [8,17], chunk 2: [15,24], chunk 3: [22,25]
        assert [(r.chunk_idx, r.start_token, r.n_tokens) for r in rows] == [
            (0, 1, 10), (1, 8, 10), (2, 15, 10), (3, 22, 4),
        ]
        # coverage: stitching non-overlap parts reconstructs the doc
        rebuilt = rows[0].chunk_text.split()
        for r in rows[1:]:
            rebuilt += r.chunk_text.split()[3:]  # drop the overlap tokens
        assert rebuilt == words
        # consecutive chunks share exactly `overlap` tokens
        for a, b in zip(rows, rows[1:]):
            assert a.chunk_text.split()[-3:] == b.chunk_text.split()[:3]

    def test_short_doc_single_chunk(self, spark):
        rows = self._chunks(spark, "just five little words here")
        assert [(r.chunk_idx, r.start_token, r.n_tokens) for r in rows] == [
            (0, 1, 5)
        ]
        assert rows[0].chunk_text == "just five little words here"

    def test_empty_and_whitespace_docs_yield_no_chunks(self, spark):
        from etl_procedure_codes_crawler_spark.llm import text as T

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, None)], "doc_id bigint, text string"
        )
        assert T.chunk_documents(df).count() == 0

    def test_boundary_exact_multiple(self, spark):
        # n == chunk_size: exactly one chunk, no phantom second window
        rows = self._chunks(spark, " ".join(f"t{i}" for i in range(10)))
        assert len(rows) == 1 and rows[0].n_tokens == 10
        # n == chunk_size + 1: second chunk starts at step+1, short
        rows = self._chunks(spark, " ".join(f"t{i}" for i in range(11)))
        assert [(r.start_token, r.n_tokens) for r in rows] == [(1, 10), (8, 4)]

    def test_invalid_overlap_rejected(self, spark):
        from etl_procedure_codes_crawler_spark.llm import text as T

        df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
        with pytest.raises(ValueError, match="overlap"):
            T.chunk_documents(df, chunk_size=10, overlap=10)
