"""Persisted perceptual-hash store + the streaming media ingest gate
(llm/phash_store.py, streaming/incremental.stream_ingest_media_neardup)."""

from __future__ import annotations

import pytest

import etl_procedure_codes_crawler_spark.llm.multimodal as M
import etl_procedure_codes_crawler_spark.llm.phash_store as PS


def _png_media(spark, rows):
    """rows: (media_id, text) -> real PNG media frame."""
    docs = spark.createDataFrame(
        [(i, t, "src") for i, t in rows],
        "doc_id long, text string, source string",
    )
    return M.documents_as_png(docs, corrupt_every=0)


class TestPhashStore:
    def test_append_idempotent_and_probe_finds_twins(self, spark, tmp_path):
        store = str(tmp_path / "store")
        PS.create_phash_store(spark, store)
        base = M.image_hashes(
            _png_media(spark, [(1, "alpha beta " * 9), (2, "other words " * 7)])
        )
        assert PS.append_to_phash_store(spark, store, base) == 2
        # replayed append is a no-op
        assert PS.append_to_phash_store(spark, store, base) == 0
        # a byte-identical twin under a new id probes at hamming 0
        twin = M.image_hashes(_png_media(spark, [(100, "alpha beta " * 9)]))
        got = {
            (r.new_id, r.existing_id, r.hamming)
            for r in PS.near_dups_against_phash_store(
                spark, store, twin
            ).collect()
        }
        assert got == {(100, 1, 0)}
        # an unrelated image probes clean
        other = M.image_hashes(
            _png_media(spark, [(200, "entirely different content here " * 5)])
        )
        assert (
            PS.near_dups_against_phash_store(spark, store, other).count() == 0
        )

    def test_null_hashes_never_stored(self, spark, tmp_path):
        store = str(tmp_path / "store")
        PS.create_phash_store(spark, store)
        hashes = spark.createDataFrame(
            [(1, None, "e"), (2, 42, None)],
            "media_id long, phash long, decode_error string",
        )
        assert PS.append_to_phash_store(spark, store, hashes) == 1
        assert {r.id for r in PS.read_phash_store(spark, store).collect()} == {2}


class TestStreamIngestMediaNearDup:
    def _drop(self, spark, source_dir, name, rows):
        from etl_procedure_codes_crawler_spark.streaming.incremental import (
            stage_stream_files,
        )

        stage_stream_files(
            _png_media(spark, rows).repartition(1), source_dir, name
        )

    def _run(self, spark, dirs):
        from etl_procedure_codes_crawler_spark.streaming.incremental import (
            stream_ingest_media_neardup,
        )

        q = stream_ingest_media_neardup(
            spark,
            dirs["source"],
            M.MEDIA_SCHEMA,
            dirs["warehouse"],
            dirs["store"],
            dirs["checkpoint"],
        )
        q.awaitTermination(180)
        q.stop()

    @pytest.fixture()
    def dirs(self, tmp_path, spark):
        src = tmp_path / "in"
        src.mkdir()
        d = {
            "source": str(src),
            "warehouse": str(tmp_path / "wh"),
            "store": str(tmp_path / "store"),
            "checkpoint": str(tmp_path / "ck"),
        }
        PS.create_phash_store(spark, d["store"])
        return d

    def test_gate_rejects_perceptual_copies_across_batches(self, spark, dirs):
        # batch 1: two distinct images, plus an intra-batch twin of the
        # first (same pixels, new id) that must collapse to one
        self._drop(
            spark,
            dirs["source"],
            "b1",
            [
                (1, "the quick brown fox " * 8),
                (2, "completely different words " * 6),
                (31, "the quick brown fox " * 8),  # intra twin of 1
            ],
        )
        self._run(spark, dirs)
        got1 = sorted(
            r.media_id
            for r in spark.read.parquet(dirs["warehouse"]).collect()
        )
        assert got1 == [1, 2]  # twin 31 collapsed in-batch
        # batch 2: a re-hosted copy of image 1 + a genuinely new image
        self._drop(
            spark,
            dirs["source"],
            "b2",
            [
                (41, "the quick brown fox " * 8),  # perceptual copy
                (42, "brand new unrelated thing " * 7),
            ],
        )
        self._run(spark, dirs)
        got2 = sorted(
            r.media_id
            for r in spark.read.parquet(dirs["warehouse"]).collect()
        )
        assert got2 == [1, 2, 42]  # the copy was gated by the store
        # crash-replay with a wiped checkpoint: everything re-offers,
        # nothing re-appends (id gate + store gate)
        import shutil

        shutil.rmtree(dirs["checkpoint"])
        self._run(spark, dirs)
        again = sorted(
            r.media_id
            for r in spark.read.parquet(dirs["warehouse"]).collect()
        )
        assert again == [1, 2, 42]
