"""Streaming ingest gates: checkpoint durability + replay idempotency
(streaming/incremental.py)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql.types import LongType, StringType, StructField, StructType

@pytest.fixture()
def dirs(tmp_path):
    source = tmp_path / "incoming"
    source.mkdir()
    return {
        "source": str(source),
        "warehouse": str(tmp_path / "warehouse"),
        "checkpoint": str(tmp_path / "ckpt"),
    }


class TestBoilerplateIngest:
    """Passage-frequency-aware ingest gate: strip-at-admission +
    same-commit count append (stream_ingest_with_boilerplate)."""

    DOC_SCHEMA = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def _drop_docs(self, spark, source_dir, name, rows):
        from etl_procedure_codes_crawler_spark.streaming.incremental import (
            stage_stream_files,
        )

        stage_stream_files(
            spark.createDataFrame(rows, self.DOC_SCHEMA).coalesce(1),
            source_dir,
            name,
        )

    def _run(self, spark, dirs, store, min_doc_freq=2):
        from etl_procedure_codes_crawler_spark.streaming.incremental import (
            stream_ingest_with_boilerplate,
        )

        q = stream_ingest_with_boilerplate(
            spark,
            dirs["source"],
            self.DOC_SCHEMA,
            dirs["warehouse"],
            store,
            dirs["checkpoint"],
            min_doc_freq=min_doc_freq,
        )
        q.awaitTermination(120)
        q.stop()

    def _wh(self, spark, dirs):
        return sorted(
            (r.doc_id, r.n_passages, r.n_removed, r.text_clean)
            for r in spark.read.parquet(dirs["warehouse"]).collect()
        )

    def test_single_batch_matches_batch_operator(self, spark, dirs, tmp_path):
        """A corpus offered as ONE batch must strip exactly like the
        batch operator (whose DuckDB oracle pins the math)."""
        from etl_procedure_codes_crawler_spark.llm import passagefreq as PF
        from etl_procedure_codes_crawler_spark.llm.dedup import (
            remove_boilerplate_passages,
        )

        rows = [
            (i, f"unique tail {i} here subscribe to our list")
            for i in range(1, 6)
        ]
        self._drop_docs(spark, dirs["source"], "b1", rows)
        store = str(tmp_path / "store")
        PF.create_passage_freq_store(spark, store, block=4)
        self._run(spark, dirs, store)
        docs = spark.createDataFrame(rows, self.DOC_SCHEMA)
        expected = sorted(
            (r.id, r.n_passages, r.n_removed, r.text_clean)
            for r in remove_boilerplate_passages(
                docs, min_doc_freq=2, block=4
            ).collect()
        )
        assert self._wh(spark, dirs) == expected
        assert all(rm == 1 for _i, _n, rm, _t in expected)  # boiler hit

    def test_later_batch_sees_cumulative_frequencies(
        self, spark, dirs, tmp_path
    ):
        """Monotone contract: a passage below threshold in batch 1
        strips in batch 2 once cumulative df crosses it; batch-1 docs
        keep their admission-time text (upgradeable by a serve-time
        re-strip against the same store)."""
        from etl_procedure_codes_crawler_spark.llm import passagefreq as PF

        store = str(tmp_path / "store")
        PF.create_passage_freq_store(spark, store, block=4)
        self._drop_docs(
            spark, dirs["source"], "b1",
            [(1, "first words one shared boiler block"),
             (2, "second words two shared boiler block")],
        )
        self._run(spark, dirs, store)
        wh1 = dict(
            (i, (rm, t)) for i, _n, rm, t in self._wh(spark, dirs)
        )
        # df=2 is NOT > min_doc_freq=2 at admission: nothing stripped
        assert wh1[1][0] == 0 and wh1[2][0] == 0
        self._drop_docs(
            spark, dirs["source"], "b2",
            [(3, "third words gap shared boiler block")],
        )
        self._run(spark, dirs, store)
        wh2 = dict(
            (i, (rm, t)) for i, _n, rm, t in self._wh(spark, dirs)
        )
        # cumulative df=3 > 2: the new doc strips the shared passage
        assert wh2[3] == (1, "third words gap shared")
        # early docs keep admission-time text...
        assert wh2[1][0] == 0
        # ...and the serve-time re-strip upgrades them off the store
        upgraded = PF.strip_boilerplate_against_store(
            spark,
            store,
            spark.read.parquet(dirs["warehouse"]).select("doc_id", "text"),
            min_doc_freq=2,
        )
        up = {r.id: (r.n_removed, r.text_clean) for r in upgraded.collect()}
        assert up[1] == (1, "first words one shared")
        assert up[2] == (1, "second words two shared")

    def test_crash_after_counts_before_warehouse_replays_identically(
        self, spark, dirs, tmp_path, monkeypatch
    ):
        """Write order is counts -> warehouse. A crash between them
        (simulated by exploding the strip step) leaves the batch's
        counts durable; the same-checkpoint replay re-appends under
        the SAME (gate, batch) key — which the store's read-side
        dedup collapses — so frequencies never inflate and the strip
        decisions are bit-identical to a crash-free run."""
        import pytest as _pytest
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        import etl_procedure_codes_crawler_spark.llm.passagefreq as PFmod

        store = str(tmp_path / "store")
        PFmod.create_passage_freq_store(spark, store, block=4)
        rows = [
            (i, f"unique tail {i} here subscribe to our list")
            for i in range(1, 6)
        ]
        self._drop_docs(spark, dirs["source"], "b1", rows)
        # the sink strips via the attach-it-yourself form (round 13)
        real_strip = PFmod.strip_rebuilt_against_store

        def exploding(*a, **k):
            raise RuntimeError("crash after counts, before warehouse")

        monkeypatch.setattr(
            PFmod, "strip_rebuilt_against_store", exploding
        )
        with _pytest.raises(StreamingQueryException):
            self._run(spark, dirs, store)
        # counts are durable; no data landed
        freqs_after_crash = sorted(
            (r.fp, r.df)
            for r in PFmod.read_passage_freqs(spark, store).collect()
        )
        assert max(df for _fp, df in freqs_after_crash) == 5
        assert not os.path.exists(dirs["warehouse"])
        # same-checkpoint replay: frequencies unchanged, strip matches
        # the batch operator exactly (as if the crash never happened)
        monkeypatch.setattr(
            PFmod, "strip_rebuilt_against_store", real_strip
        )
        self._run(spark, dirs, store)
        assert (
            sorted(
                (r.fp, r.df)
                for r in PFmod.read_passage_freqs(spark, store).collect()
            )
            == freqs_after_crash
        )
        from etl_procedure_codes_crawler_spark.llm.dedup import (
            remove_boilerplate_passages,
        )

        docs = spark.createDataFrame(rows, self.DOC_SCHEMA)
        expected = sorted(
            (r.id, r.n_passages, r.n_removed, r.text_clean)
            for r in remove_boilerplate_passages(
                docs, min_doc_freq=2, block=4
            ).collect()
        )
        assert self._wh(spark, dirs) == expected

    def test_lost_checkpoint_replay_appends_nothing(
        self, spark, dirs, tmp_path
    ):
        from etl_procedure_codes_crawler_spark.llm import passagefreq as PF

        store = str(tmp_path / "store")
        PF.create_passage_freq_store(spark, store, block=4)
        self._drop_docs(
            spark, dirs["source"], "b1",
            [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        )
        self._run(spark, dirs, store)
        before_wh = self._wh(spark, dirs)
        before_freqs = sorted(
            (r.fp, r.df)
            for r in PF.read_passage_freqs(spark, store).collect()
        )
        # wiped checkpoint = full re-offer under a NEW gate id; the
        # warehouse anti-join empties the batch, so neither the
        # warehouse nor the store moves
        replay = dict(dirs, checkpoint=dirs["checkpoint"] + "_2")
        self._run(spark, replay, store)
        assert self._wh(spark, dirs) == before_wh
        assert (
            sorted(
                (r.fp, r.df)
                for r in PF.read_passage_freqs(spark, store).collect()
            )
            == before_freqs
        )
