"""The unified six-gate admission pipeline (streaming/unified.py):
targeted gate semantics (exact dup rejected, prefix-media dup
rejected, clip-head video dup rejected, corrupt media/clips admitted,
budgets enforced on CLEAN tokens) and the capstone crash contract — a
crash after ALL store commits but before the warehouse append must
replay, under the same checkpoint, to a final state bit-identical to
an uncrashed twin run across all six stores, the attrition artifact,
and the warehouse. (End-to-end value parity vs the SQL funnel replay
is the driver-gate oracle's job; see llm/queries.py
streaming_unified_admission.)"""

from __future__ import annotations

import os

import pytest

from etl_procedure_codes_crawler_spark.streaming import unified as U
from etl_procedure_codes_crawler_spark.streaming.incremental import (
    stage_stream_files,
)


def _corpus(spark):
    rows = []
    # source s0: 10 plain docs sharing a TRAILING boilerplate block
    # (block=3): heads are unique per doc, so neither media gate can
    # collapse them and the strip gate gets a df-10 shared passage
    for i in range(1, 11):
        rows.append(
            (
                i,
                f"unique{i} body{i} words{i} tail{i} of{i} doc{i} "
                "common boiler plate",
                "s0",
            )
        )
    # media dups: 5 docs sharing the first 8 tokens, distinct tails
    prefix = "shared prefix tokens one two three four five"
    for i in range(11, 16):
        rows.append((i, f"{prefix} distinct tail {i} {'x ' * i}", "s1"))
    # exact dups (identical text)
    rows.append((21, "identical duplicate body words here", "s1"))
    rows.append((22, "identical duplicate body words here", "s1"))
    # corrupt media doc (50 % 50 == 0) sharing the media prefix —
    # undecodable media must NOT reject it
    rows.append((50, f"{prefix} corrupt media tail qqq", "s1"))
    # VIDEO dups (round 11): share the 3-token clip head, diverge at
    # token 4 — invisible to the 8-token image gate, caught by 2b
    vhead = "video preview clip"
    for i in (61, 62, 63):
        rows.append(
            (i, f"{vhead} continuation{i} words{i} more{i} tail{i}", "s1")
        )
    # corrupt clip (74 % 37 == 0) sharing the video head — its first
    # keyframe is broken, so the clip has no perceptual identity and
    # the doc must be ADMITTED despite the head collision
    rows.append((74, f"{vhead} corrupt chain tail74 words", "s1"))
    # source s2: enough CLEAN tokens to overflow a small budget — the
    # filler AND heads are unique per doc so neither the boilerplate
    # nor the media gates interfere
    for i in range(31, 41):
        filler = " ".join(f"w{i}x{j}" for j in range(20))
        rows.append((i, f"budget{i} filler{i} doc{i} {filler}", "s2"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def _run_gate(spark, src, schema, root, budgets, ckpt):
    stores = os.path.join(root, "stores")
    if not os.path.exists(stores):
        U.create_unified_stores(spark, stores, kmv_k=16)
    q = U.stream_ingest_unified(
        spark, src, schema, os.path.join(root, "wh"), stores, ckpt,
        budgets=budgets, min_doc_freq=2
    )
    q.awaitTermination(300)
    q.stop()
    return stores


def _state(spark, root):
    """Everything durable, as comparable python sets/dicts."""
    stores = os.path.join(root, "stores")
    paths = U.unified_store_paths(stores)
    wh = sorted(
        r.doc_id for r in spark.read.parquet(os.path.join(root, "wh"))
        .select("doc_id").collect()
    )
    att = sorted(
        tuple(r)
        for r in spark.read.parquet(paths["attrition"])
        .drop("run_id").collect()
    )
    fp = sorted(tuple(r) for r in spark.read.parquet(
        paths["fingerprints"]).collect())
    med = sorted(tuple(r) for r in spark.read.parquet(
        paths["media"]).collect())
    vid = sorted(tuple(r) for r in spark.read.parquet(
        paths["video"]).collect())
    from etl_procedure_codes_crawler_spark.llm import kmv as KV
    from etl_procedure_codes_crawler_spark.llm import passagefreq as PF

    kmv = sorted(
        tuple(r) for r in KV.read_kmv_store(spark, paths["kmv"]).collect()
    )
    freqs = sorted(
        tuple(r)
        for r in PF.read_passage_freqs(spark, paths["passages"]).collect()
    )
    rep = sorted(
        tuple(r)
        for r in U.unified_attrition_report(spark, stores).collect()
    )
    return {"wh": wh, "att": att, "fp": fp, "med": med, "vid": vid,
            "kmv": kmv, "freqs": freqs, "rep": rep}


class TestGateSemantics:
    def test_six_gates_each_bite(self, spark, tmp_path):
        docs = _corpus(spark)
        src = str(tmp_path / "in")
        stage_stream_files(docs.repartition(1), src, "b")
        root = str(tmp_path / "g")
        os.makedirs(root)
        stores = _run_gate(
            spark, src, docs.schema, root,
            budgets={"s2": 60}, ckpt=str(tmp_path / "ck"),
        )
        rep = {
            r.source: r
            for r in U.unified_attrition_report(spark, stores).collect()
        }
        wh_ids = {
            r.doc_id for r in spark.read.parquet(
                os.path.join(root, "wh")).collect()
        }
        # exact: 22 rejected, 21 admitted
        assert 21 in wh_ids and 22 not in wh_ids
        # media: min-id 11 survives its prefix class, 12-15 rejected;
        # the corrupt-media doc 50 shares the prefix but is ADMITTED
        assert 11 in wh_ids
        assert not wh_ids & {12, 13, 14, 15}
        assert 50 in wh_ids
        assert rep["s1"].n_media_rejected == 4
        assert rep["s1"].n_exact_rejected == 1
        # video (2b): 61 is the clip-head min-id, 62/63 share the
        # 3-token head with DIFFERENT 8-token prefixes (the image gate
        # cannot see them) and are rejected; corrupt-clip 74 shares
        # the head but has no perceptual identity and is admitted
        assert 61 in wh_ids
        assert not wh_ids & {62, 63}
        assert 74 in wh_ids
        assert rep["s1"].n_video_rejected == 2
        # boilerplate: the shared s0 block got stripped somewhere
        assert rep["s0"].passages_removed > 0
        # budget: s2 capped at 60 clean tokens — not all 10 docs land
        assert rep["s2"].n_budget_rejected > 0
        assert rep["s2"].tokens_admitted <= 60
        # the KMV estimate column is served for admitted sources
        assert rep["s0"].est_distinct_shingles is not None

    def test_clean_corpus_admits_everything(self, spark, tmp_path):
        docs = spark.createDataFrame(
            # heads unique too: a shared 3-token head would (correctly)
            # trip the round-11 video gate
            [(i, f"totally{i} unique{i} body{i} number {i * 7}", "s9")
             for i in range(1, 8)],
            "doc_id long, text string, source string",
        )
        src = str(tmp_path / "in")
        stage_stream_files(docs.repartition(1), src, "b")
        root = str(tmp_path / "g")
        os.makedirs(root)
        stores = _run_gate(
            spark, src, docs.schema, root, budgets={},
            ckpt=str(tmp_path / "ck"),
        )
        rep = U.unified_attrition_report(spark, stores).collect()[0]
        assert rep.n_admitted == 7
        assert rep.n_exact_rejected == 0
        assert rep.n_media_rejected == 0
        assert rep.n_video_rejected == 0
        assert rep.n_budget_rejected == 0


class TestCrashReplay:
    def test_crash_after_all_stores_replays_bit_identically(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash between the five store commits and the warehouse
        append; the SAME-checkpoint replay must converge every
        artifact to the uncrashed twin's state."""
        docs = _corpus(spark)
        budgets = {"s2": 60}

        # twin A: uncrashed reference run
        src_a = str(tmp_path / "inA")
        stage_stream_files(docs.repartition(1), src_a, "b")
        root_a = str(tmp_path / "A")
        os.makedirs(root_a)
        _run_gate(spark, src_a, docs.schema, root_a, budgets,
                  ckpt=str(tmp_path / "ckA"))
        ref = _state(spark, root_a)

        # twin B: crash after the KMV fold (the LAST store commit)
        src_b = str(tmp_path / "inB")
        stage_stream_files(docs.repartition(1), src_b, "b")
        root_b = str(tmp_path / "B")
        os.makedirs(root_b)
        real_append = U.KV.append_to_kmv_store
        boom = {"armed": True}

        def exploding(*a, **kw):
            out = real_append(*a, **kw)
            if boom["armed"]:
                boom["armed"] = False
                raise RuntimeError("synthetic crash after kmv commit")
            return out

        monkeypatch.setattr(U.KV, "append_to_kmv_store", exploding)
        stores_b = os.path.join(root_b, "stores")
        U.create_unified_stores(spark, stores_b, kmv_k=16)
        q = U.stream_ingest_unified(
            spark, src_b, docs.schema, os.path.join(root_b, "wh"),
            stores_b, str(tmp_path / "ckB"), budgets=budgets,
            min_doc_freq=2,
        )
        with pytest.raises(Exception):
            q.awaitTermination(300)
            q.processAllAvailable()
        try:
            q.stop()
        except Exception:  # noqa: BLE001 — already failed
            pass
        # warehouse must NOT exist yet (crash preceded the append)
        assert not os.path.exists(os.path.join(root_b, "wh"))
        monkeypatch.setattr(U.KV, "append_to_kmv_store", real_append)
        # replay under the SAME checkpoint
        _run_gate(spark, src_b, docs.schema, root_b, budgets,
                  ckpt=str(tmp_path / "ckB"))
        got = _state(spark, root_b)
        assert got == ref


def test_store_commit_jobs_stay_in_the_streams_job_group(
    spark, tmp_path, jobs_started_by
):
    """One micro-batch's store commits run on a thread pool; their jobs
    carry the stream thread's job group (the query's run id), like every
    other job of the batch."""
    docs = spark.createDataFrame(
        [(i, f"solo{i} words{i} here{i} now{i}", "s9") for i in range(1, 4)],
        "doc_id long, text string, source string",
    )
    src = str(tmp_path / "in")
    stage_stream_files(docs.repartition(1), src, "b")
    root = str(tmp_path / "g")
    os.makedirs(root)
    U.create_unified_stores(spark, os.path.join(root, "stores"), kmv_k=16)
    runs = []

    def one_batch():
        runs.append(U.stream_ingest_unified(
            spark, src, docs.schema, os.path.join(root, "wh"),
            os.path.join(root, "stores"), str(tmp_path / "ck"), budgets={},
            min_doc_freq=2,
        ))
        runs[0].awaitTermination(300)
        runs[0].stop()

    jobs = jobs_started_by(one_batch, "caller")
    tracker = spark.sparkContext.statusTracker()
    stream_jobs = set(tracker.getJobIdsForGroup(str(runs[0].runId)))
    caller_jobs = set(tracker.getJobIdsForGroup("caller"))
    assert stream_jobs and set(jobs) <= stream_jobs | caller_jobs
