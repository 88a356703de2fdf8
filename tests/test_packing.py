"""Unit tests for llm/packing.py (sequence packing) plus the vocab
and passage-dedup corpus queries' edge semantics.

Hand-computed micro-corpora: packing math (boundary crossing, fill,
per-shard independence) is checked against exact expected rows.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import packing as PK


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, source string, text string")


def _text(n):
    return " ".join(f"w{i}" for i in range(n))


class TestPackSequences:
    def test_single_doc_shorter_than_seq(self, spark):
        df = _docs(spark, [(1, "a", _text(5))])
        rows = PK.pack_sequences(df, seq_len=8).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.shard, r.doc_id, r.seq_id, r.tokens_in_seq, r.crosses) == (
            "a", 1, 0, 5, False
        )

    def test_doc_spanning_three_sequences(self, spark):
        # 20 tokens at seq_len=8: seqs 0 (8), 1 (8), 2 (4)
        df = _docs(spark, [(1, "a", _text(20))])
        rows = sorted(PK.pack_sequences(df, seq_len=8).collect(), key=lambda r: r.seq_id)
        assert [(r.seq_id, r.tokens_in_seq, r.crosses) for r in rows] == [
            (0, 8, True), (1, 8, True), (2, 4, True)
        ]

    def test_exact_boundary_does_not_cross(self, spark):
        # doc1 fills seq 0 exactly; doc2 starts cleanly at seq 1
        df = _docs(spark, [(1, "a", _text(8)), (2, "a", _text(3))])
        rows = {r.doc_id: r for r in PK.pack_sequences(df, seq_len=8).collect()}
        assert (rows[1].seq_id, rows[1].crosses) == (0, False)
        assert (rows[2].seq_id, rows[2].tokens_in_seq) == (1, 3)

    def test_shards_pack_independently(self, spark):
        df = _docs(spark, [(1, "a", _text(6)), (2, "b", _text(6))])
        rows = {r.shard: r for r in PK.pack_sequences(df, seq_len=8).collect()}
        # both shards restart at seq 0 — no cross-shard stream
        assert rows["a"].seq_id == 0 and rows["b"].seq_id == 0

    def test_id_order_is_the_concat_order(self, spark):
        # doc 10 comes after doc 2 regardless of input row order
        df = _docs(spark, [(10, "a", _text(4)), (2, "a", _text(6))])
        rows = {r.doc_id: r for r in PK.pack_sequences(df, seq_len=8).collect()}
        assert rows[2].seq_id == 0
        # doc 10 occupies tokens [6, 10) → crosses the 8-token boundary
        ten = sorted(
            PK.pack_sequences(df, seq_len=8).filter(F.col("doc_id") == 10).collect(),
            key=lambda r: r.seq_id,
        )
        assert [(r.seq_id, r.tokens_in_seq) for r in ten] == [(0, 2), (1, 2)]


class TestSequenceStats:
    def test_fill_and_counts(self, spark):
        # shard a: 6 + 6 = 12 tokens at seq_len=8 → seq0 full (2 docs,
        # 1 crossing), seq1 holds 4 (fill 0.5, the crossing doc)
        df = _docs(spark, [(1, "a", _text(6)), (2, "a", _text(6))])
        stats = {r.seq_id: r for r in PK.sequence_stats(df, seq_len=8).collect()}
        assert stats[0].n_docs == 2
        assert stats[0].n_crossing_docs == 1
        assert stats[0].n_tokens == 8
        assert stats[0].fill == 1.0
        assert stats[1].n_docs == 1
        assert stats[1].n_tokens == 4
        assert stats[1].fill == 0.5

    def test_token_conservation(self, spark):
        # every token lands in exactly one (doc, seq) slot
        df = _docs(
            spark,
            [(i, f"s{i % 3}", _text(5 + 7 * i)) for i in range(1, 10)],
        )
        total_tokens = sum(5 + 7 * i for i in range(1, 10))
        packed = PK.sequence_stats(df, seq_len=16)
        assert (
            packed.agg(F.sum("n_tokens")).collect()[0][0] == total_tokens
        )


class TestTrainingShuffle:
    def _docs(self, spark, n=400):
        return spark.createDataFrame(
            [(i, f"src{i % 4}") for i in range(n)],
            "doc_id bigint, source string",
        )

    def test_permutation_complete_and_deterministic(self, spark):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        docs = self._docs(spark)
        a = PK.training_shuffle(docs, num_shards=8, seed=1).collect()
        b = PK.training_shuffle(docs, num_shards=8, seed=1).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        # every doc exactly once
        assert sorted(r.doc_id for r in a) == list(range(400))
        # pos is 1..n_shard within each shard, no gaps
        by_shard: dict[int, list[int]] = {}
        for r in a:
            by_shard.setdefault(r.shard, []).append(r.pos)
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(1, len(poss) + 1)), shard

    def test_shards_balanced_and_order_scrambled(self, spark):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        out = PK.training_shuffle(self._docs(spark), num_shards=8, seed=1)
        rows = out.collect()
        sizes = {}
        for r in rows:
            sizes[r.shard] = sizes.get(r.shard, 0) + 1
        assert len(sizes) == 8
        # Lehmer keys spread evenly: no shard more than 2x the mean
        assert max(sizes.values()) <= 2 * (400 // 8)
        # the read order inside a shard is NOT id order (it's a shuffle)
        shard0 = [r.doc_id for r in sorted(
            (r for r in rows if r.shard == 0), key=lambda r: r.pos)]
        assert shard0 != sorted(shard0)

    def test_seed_changes_permutation(self, spark):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        docs = self._docs(spark)
        a = {(r.doc_id, r.shard, r.pos)
             for r in PK.training_shuffle(docs, seed=1).collect()}
        b = {(r.doc_id, r.shard, r.pos)
             for r in PK.training_shuffle(docs, seed=2).collect()}
        assert a != b

    def test_no_unpartitioned_window_in_plan(self, spark):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        plan = (
            PK.training_shuffle(self._docs(spark), num_shards=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        import re

        for line in plan.splitlines():
            m = re.search(r"\bWindow\s+(\[.*)", line)
            if m:
                assert len(re.findall(r"\], \[", m.group(1))) >= 2, line


class TestWriteTrainingShards:
    def test_layout_order_and_completeness(self, spark, tmp_path):
        import glob
        import os

        from etl_procedure_codes_crawler_spark.llm import packing as PK

        docs = spark.createDataFrame(
            [(i, f"text {i}", f"src{i % 3}") for i in range(300)],
            "doc_id bigint, text string, source string",
        )
        path = str(tmp_path / "shards")
        PK.write_training_shards(docs, path, seed=1)

        shard_dirs = sorted(glob.glob(os.path.join(path, "shard=*")))
        assert len(shard_dirs) == 4
        seen = []
        for d in shard_dirs:
            # one writer task per shard → one data file per shard
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
            rows = spark.read.parquet(d).collect()
            # rows stream back in shard read order (pos ascending)
            poss = [r.pos for r in rows]
            assert poss == sorted(poss) == list(range(1, len(rows) + 1))
            seen.extend(r.doc_id for r in rows)
        # the shards together are exactly the corpus
        assert sorted(seen) == list(range(300))
        # payload columns rode along
        row = spark.read.parquet(path).filter("doc_id = 7").first()
        assert row.text == "text 7" and row.source == "src1"


class TestHoldoutSplit:
    def test_fractions_and_stability_under_growth(self, spark):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        small = spark.createDataFrame(
            [(i,) for i in range(500)], "doc_id bigint"
        )
        grown = spark.createDataFrame(
            [(i,) for i in range(1000)], "doc_id bigint"
        )
        fr = {"train": 0.9, "val": 0.05, "test": 0.05}
        a = {r.doc_id: r.split
             for r in PK.holdout_split(small, fr).collect()}
        b = {r.doc_id: r.split
             for r in PK.holdout_split(grown, fr).collect()}
        # growth never reassigns an existing doc
        assert all(b[i] == a[i] for i in a)
        # proportions roughly honored on the grown corpus
        n = len(b)
        counts = {}
        for s in b.values():
            counts[s] = counts.get(s, 0) + 1
        assert abs(counts["train"] / n - 0.9) < 0.05
        assert counts["val"] > 0 and counts["test"] > 0

    def test_fractions_must_sum_to_one(self, spark):
        import pytest as _pytest

        from etl_procedure_codes_crawler_spark.llm import packing as PK

        df = spark.createDataFrame([(1,)], "doc_id bigint")
        with _pytest.raises(ValueError, match="sum to 1"):
            PK.holdout_split(df, {"train": 0.5, "val": 0.1})


class TestBestFitPacking:
    CAP = 100

    def _pack(self, spark, sizes):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        rows = [("s", i, n) for i, n in enumerate(sizes)]
        df = spark.createDataFrame(
            rows, "source string, doc_id bigint, n bigint"
        )
        return PK.pack_sequences_bestfit(
            df, self.CAP, n_tokens_col="n"
        ).collect()

    @staticmethod
    def _replica(sizes, cap):
        import bisect

        order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
        bins, nxt, out = [], 0, {}
        for i in order:
            n = sizes[i]
            if n > cap:
                out[i] = (nxt, True)
                nxt += 1
                continue
            j = bisect.bisect_left(bins, (n, -1))
            if j < len(bins):
                rem, sid = bins.pop(j)
                if rem - n > 0:
                    bisect.insort(bins, (rem - n, sid))
            else:
                sid = nxt
                nxt += 1
                if cap - n > 0:
                    bisect.insort(bins, (cap - n, sid))
            out[i] = (sid, False)
        return out

    def test_matches_pure_replica(self, spark):
        sizes = [60, 40, 40, 30, 30, 30, 150, 99, 1, 1, 70, 25, 5]
        got = {r.doc_id: (r.seq_id, r.oversize) for r in self._pack(spark, sizes)}
        assert got == self._replica(sizes, self.CAP)

    def test_invariants(self, spark):
        sizes = [37, 81, 12, 55, 99, 100, 101, 3, 64, 48, 29, 76]
        rows = self._pack(spark, sizes)
        assert sorted(r.doc_id for r in rows) == list(range(len(sizes)))
        fills: dict = {}
        for r in rows:
            fills.setdefault(r.seq_id, []).append(r)
        for seq_rows in fills.values():
            if any(r.oversize for r in seq_rows):
                assert len(seq_rows) == 1  # oversize docs sit alone
            else:
                assert sum(r.n_tokens for r in seq_rows) <= self.CAP
        # bin count sane: at least the volume bound, at most one per doc
        import math

        n_seqs = len(fills)
        vol = math.ceil(sum(s for s in sizes if s <= self.CAP) / self.CAP)
        assert vol <= n_seqs <= len(sizes)

    def test_zero_token_docs_occupy_nothing(self, spark):
        got = self._pack(spark, [0, 10])
        assert [r.doc_id for r in got] == [1]

    def test_stats_accounting(self, spark):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        rows = [("s", i, n) for i, n in enumerate([90, 10, 60, 150])]
        df = spark.createDataFrame(
            rows, "source string, doc_id bigint, n bigint"
        )
        packed = PK.pack_sequences_bestfit(df, self.CAP, n_tokens_col="n")
        st = PK.bestfit_packing_stats(packed, self.CAP).collect()[0]
        # bins: {90,10} full, {60} pad 40, {150} oversize
        assert st.n_docs == 4 and st.n_seqs == 3
        assert st.n_oversize == 1 and st.total_padding == 40


class TestClusterHoldoutSplit:
    FR = {"train": 0.8, "val": 0.1, "test": 0.1}

    def _run(self, spark, n_docs, pairs):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        docs = spark.createDataFrame(
            [(i,) for i in range(n_docs)], "doc_id bigint"
        )
        edges = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
        return PK.cluster_holdout_split(docs, edges, self.FR)

    def test_clusters_never_straddle_splits(self, spark):
        # chain 0-1-2, pair 10-11, transitive 20-21 + 21-22
        pairs = [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22)]
        rows = self._run(spark, 200, pairs).collect()
        by_cluster: dict = {}
        for r in rows:
            by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        assert all(len(s) == 1 for s in by_cluster.values())
        by_doc = {r.doc_id: r for r in rows}
        assert by_doc[2].cluster_id == 0 and by_doc[2].split == by_doc[0].split
        assert by_doc[22].cluster_id == 20

    def test_singletons_match_plain_holdout(self, spark):
        from etl_procedure_codes_crawler_spark.llm import packing as PK

        docs = spark.createDataFrame(
            [(i,) for i in range(300)], "doc_id bigint"
        )
        plain = {
            r.doc_id: r.split
            for r in PK.holdout_split(docs, self.FR).collect()
        }
        clustered = {
            r.doc_id: r
            for r in self._run(spark, 300, [(5, 6), (100, 250)]).collect()
        }
        for i in range(300):
            if i in (6, 250):  # moved into their representative's split
                rep = 5 if i == 6 else 100
                assert clustered[i].split == plain[rep]
                assert clustered[i].cluster_id == rep
            else:
                assert clustered[i].split == plain[i]
                assert clustered[i].cluster_id == i

    def test_every_doc_assigned_exactly_once(self, spark):
        out = self._run(spark, 120, [(1, 2), (2, 3), (3, 4)]).collect()
        assert len(out) == 120
        assert len({r.doc_id for r in out}) == 120


class TestWriteTrainingShards:
    def test_layout_one_file_per_shard_in_manifest_order(self, spark, tmp_path):
        import glob

        docs = spark.createDataFrame(
            [(i, f"doc text {i}") for i in range(200)],
            "doc_id bigint, text string",
        )
        path = str(tmp_path / "shards")
        assert PK.write_training_shards(docs, path, seed=3) == 4
        dirs = sorted(glob.glob(f"{path}/shard=*"))
        assert len(dirs) == 4
        manifest = {
            r.doc_id: (r.shard, r.pos)
            for r in PK.training_shuffle(docs, num_shards=4, seed=3).collect()
        }
        total = 0
        for d in dirs:
            shard = int(d.rsplit("=", 1)[1])
            files = glob.glob(f"{d}/part-*.parquet")
            assert len(files) == 1  # one task per shard → one file
            # parquet preserves task row order: the file's physical
            # order must equal the manifest's read order
            import pyarrow.parquet as pq

            ids = pq.read_table(files[0], columns=["doc_id"])["doc_id"].to_pylist()
            want = [
                doc
                for doc, (s, _p) in sorted(
                    manifest.items(), key=lambda kv: kv[1][1]
                )
                if s == shard
            ]
            assert ids == want
            total += len(ids)
        assert total == 200


def test_pack_sequences_on_precomputed_counts(spark):
    """n_tokens_col path: packing on learned subword counts must give
    the same spans as packing text whose whitespace counts equal
    those numbers."""
    via_counts = spark.createDataFrame(
        [(1, "a", 6), (2, "a", 6)], "doc_id bigint, source string, n bigint"
    )
    got = sorted(
        map(
            tuple,
            PK.pack_sequences(
                via_counts, seq_len=8, n_tokens_col="n"
            ).collect(),
        )
    )
    via_text = _docs(spark, [(1, "a", _text(6)), (2, "a", _text(6))])
    want = sorted(map(tuple, PK.pack_sequences(via_text, seq_len=8).collect()))
    assert got == want
    # zero-count docs occupy no stream positions
    with_zero = spark.createDataFrame(
        [(1, "a", 6), (2, "a", 0), (3, "a", 6)],
        "doc_id bigint, source string, n bigint",
    )
    rows = PK.pack_sequences(with_zero, seq_len=8, n_tokens_col="n").collect()
    assert {r.doc_id for r in rows} == {1, 3}


def test_pack_sequences_null_precomputed_count_raises(spark):
    bad = spark.createDataFrame(
        [(1, "a", 6), (2, "a", None)], "doc_id bigint, source string, n bigint"
    )
    with pytest.raises(Exception, match="NULL n"):
        PK.pack_sequences(bad, seq_len=8, n_tokens_col="n").collect()


def test_bpe_training_shards_byte_identical_across_runs(spark, tmp_path):
    """Round-8 capstone determinism contract: the tokenizer-true
    layout (train BPE -> encode -> best-fit pack on subword counts ->
    reproducible shuffle -> physical shards) must produce
    BYTE-IDENTICAL shard files for the same corpus + seed — the
    property a resumable training run relies on. Compares file
    contents (names carry job UUIDs) per shard directory."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from etl_procedure_codes_crawler_spark.llm import bpe as B
    from etl_procedure_codes_crawler_spark.llm import packing as PK

    docs = spark.createDataFrame(
        [
            (i, ("alpha beta gamma delta epsilon zeta " * (i % 5 + 1)).strip(),
             f"src{i % 3}")
            for i in range(1, 41)
        ],
        "doc_id long, text string, source string",
    )

    def build(out_dir):
        merges, seg = B.train_bpe(docs, num_merges=8)
        counts = B.bpe_encode(docs, merges, seg).select(
            F.col("id").alias("doc_id"),
            F.size("tokens").cast("bigint").alias("n_bpe_tokens"),
        )
        sized = docs.select("doc_id", "source").join(counts, "doc_id")
        packed = PK.pack_sequences_bestfit(
            sized, seq_len=64, n_tokens_col="n_bpe_tokens",
        ).withColumnRenamed("shard", "pack_shard")  # the shuffle owns "shard"
        PK.write_training_shards(packed, out_dir, seed=1)
        layout = {}
        for shard_dir in sorted(os.listdir(out_dir)):
            if not shard_dir.startswith("shard="):
                continue
            full = os.path.join(out_dir, shard_dir)
            hashes = sorted(
                hashlib.sha256(
                    open(os.path.join(full, f), "rb").read()
                ).hexdigest()
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
            layout[shard_dir] = hashes
        return layout

    a = build(str(tmp_path / "a"))
    b = build(str(tmp_path / "b"))
    assert a and a == b
