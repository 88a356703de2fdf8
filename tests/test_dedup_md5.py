"""md5-mode MinHash (round 10): the hash-oracled LSH family.

The xxhash64 mode stays the library default for throughput; these
tests pin what the conversion claims: (1) each md5 slot equals an
engine-independent hashlib replica (the cross-engine contract the
DuckDB oracle relies on), (2) on a planted corpus the md5 and xx
modes emit the SAME verified pair set and the SAME clusters (the
exact-Jaccard verify makes the hash family a candidate-recall detail,
and at test scale both families find every qualifying pair), and
(3) the md5-mode group sketch stays inside the same error floor as
the xx-mode sketch vs exact overlap."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import dedup as D
from etl_procedure_codes_crawler_spark.llm import overlap as OV


def _corpus(spark):
    rows = []
    for i in range(1, 41):
        rows.append((i, f"document body {i} alpha beta gamma " * (i % 5 + 2), "s1"))
    # planted near-dups: 8 docs get a twin differing by one token
    for i in range(1, 9):
        base = f"document body {i} alpha beta gamma " * (i % 5 + 2)
        rows.append((1000 + i, base + "tail", "s2"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


class TestMd5Member:
    def test_md5_member_matches_hashlib_replica(self, spark):
        df = spark.createDataFrame(
            [("abc def ghi",), ("xyz",)], "shingle string"
        )
        got = {
            (r.shingle, i): r.h
            for i in (0, 3, 31)
            for r in df.select(
                "shingle",
                D._minhash_member(i, F.col("shingle"), "md5").alias("h"),
            ).collect()
        }
        def rot(v: int, r: int) -> int:
            w = D.MINHASH_ROT_WIDTH
            return ((v << r) | (v >> (w - r))) & ((1 << w) - 1) if r else v

        for (s, i), h in got.items():
            h1 = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            h2 = int(hashlib.md5(f"kh2:{s}".encode()).hexdigest()[:15], 16)
            ra, rb = D._minhash_rots(i)
            assert h == rot(h1, ra) ^ rot(h2, rb), (s, i, h)

    def test_unknown_hash_fn_raises(self, spark):
        import pytest

        with pytest.raises(ValueError):
            D._minhash_member(0, F.lit("x"), "sha1")


class TestMd5PairParity:
    def test_md5_and_xx_modes_emit_the_same_verified_pairs(self, spark):
        docs = _corpus(spark)
        xx = {
            (r.doc_a, r.doc_b)
            for r in D.minhash_near_dup_pairs(
                docs, hash_fn="xx"
            ).collect()
        }
        md5 = {
            (r.doc_a, r.doc_b)
            for r in D.minhash_near_dup_pairs(
                docs, hash_fn="md5"
            ).collect()
        }
        assert md5 == xx
        # the planted twins are found (jaccard of "body + one token"
        # vs "body" is far above 0.5)
        for i in range(1, 9):
            assert (i, 1000 + i) in md5

    def test_md5_clusters_match_xx_clusters(self, spark):
        from etl_procedure_codes_crawler_spark.llm.cluster import (
            duplicate_clusters,
        )

        docs = _corpus(spark)
        lab = {}
        for mode in ("xx", "md5"):
            pairs = D.minhash_near_dup_pairs(
                docs, hash_fn=mode
            )
            lab[mode] = {
                r.doc_id: r.cluster_id
                for r in duplicate_clusters(
                    pairs, docs, id_col="doc_id"
                ).collect()
            }
        assert lab["md5"] == lab["xx"]
        assert lab["md5"][1001] == lab["md5"][1]


class TestMd5GroupSketch:
    def test_md5_sketch_estimate_within_error_floor(
        self, spark, exact_group_overlap
    ):
        docs = _corpus(spark)
        exact = {
            pair: r["jaccard"] for pair, r in exact_group_overlap(docs).items()
        }
        est = {
            (r.group_a, r.group_b): r.est_jaccard
            for r in OV.group_overlap_minhash(docs, hash_fn="md5").collect()
        }
        for pair, j in exact.items():
            # SE ~ 1/sqrt(64) = 0.125; allow 3 SE
            assert abs(est[pair] - j) <= 0.375, (pair, est[pair], j)

    def test_md5_sketch_is_deterministic_across_recomputes(self, spark):
        docs = _corpus(spark)
        a = sorted(
            tuple(r)
            for r in OV.group_minhash_signatures(
                docs, hash_fn="md5"
            ).select("group", F.col("sig").cast("string")).collect()
        )
        b = sorted(
            tuple(r)
            for r in OV.group_minhash_signatures(
                docs, hash_fn="md5"
            ).select("group", F.col("sig").cast("string")).collect()
        )
        assert a == b


class TestMd5Simhash:
    def test_md5_simhash_matches_pure_replica(self, spark):
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma alpha"), (2, "zeta eta theta")],
            "doc_id long, text string",
        )
        got = {
            r.id: r.simhash
            for r in D.simhash_signatures(docs, hash_fn="md5").collect()
        }
        for doc_id, text in ((1, "alpha beta gamma alpha"),
                             (2, "zeta eta theta")):
            votes = [0] * 60
            for tok in text.split():
                th = int(
                    hashlib.md5(f"s:{tok}".encode()).hexdigest()[:15], 16
                )
                for b in range(60):
                    votes[b] += 1 if (th >> b) & 1 else -1
            sig = sum(1 << b for b in range(60) if votes[b] > 0)
            assert got[doc_id] == sig, (doc_id, got[doc_id], sig)

    def test_identical_docs_pair_at_hamming_zero(self, spark):
        docs = spark.createDataFrame(
            [(i, f"body text {i} words " * 4, "s") for i in range(1, 15)]
            + [(101, "body text 1 words " * 4, "s")],
            "doc_id long, text string, source string",
        )
        pairs = {
            (r.doc_a, r.doc_b): r.hamming
            for r in D.simhash_near_dup_pairs(
                docs, max_hamming=3, hash_fn="md5"
            ).collect()
        }
        assert pairs.get((1, 101)) == 0
