"""Round-9 session-2 families: asymmetric containment, ratio-margin
pair mining, CCNet bucketing, and the oracled
KMV sketch — planted-case behavior plus accuracy floors the parity
replica cannot express (the oracle proves cross-engine equality, not
that the estimate is any GOOD; these tests pin the latter)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import dedup as D
from etl_procedure_codes_crawler_spark.llm import kmv as KV
from etl_procedure_codes_crawler_spark.llm import overlap as OV
from etl_procedure_codes_crawler_spark.llm import queries  # noqa: F401 — registers
from etl_procedure_codes_crawler_spark.llm import similarity as S
from etl_procedure_codes_crawler_spark.plans.relational import QUERIES


def _text(idx: list[int]) -> str:
    # distinct synthetic words — planted containment must not be
    # polluted by accidental shingle collisions from a tiny vocabulary
    return " ".join(f"w{i}" for i in idx)


class TestContainmentPairs:
    def test_fragment_inside_superset_found_where_jaccard_blind(self, spark):
        # doc 1 = a 12-token fragment; doc 2 = a 120-token article that
        # embeds it verbatim. Jaccard ~ 12/120 = 0.1 (invisible at 0.3);
        # containment(fragment -> article) = 1.0.
        frag = _text(list(range(12)))
        article = (
            _text(list(range(100, 160)))
            + " " + frag + " "
            + _text(list(range(200, 248)))
        )
        other = _text(list(range(300, 340)))
        df = spark.createDataFrame(
            [(1, frag), (2, article), (3, other)], ["doc_id", "text"]
        )
        rows = {
            (r["doc_a"], r["doc_b"]): r
            for r in D.ngram_containment_pairs(
                df, threshold=0.9, max_doc_freq=None
            ).collect()
        }
        assert (1, 2) in rows
        assert rows[(1, 2)]["containment_a_in_b"] == pytest.approx(1.0)
        # the reverse direction is small: the article is NOT inside the quote
        assert rows[(1, 2)]["containment_b_in_a"] < 0.35
        # jaccard at the same threshold would never have fired
        jac = D.ngram_jaccard_pairs(df, threshold=0.3).collect()
        assert not any(
            (r["doc_a"], r["doc_b"]) == (1, 2) for r in jac
        )

    def test_direction_identifies_the_fragment(self, spark):
        # symmetric near-dups contain each other; a fragment contains
        # one-way only
        a = _text(list(range(30)))
        df = spark.createDataFrame(
            [(1, a), (2, a + " zulu yankee xray whiskey victor")],
            ["doc_id", "text"],
        )
        (row,) = D.ngram_containment_pairs(df, threshold=0.5).collect()
        assert row["containment_a_in_b"] > row["containment_b_in_a"]


class TestMarginPairs:
    @staticmethod
    def _bruteforce(df, floor, k, margin_threshold):
        """Margin scoring over the exhaustive candidate scan: every
        pair at cosine >= ``floor``."""
        return S.margin_score_pairs(
            S._pairs_above(df, floor), k=k, margin_threshold=margin_threshold
        )

    def test_hub_vector_suppressed_isolated_pair_kept(self, spark):
        # hub h correlates ~equally with everything (margin ~= 1);
        # pair (a, b) is a tight match in an otherwise-cold neighborhood
        import numpy as np

        rng = np.random.RandomState(7)
        dim = 16
        hub = np.ones(dim)
        a = rng.randn(dim); a /= np.linalg.norm(a)
        b = a + 0.05 * rng.randn(dim)
        rows = [(0, [float(x) for x in hub])]
        rows.append((1, [float(x) for x in a]))
        rows.append((2, [float(x) for x in b]))
        # background: mild positive alignment with the hub so candidate
        # floor keeps hub pairs in the neighborhood stats
        for i in range(3, 11):
            v = hub / np.linalg.norm(hub) + 0.8 * rng.randn(dim)
            rows.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = self._bruteforce(
            df, floor=0.1, k=3, margin_threshold=1.25
        ).collect()
        kept = {(r["vec_a"], r["vec_b"]) for r in out}
        assert (1, 2) in kept
        # no hub pair survives the margin bar
        assert not any(0 in p for p in kept)

    def test_matches_oracle_style_replica(self, spark, sf_dir):
        # independent numpy replica of the full pipeline on real data
        import numpy as np

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        got = {
            (r["vec_a"], r["vec_b"]): (r["cosine"], r["margin"])
            for r in self._bruteforce(
                emb, floor=0.30, k=4, margin_threshold=1.1
            ).collect()
        }
        rows = emb.select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        X = np.array([r["embedding"] for r in rows], dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        C = Xn @ Xn.T
        n = len(ids)
        cand = {}
        neigh = {i: [] for i in range(n)}
        for i in range(n):
            for j in range(i + 1, n):
                if C[i, j] >= 0.30:
                    cand[(i, j)] = C[i, j]
                    neigh[i].append((C[i, j], ids[j]))
                    neigh[j].append((C[i, j], ids[i]))
        mean_top = {}
        for i, lst in neigh.items():
            lst.sort(key=lambda t: (-t[0], t[1]))
            if len(lst) >= 4:
                mean_top[i] = sum(c for c, _ in lst[:4]) / 4.0
        want = {}
        for (i, j), c in cand.items():
            if i in mean_top and j in mean_top:
                m = c / ((mean_top[i] + mean_top[j]) / 2.0)
                if m >= 1.1:
                    want[(ids[i], ids[j])] = (round(c, 4), round(m, 4))
        assert set(got) == set(want)
        for k in got:
            assert got[k][0] == pytest.approx(want[k][0], abs=1e-9)
            assert got[k][1] == pytest.approx(want[k][1], abs=1e-9)

    def test_ann_variant_recall_floor(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exact = {
            (r["vec_a"], r["vec_b"])
            for r in self._bruteforce(
                emb, floor=0.30, k=4, margin_threshold=1.1
            ).collect()
        }
        approx = {
            (r["vec_a"], r["vec_b"])
            for r in S.margin_pairs_ann(emb).collect()
        }
        assert approx  # non-degenerate at this SF
        if exact:
            recall = len(exact & approx) / len(exact)
            assert recall >= 0.6, (recall, len(exact), len(approx))


class TestKmvSketch:
    def test_distinct_estimate_within_theory_bound(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        est = {
            r["group"]: r["est_distinct"]
            for r in KV.kmv_distinct_by_group(docs).collect()
        }
        exact = {
            r["grp"]: r["n"]
            for r in OV._group_shingles(docs, "source", "text", 3)
            .groupBy("grp")
            .agg(F.countDistinct("shingle").alias("n"))
            .collect()
        }
        assert set(est) == set(exact)
        for g, e in est.items():
            # SE ~ 1/sqrt(k-2) ~ 12.7%; 4 sigma with a floor for tiny sets
            if exact[g] < 64:
                assert e == exact[g]  # exact mode
            else:
                assert abs(e - exact[g]) / exact[g] < 0.5, (g, e, exact[g])

    def test_overlap_estimates_track_exact_overlap(
        self, spark, sf_dir, exact_group_overlap
    ):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        est = {
            (r["group_a"], r["group_b"]): r
            for r in KV.kmv_overlap_pairs(docs).collect()
        }
        exact = exact_group_overlap(docs)
        # mean absolute jaccard error over pairs that exist in both
        common = set(est) & set(exact)
        assert common
        errs = [
            abs(est[p]["est_jaccard"] - exact[p]["jaccard"]) for p in common
        ]
        assert sum(errs) / len(errs) < 0.15
        for p in common:
            union = exact[p]["n_a"] + exact[p]["n_b"] - exact[p]["n_shared"]
            if union >= 64:
                assert abs(est[p]["est_union"] - union) / union < 0.6, (
                    p, est[p]["est_union"], union,
                )

    def test_store_incremental_equals_batch(self, spark, sf_dir, tmp_path):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        root = str(tmp_path / "kmv")
        KV.create_kmv_store(spark, root, k=64)
        KV.append_to_kmv_store(spark, root, docs.filter(F.col("doc_id") % 2 == 0))
        KV.append_to_kmv_store(spark, root, docs.filter(F.col("doc_id") % 2 == 1))
        inc = sorted(map(tuple, KV.kmv_store_estimates(spark, root).collect()))
        batch = sorted(map(tuple, KV.kmv_distinct_by_group(docs).collect()))
        assert inc == batch

    def test_store_replay_and_compaction_change_nothing(
        self, spark, sf_dir, tmp_path
    ):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        root = str(tmp_path / "kmv")
        KV.create_kmv_store(spark, root, k=64)
        half = docs.filter(F.col("doc_id") % 2 == 0)
        KV.append_to_kmv_store(spark, root, half)
        before = sorted(map(tuple, KV.kmv_store_estimates(spark, root).collect()))
        KV.append_to_kmv_store(spark, root, half)  # crash replay
        after_replay = sorted(
            map(tuple, KV.kmv_store_estimates(spark, root).collect())
        )
        assert before == after_replay
        KV.compact_kmv_store(spark, root)
        after_compact = sorted(
            map(tuple, KV.kmv_store_estimates(spark, root).collect())
        )
        assert before == after_compact
        # compaction actually shrank the segment file count
        import glob

        files = glob.glob(f"{root}/minima/*.parquet")
        assert len(files) == 1

    def test_union_sketch_exact_mode_for_tiny_sets(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a b c d e", "s1"),
                (2, "c d e f g", "s2"),
            ],
            ["doc_id", "text", "source"],
        )
        (row,) = KV.kmv_overlap_pairs(df).collect()
        # 3 shingles each, sharing exactly one ("c d e"): union 5,
        # intersection 1 — below k the sketch IS the set, so exact
        assert row["est_union"] == 5.0
        assert row["est_intersection"] == pytest.approx(1.0)
        assert row["est_jaccard"] == pytest.approx(0.2)


class TestPoissonBootstrap:
    def test_interval_brackets_mean_and_tracks_spread(self, spark):
        from etl_procedure_codes_crawler_spark.llm import bootstrap as BS

        # a tight group (constant values) and a dispersed one
        rows = [(i, "tight", 50) for i in range(40)] + [
            (100 + i, "wide", (i % 10) * 20) for i in range(40)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "source", "v"])
        out = {
            r["group"]: r
            for r in BS.bootstrap_ci_by_group(df, "v").collect()
        }
        assert sorted(out) == ["tight", "wide"]
        for g, r in out.items():
            values = [v for _, src, v in rows if src == g]
            mean = sum(values) / len(values)
            assert r["ci_lo"] <= mean <= r["ci_hi"], (mean, r)
        # a constant group's bootstrap interval is degenerate at the mean
        assert out["tight"]["ci_lo"] == out["tight"]["ci_hi"] == 50.0
        # the dispersed group has genuine width
        assert out["wide"]["ci_hi"] - out["wide"]["ci_lo"] > 1.0

    def test_width_shrinks_with_group_size(self, spark):
        from etl_procedure_codes_crawler_spark.llm import bootstrap as BS

        import numpy as np

        rng = np.random.RandomState(11)
        small = [(i, "small", int(rng.randint(10, 200))) for i in range(20)]
        big = [
            (1000 + i, "big", int(rng.randint(10, 200))) for i in range(500)
        ]
        df = spark.createDataFrame(small + big, ["doc_id", "source", "v"])
        out = {
            r["group"]: r["ci_hi"] - r["ci_lo"]
            for r in BS.bootstrap_ci_by_group(df, "v").collect()
        }
        assert out["big"] < out["small"]

    def test_weights_are_poisson1_like(self, spark):
        from etl_procedure_codes_crawler_spark.llm import bootstrap as BS
        from pyspark.sql import functions as F

        df = spark.range(4000).select(
            F.col("id").cast("string").alias("k")
        )
        w = df.select(
            BS.poisson1_weight(BS.u60(F.col("k"))).alias("w")
        )
        stats = w.agg(
            F.avg("w").alias("mean"), F.variance("w").alias("var")
        ).first()
        # Poisson(1): mean = var = 1 (tolerances for n=4000)
        assert abs(stats["mean"] - 1.0) < 0.08
        assert abs(stats["var"] - 1.0) < 0.15


class TestCcnetBuckets:
    def test_buckets_partition_each_lang_into_thirds(self, spark, sf_dir):
        out = QUERIES["ccnet_bucket_documents"](spark, sf_dir)
        counts = {
            (r["lang"], r["bucket"]): r["n"]
            for r in out.groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        langs = {l for l, _ in counts}
        for lang in langs:
            sizes = [counts.get((lang, b), 0) for b in ("head", "middle", "tail")]
            assert max(sizes) - min(sizes) <= 1, (lang, sizes)

    def test_head_has_higher_typicality_than_tail(self, spark, sf_dir):
        out = QUERIES["ccnet_bucket_documents"](spark, sf_dir)
        agg = {
            (r["lang"], r["bucket"]): r["m"]
            for r in out.groupBy("lang", "bucket")
            .agg(F.min("typicality").alias("m"))
            .collect()
        }
        for (lang, bucket), m in agg.items():
            if bucket == "head":
                assert m >= agg[(lang, "tail")]


class TestBlocklist:
    def test_automaton_counts_overlaps_and_classic_cases(self):
        from etl_procedure_codes_crawler_spark.llm.blocklist import (
            build_automaton,
            scan_text,
        )

        a = build_automaton(["aa", "ab", "aab", "b"])
        assert scan_text("aaab", a) == [2, 1, 1, 1]
        a2 = build_automaton(["he", "she", "his", "hers"])
        assert scan_text("ushers", a2) == [1, 1, 0, 1]
        assert scan_text("aaaaa", build_automaton(["aaa"])) == [3]

    def test_scan_matches_per_pattern_python_count(self, spark):
        from etl_procedure_codes_crawler_spark.llm import blocklist as BL

        texts = [
            (1, "spam ham spam spam eggs"),
            (2, "ham ham ham"),
            (3, None),
            (4, ""),
        ]
        df = spark.createDataFrame(texts, "doc_id bigint, text string")
        phrases = ["spam", "ham ham", "eggs"]
        got = {
            r["id"]: (r["n_hits"], r["n_phrases_hit"])
            for r in BL.scan_blocklist(df, phrases).collect()
        }

        def count_overlap(t, p):
            return sum(
                1 for i in range(len(t) - len(p) + 1) if t[i:i + len(p)] == p
            )

        for doc_id, text in texts:
            t = text or ""
            counts = [count_overlap(t, p) for p in phrases]
            assert got[doc_id] == (
                sum(counts),
                sum(1 for c in counts if c > 0),
            ), (doc_id, counts)
        # "ham ham ham" contains "ham ham" twice (overlapping)
        assert got[2] == (2, 1)

    def test_phrase_list_is_deterministic(self, spark, sf_dir):
        from etl_procedure_codes_crawler_spark.llm import blocklist as BL

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert BL.top_trigram_phrases(docs) == BL.top_trigram_phrases(docs)


class TestChiSquareDrift:
    """The per-source chi-square contributions of the streamed drift
    statistic (even-id reference half vs odd-id current half)."""

    def _run(self, spark, rows):
        from etl_procedure_codes_crawler_spark.plans.relational import QUERIES
        import tempfile, shutil, os

        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        tmp = tempfile.mkdtemp()
        try:
            df.write.mode("overwrite").parquet(
                os.path.join(tmp, "documents.parquet")
            )
            return {
                r["source"]: r
                for r in QUERIES["streaming_chi_square_drift"](
                    spark, tmp
                ).collect()
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_zero_when_all_sources_proportional(self, spark):
        rows = [
            (0, " ".join(["a"] * 10), "s1"),
            (1, " ".join(["a"] * 10), "s1"),
            (2, " ".join(["a"] * 20), "s2"),
            (3, " ".join(["a"] * 20), "s2"),
        ]
        out = self._run(spark, rows)
        for r in out.values():
            assert r["chi2_contrib"] == pytest.approx(0.0, abs=1e-9)

    def test_shifted_source_dominates_the_statistic(self, spark):
        rows = [
            (0, " ".join(["a"] * 10), "s1"),
            (1, " ".join(["a"] * 10), "s1"),
            (2, " ".join(["a"] * 20), "s2"),
            (3, " ".join(["a"] * 20), "s2"),
            (4, " ".join(["a"] * 30), "s3"),  # even half only
        ]
        out = self._run(spark, rows)
        assert all(r["chi2_contrib"] >= 0 for r in out.values())
        # the genuinely shifted source carries the largest contribution
        assert out["s3"]["chi2_contrib"] == max(
            r["chi2_contrib"] for r in out.values()
        )
        assert out["s3"]["chi2_contrib"] > 1.0
