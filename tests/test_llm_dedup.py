"""Semantic tests for the dedup family on synthetic corpora with
KNOWN duplicates (the testdata has none exact, so these prove the
operators actually catch what they claim to)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import dedup as D

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The  Quick Brown Fox jumps over the lazy dog"),   # exact dup after normalization
    (2, "the quick brown fox jumps over the lazy cat"),    # near dup (1 token differs)
    (3, "spark shuffles partition data across the cluster fabric"),
    (4, "completely different content about query optimizers here"),
    (5, "the quick brown fox jumps over the lazy dog"),    # exact dup of 0
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicate_groups(spark):
    groups = D.exact_duplicate_groups(_docs(spark)).collect()
    by_copies = sorted((g.n_copies, g.first_id) for g in groups)
    # {0,1,5} collapse to one group (case/whitespace-normalized)
    assert by_copies == [(1, 2), (1, 3), (1, 4), (3, 0)]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    }
    # 0/1/5 identical after tokenization? No — shingles are case-sensitive
    # here (doc 1 differs in case), but 0 and 5 are identical: jaccard 1.0
    assert pairs[(0, 5)] == 1.0
    # 0 vs 2: 7 shingles each, 6 shared (only the final shingle changes)
    # → 6 / (7+7-6) = 0.75
    assert abs(pairs[(0, 2)] - 0.75) < 1e-12


def test_minhash_catches_identical_and_near_pairs(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_near_dup_pairs(_docs(spark)).collect()
    }
    assert pairs[(0, 5)] == 1.0            # identical docs always collide
    assert (0, 2) in pairs                 # j=0.56 ≥ 0.5 and LSH found it
    assert (0, 3) not in pairs             # unrelated docs


def test_minhash_lsh_is_subset_of_candidates_with_verification(spark):
    cands = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_candidate_pairs(_docs(spark)).collect()
    }
    verified = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_near_dup_pairs(_docs(spark)).collect()
    }
    assert verified <= cands


def test_simhash_identical_docs_distance_zero(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_near_dup_pairs(_docs(spark), max_hamming=10).collect()
    }
    assert pairs[(0, 5)] == 0
    sigs = {r.id: r.simhash for r in D.simhash_signatures(_docs(spark)).collect()}
    assert sigs[0] == sigs[5]
    assert sigs[0] != sigs[4]


def test_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([(9, "one two")], "doc_id long, text string")
    rows = D.shingle_rows(df).collect()
    assert [(r.id, r.shingle) for r in rows] == [(9, "one two")]


# ---------------------------------------------------------------------------
# adversarial skew: degenerate buckets and stop shingles must not go
# quadratic (VERDICT r1 "What's wrong" #1/#2)
# ---------------------------------------------------------------------------

def _identical_corpus(spark, n, text="same boilerplate text repeated in every document here"):
    return spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )


def test_minhash_degenerate_bucket_is_star_capped(spark):
    """n identical docs share every band bucket; all-pairs would be
    n(n-1)/2 rows in one task. With the cap, output is linear (the
    star: min-id hub vs everyone) and connectivity is preserved."""
    n = 400
    docs = _identical_corpus(spark, n)
    pairs = D.minhash_lsh_candidate_pairs(docs, max_bucket_size=50).collect()
    # linear, not quadratic: star emits exactly n-1 distinct pairs
    assert len(pairs) == n - 1
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(0, i) for i in range(1, n)}


def test_minhash_small_buckets_unaffected_by_cap(spark):
    docs = _docs(spark)
    capped = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_candidate_pairs(docs, max_bucket_size=5000).collect()
    }
    tiny_cap = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_candidate_pairs(docs, max_bucket_size=2).collect()
    }
    # with 6 docs every bucket is <= 3 members; cap=5000 is a no-op,
    # and even cap=2 keeps the identical pair reachable via the star
    assert (0, 5) in capped and (0, 5) in tiny_cap


def test_minhash_capped_pipeline_still_clusters_identicals(spark):
    """End-to-end: star-capped candidates -> jaccard verify -> one
    cluster containing all identical docs."""
    from etl_procedure_codes_crawler_spark.llm.cluster import duplicate_clusters

    n = 120
    docs = _identical_corpus(spark, n)
    pairs = D.minhash_near_dup_pairs(docs)
    clusters = duplicate_clusters(pairs, docs, id_col="doc_id")
    assert {r.cluster_id for r in clusters.collect()} == {0}


def test_simhash_degenerate_bucket_is_star_capped(spark):
    n = 300
    docs = _identical_corpus(spark, n)
    pairs = D.simhash_near_dup_pairs(docs, max_hamming=3, max_bucket_size=40).collect()
    assert len(pairs) == n - 1  # star, not n(n-1)/2
    assert all(r.hamming == 0 for r in pairs)


def test_jaccard_df_cap_drops_stop_shingles_keeps_true_pairs(spark):
    """A boilerplate shingle shared by every doc would emit n^2 rows;
    with the df cap it is dropped, while genuinely similar pairs
    (sharing low-df shingles) keep jaccard >= threshold."""
    boiler = "copyright acme corp all rights reserved"
    rows = [
        (0, f"the quick brown fox jumps over the lazy dog {boiler}"),
        (1, f"the quick brown fox jumps over the lazy dog {boiler}"),
    ] + [
        (i, f"unique document number {i} talks about topic {i * 7} {boiler}")
        for i in range(2, 40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=5
        ).collect()
    }
    # 0/1 still found (their shingles are shared by only 2 docs)
    assert pairs[(0, 1)] == 1.0
    # boilerplate-only overlaps are gone: no pair among the unique docs
    assert all(a in (0, 1) and b in (0, 1) for (a, b) in pairs)


def test_jaccard_df_cap_none_matches_uncapped(spark):
    docs = _docs(spark)
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    high_cap = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=10**6).collect()
    }
    assert uncapped == high_cap


def test_incremental_dedup_new_docs(spark):
    """New-batch survivors: within-batch dedup to min id, then drop
    anything whose content the snapshot already holds — including
    normalization-equal content (case/whitespace)."""
    snapshot = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "existing snapshot document about join strategies"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (200, "THE QUICK  brown fox jumps over the lazy dog"),  # in snapshot (normalized)
            (201, "fresh content the snapshot has never seen"),
            (202, "fresh content the snapshot has never seen"),     # within-batch dup of 201
            (203, "another brand new document entirely"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r.first_id
        for r in D.incremental_dedup_new_docs(batch, snapshot).collect()
    }
    assert kept == {201, 203}


def test_pii_redact_transform(spark):
    """Redaction on constructed PII (the driver corpus is clean, so
    the gate row only proves identity round-trip; this pins the
    actual transform)."""
    from etl_procedure_codes_crawler_spark.plans.relational import QUERIES

    import etl_procedure_codes_crawler_spark.llm.queries as Q

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.org or 10.0.0.1 ok"),
            (2, "card 4111111111111111 twice 123456789"),
            (3, "nothing sensitive here"),
        ],
        "doc_id bigint, text string",
    )
    from pyspark.sql import functions as F

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), Q.PII_EMAIL, "[EMAIL]"),
            Q.PII_IPV4,
            "[IP]",
        ),
        Q.PII_LONG_NUMBER,
        "[NUM]",
    )
    got = {r.doc_id: r.red for r in df.select("doc_id", redacted.alias("red")).collect()}
    assert got[1] == "mail me at [EMAIL] or [IP] ok"
    assert got[2] == "card [NUM] twice [NUM]"
    assert got[3] == "nothing sensitive here"


class TestDuplicateSpans:
    def _spans(self, spark, rows, min_len=3, cap=64):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return sorted(
            map(
                tuple,
                D.duplicate_spans(
                    df, min_len=min_len, max_gram_freq=cap
                ).collect(),
            )
        )

    def test_single_maximal_span_with_positions(self, spark):
        # docs share "c d e f g" (5 tokens) at positions 3 and 1
        rows = [
            (1, "a b c d e f g h"),
            (2, "c d e f g x y z"),
        ]
        assert self._spans(spark, rows, min_len=3) == [(1, 2, 3, 1, 5)]

    def test_two_separate_runs_are_two_spans(self, spark):
        # shared: "p q r" at (1,1) and "x y z" at (5,4) — distinct
        # diagonals, so two spans even though both are 3 tokens
        rows = [
            (1, "p q r m n x y z"),
            (2, "p q r o x y z"),
        ]
        got = self._spans(spark, rows, min_len=3)
        assert got == [(1, 2, 1, 1, 3), (1, 2, 6, 5, 3)]

    def test_run_shorter_than_min_len_not_reported(self, spark):
        rows = [(1, "a b c d"), (2, "a b x y")]
        assert self._spans(spark, rows, min_len=3) == []

    def test_maximality_no_sub_spans(self, spark):
        # a 6-token shared run must yield ONE span of 6, not the four
        # constituent 3-gram matches
        rows = [(1, "u v w x y z"), (2, "u v w x y z")]
        assert self._spans(spark, rows, min_len=3) == [(1, 2, 1, 1, 6)]

    def test_gram_freq_cap_drops_boilerplate(self, spark):
        # the same 3 tokens in 10 docs → posting list 10 > cap 8 →
        # nothing reported; under a generous cap all 45 pairs appear
        rows = [(i, "same old line") for i in range(10)]
        assert self._spans(spark, rows, min_len=3, cap=8) == []
        assert len(self._spans(spark, rows, min_len=3, cap=64)) == 45

    def test_repeated_gram_within_doc_keeps_diagonals_apart(self, spark):
        # doc 1 contains the shared run twice; each occurrence aligns
        # with doc 2's single copy on its own diagonal
        rows = [(1, "k l m z z k l m"), (2, "k l m")]
        got = self._spans(spark, rows, min_len=3)
        assert got == [(1, 2, 1, 1, 3), (1, 2, 6, 1, 3)]


class TestRemoveDuplicateSpans:
    def _clean(self, spark, rows, min_len=3, cap=64):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return {
            r.doc_id: (r.text_clean, r.n_tokens_removed)
            for r in D.remove_duplicate_spans(
                df, min_len=min_len, max_gram_freq=cap
            ).collect()
        }

    def test_higher_id_loses_the_span_lower_keeps_it(self, spark):
        rows = [
            (1, "a b c d e f g h"),
            (2, "c d e f g x y z"),
        ]
        got = self._clean(spark, rows, min_len=3)
        assert got[1] == ("a b c d e f g h", 0)
        assert got[2] == ("x y z", 5)

    def test_overlapping_spans_union_not_double_count(self, spark):
        # doc 3 duplicates from BOTH 1 and 2; overlapping doomed
        # positions must be removed once
        rows = [
            (1, "a b c d e"),
            (2, "c d e f g"),
            (3, "a b c d e f g"),
        ]
        got = self._clean(spark, rows, min_len=3)
        assert got[3] == ("", 7)
        # doc 2 also shares "c d e" with doc 1
        assert got[2] == ("f g", 3)
        assert got[1] == ("a b c d e", 0)

    def test_untouched_docs_pass_through_token_normalized(self, spark):
        rows = [(1, "  lone   doc  here "), (2, "another one entirely")]
        got = self._clean(spark, rows, min_len=3)
        assert got[1] == ("lone doc here", 0)
        assert got[2] == ("another one entirely", 0)

    def test_precomputed_spans_accepted(self, spark):
        rows = [(1, "a b c d"), (2, "a b c d")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        spans = D.duplicate_spans(df, min_len=3)
        got = {
            r.doc_id: (r.text_clean, r.n_tokens_removed)
            for r in D.remove_duplicate_spans(df, spans=spans).collect()
        }
        assert got == {1: ("a b c d", 0), 2: ("", 4)}

    def test_null_text_passes_through_as_null(self, spark):
        rows = [(1, None), (2, "a b c d"), (3, "a b c d")]
        got = self._clean(spark, rows, min_len=3)
        assert got[1] == (None, 0)
        assert got[2] == ("a b c d", 0)
        assert got[3] == ("", 4)


class TestDuplicateSpansForPairs:
    def test_all_pairs_reproduces_full_result(self, spark, sf_dir):
        """Fed every doc pair, the pair-scoped path must equal the
        posting-list path without its cap — same spans, same
        positions."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        full = D.duplicate_spans(
            docs, min_len=8, max_gram_freq=10**9
        ).collect()
        all_pairs = (
            D.duplicate_spans(docs, min_len=8, max_gram_freq=10**9)
            .select("doc_a", "doc_b")
            .dropDuplicates()
        )
        scoped = D.duplicate_spans_for_pairs(
            docs, all_pairs, min_len=8
        ).collect()
        assert sorted(map(tuple, scoped)) == sorted(map(tuple, full))

    def test_reversed_pairs_normalize(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")],
            "doc_id bigint, text string",
        )
        rev = spark.createDataFrame([(2, 1)], "doc_a bigint, doc_b bigint")
        got = D.duplicate_spans_for_pairs(df, rev, min_len=3).collect()
        assert [tuple(r) for r in got] == [(1, 2, 1, 1, 5)]

    def test_lsh_scoped_is_subset_with_recall(self, spark, sf_dir):
        import etl_procedure_codes_crawler_spark.llm.queries  # noqa: F401
        from etl_procedure_codes_crawler_spark.plans.relational import QUERIES

        full = {
            tuple(r)
            for r in QUERIES["duplicate_spans_documents"](
                spark, sf_dir
            ).collect()
        }
        scoped = {
            tuple(r)
            for r in QUERIES["duplicate_spans_lsh_scoped"](
                spark, sf_dir
            ).collect()
        }
        # scoped may additionally see spans the full path's gram cap
        # suppressed; restrict the subset check to capped-visible pairs
        full_pairs = {(a, b) for a, b, *_ in full}
        assert {s for s in scoped if (s[0], s[1]) in full_pairs} <= full
        if full:
            recall = len(scoped & full) / len(full)
            assert recall >= 0.5, f"LSH-scoped span recall {recall:.2f}"

    def test_lsh_prod_is_subset_with_recall(self, spark, sf_dir):
        """The xx-mode benched twin (round 12): same structural
        contract as the md5 oracle row — spans ⊆ the full path on
        cap-visible pairs, recall floor over planted duplicates."""
        import etl_procedure_codes_crawler_spark.llm.queries  # noqa: F401
        from etl_procedure_codes_crawler_spark.plans.relational import QUERIES

        full = {
            tuple(r)
            for r in QUERIES["duplicate_spans_documents"](
                spark, sf_dir
            ).collect()
        }
        scoped = {
            tuple(r)
            for r in QUERIES["duplicate_spans_lsh_prod"](
                spark, sf_dir
            ).collect()
        }
        full_pairs = {(a, b) for a, b, *_ in full}
        assert {s for s in scoped if (s[0], s[1]) in full_pairs} <= full
        if full:
            recall = len(scoped & full) / len(full)
            assert recall >= 0.5, f"xx-mode span recall {recall:.2f}"


class TestIntraDocRepeats:
    """The within-document block dedup columns
    (dedup.intra_doc_kept_blocks) the funnel capstones project."""

    @staticmethod
    def _select(df, block=8):
        n_blocks, kept = D.intra_doc_kept_blocks(block)
        return df.select(
            "doc_id",
            F.when(F.col("text").isNull(), 0).otherwise(n_blocks).alias("n_blocks"),
            F.coalesce(F.size(kept), F.lit(0)).alias("n_kept"),
            F.array_join(kept, " ").alias("text_clean"),
        )

    def _run(self, spark, rows, block=2):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return {r.doc_id: r for r in self._select(df, block).collect()}

    def test_repeats_removed_first_kept(self, spark):
        out = self._run(spark, [(1, "a b c d a b e f")])
        r = out[1]
        assert r.n_blocks == 4 and r.n_kept == 3
        assert r.text_clean == "a b c d e f"

    def test_partial_tail_block_preserved(self, spark):
        out = self._run(spark, [(1, "a b a b c")])
        # blocks: "a b", "a b", "c" -> keep "a b", "c"
        assert out[1].n_blocks == 3 and out[1].n_kept == 2
        assert out[1].text_clean == "a b c"

    def test_unique_doc_untouched(self, spark):
        out = self._run(spark, [(1, "w x y z")])
        assert out[1].n_kept == out[1].n_blocks == 2
        assert out[1].text_clean == "w x y z"

    def test_null_text_passes_through(self, spark):
        out = self._run(spark, [(1, None), (2, "a b a b")])
        assert out[1].text_clean is None
        assert out[1].n_blocks == 0 and out[1].n_kept == 0
        assert out[2].text_clean == "a b"

    def test_zero_shuffle_no_python(self, spark):
        df = spark.createDataFrame([(1, "a b a b")], "doc_id bigint, text string")
        plan = (
            self._select(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestBoilerplatePassageRemoval:
    def test_frequent_passages_stripped_order_preserved(self, spark):
        from etl_procedure_codes_crawler_spark.llm.dedup import (
            remove_boilerplate_passages,
        )

        boiler = "subscribe to our newsletter"
        rows = [(i, f"unique words {i} here {boiler}") for i in range(1, 8)]
        rows.append((100, f"{boiler} opening then unique tail {100}"))
        rows.append((200, "entirely clean document nothing shared"))
        rows.append((300, None))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.id: (r.n_passages, r.n_removed, r.text_clean)
            for r in remove_boilerplate_passages(
                df, min_doc_freq=5, block=4
            ).collect()
        }
        assert len(out) == 10  # nobody vanishes, incl. the NULL doc
        # doc 1: "unique words 1 here" kept, the boiler block removed
        n, rm, clean = out[1]
        assert (n, rm) == (2, 1) and clean == "unique words 1 here"
        # boiler at the FRONT: the unique tail survives in order
        n, rm, clean = out[100]
        assert rm == 1 and clean == "opening then unique tail 100"
        # clean doc untouched
        assert out[200] == (2, 0, "entirely clean document nothing shared")
        # NULL text passes through untouched with zero counts
        assert out[300] == (0, 0, None)

    def test_fully_boilerplate_doc_comes_back_empty(self, spark):
        from etl_procedure_codes_crawler_spark.llm.dedup import (
            remove_boilerplate_passages,
        )

        rows = [(i, "same four word block") for i in range(1, 9)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = remove_boilerplate_passages(df, min_doc_freq=5, block=5).collect()
        assert all(r.text_clean == "" and r.n_removed == r.n_passages == 1
                   for r in out)


class TestPassageFreqStore:
    def test_incremental_counts_equal_full_corpus(self, spark, tmp_path):
        """Two appends must sum to the one-shot frequencies, and the
        store strip must equal the batch operator bit for bit."""
        from etl_procedure_codes_crawler_spark.llm import passagefreq as PF
        from etl_procedure_codes_crawler_spark.llm.dedup import (
            remove_boilerplate_passages,
        )

        boiler = "subscribe to our newsletter"
        docs = spark.createDataFrame(
            [(i, f"unique words {i} here {boiler}") for i in range(1, 10)],
            "doc_id long, text string",
        )
        store = str(tmp_path / "store")
        PF.create_passage_freq_store(spark, store, block=4)
        PF.append_passage_counts(spark, store, docs.filter("doc_id < 5"))
        PF.append_passage_counts(spark, store, docs.filter("doc_id >= 5"))
        freqs = {
            r.fp: r.df for r in PF.read_passage_freqs(spark, store).collect()
        }
        assert max(freqs.values()) == 9  # the boiler block, all docs
        via_store = sorted(
            (r.id, r.n_passages, r.n_removed, r.text_clean)
            for r in PF.strip_boilerplate_against_store(
                spark, store, docs, min_doc_freq=5
            ).collect()
        )
        via_batch = sorted(
            (r.id, r.n_passages, r.n_removed, r.text_clean)
            for r in remove_boilerplate_passages(
                docs, min_doc_freq=5, block=4
            ).collect()
        )
        assert via_store == via_batch
        assert all(rm == 1 for _i, _n, rm, _t in via_store)

    def test_unseen_passages_never_stripped(self, spark, tmp_path):
        from etl_procedure_codes_crawler_spark.llm import passagefreq as PF

        store = str(tmp_path / "store")
        PF.create_passage_freq_store(spark, store, block=4)
        fresh = spark.createDataFrame(
            [(1, "never seen words entirely new")],
            "doc_id long, text string",
        )
        out = PF.strip_boilerplate_against_store(
            spark, store, fresh, min_doc_freq=1
        ).first()
        assert out.n_removed == 0
        assert out.text_clean == "never seen words entirely new"

    def test_replayed_append_does_not_inflate_counts(self, spark, tmp_path):
        """Crash-replay: the same batch re-offered (same derived or
        caller-supplied batch id) must leave frequencies unchanged —
        a version-1 store double-counted here, which could strip
        non-boilerplate passages corpus-wide."""
        from etl_procedure_codes_crawler_spark.llm import passagefreq as PF

        store = str(tmp_path / "store")
        PF.create_passage_freq_store(spark, store, block=4)
        docs = spark.createDataFrame(
            [(i, "shared boiler block here") for i in range(1, 4)],
            "doc_id long, text string",
        )
        PF.append_passage_counts(spark, store, docs)
        before = sorted(
            (r.fp, r.df)
            for r in PF.read_passage_freqs(spark, store).collect()
        )
        # replay without an explicit id: the id derives from the doc set
        PF.append_passage_counts(spark, store, docs)
        # replay with a durable caller-supplied id
        PF.append_passage_counts(spark, store, docs, batch_id="epoch-7")
        PF.append_passage_counts(spark, store, docs, batch_id="epoch-7")
        after = sorted(
            (r.fp, r.df)
            for r in PF.read_passage_freqs(spark, store).collect()
        )
        # the derived-id replay collapses; the distinct "epoch-7" batch
        # counts once (the caller broke the once-per-doc contract for
        # it, deliberately, to pin that DISTINCT ids still sum)
        assert [df for _fp, df in before] == [3]
        assert [df for _fp, df in after] == [6]
        # a true same-id replay is invisible end to end
        PF.append_passage_counts(spark, store, docs, batch_id="epoch-7")
        final = sorted(
            (r.fp, r.df)
            for r in PF.read_passage_freqs(spark, store).collect()
        )
        assert final == after

    def test_version1_store_refused(self, spark, tmp_path):
        import json as _json

        from etl_procedure_codes_crawler_spark.llm import passagefreq as PF

        store = str(tmp_path / "store")
        PF.create_passage_freq_store(spark, store, block=4)
        stale = {"block": 4, "version": 1}
        spark.createDataFrame(
            [(_json.dumps(stale),)], "meta string"
        ).repartition(1).write.mode("overwrite").parquet(store + "/meta")
        with pytest.raises(PF.PassageFreqStoreVersionError, match="version 1"):
            PF.load_passage_freq_meta(spark, store)
