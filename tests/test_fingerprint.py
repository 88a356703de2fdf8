"""Winnowing rolling-hash fingerprints (llm/fingerprint.py): the
MOSS guarantee, edit locality, stop-fingerprint capping."""

from __future__ import annotations

from etl_procedure_codes_crawler_spark.llm import fingerprint as FP


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


SHARED = "the winnowing guarantee covers any run of twenty-three chars"
PAD_A = "completely unrelated prefix material about spark physical plans "
PAD_B = "different framing text discussing parquet footer statistics and "


class TestWinnowFingerprints:
    def test_guarantee_shared_run_shares_fingerprint(self, spark):
        """Any shared normalized substring of length k+window-1 (=23)
        must produce at least one shared fingerprint — the winnowing
        selection guarantee."""
        df = _docs(
            spark,
            [(1, PAD_A + SHARED), (2, PAD_B + SHARED + " plus a suffix")],
        )
        fps = FP.winnow_fingerprints(df)
        by_doc = {}
        for r in fps.collect():
            by_doc.setdefault(r.id, set()).add(r.fingerprint)
        assert by_doc[1] & by_doc[2], "shared 23+-char run must collide"

    def test_unrelated_docs_share_nothing(self, spark):
        df = _docs(
            spark,
            [
                (1, "alpha bravo charlie delta echo foxtrot golf hotel india"),
                (2, "zulu yankee xray whiskey victor uniform tango sierra"),
            ],
        )
        fps = FP.winnow_fingerprints(df)
        by_doc = {}
        for r in fps.collect():
            by_doc.setdefault(r.id, set()).add(r.fingerprint)
        assert not (by_doc.get(1, set()) & by_doc.get(2, set()))

    def test_short_and_null_docs_yield_no_rows(self, spark):
        df = _docs(spark, [(1, "tiny"), (2, None), (3, "   ")])
        assert FP.winnow_fingerprints(df).count() == 0

    def test_fingerprints_are_normalization_invariant(self, spark):
        df = _docs(
            spark,
            [(1, "Some  Document\tWith   odd SPACING here to fingerprint"),
             (2, "some document with odd spacing here to fingerprint")],
        )
        rows = FP.winnow_fingerprints(df).collect()
        a = sorted(r.fingerprint for r in rows if r.id == 1)
        b = sorted(r.fingerprint for r in rows if r.id == 2)
        assert a == b and a

    def test_deterministic_across_partitionings(self, spark):
        rows = [(i, f"document number {i} shares this long boilerplate tail "
                    "that every page of the crawl carries") for i in range(20)]
        one = sorted(map(tuple, FP.winnow_fingerprints(_docs(spark, rows)).collect()))
        other = sorted(
            map(
                tuple,
                FP.winnow_fingerprints(
                    _docs(spark, rows[::-1]).repartition(7)
                ).collect(),
            )
        )
        assert one == other


class TestWinnowOverlapPairs:
    def test_contaminated_pair_found_unrelated_not(self, spark):
        df = _docs(
            spark,
            [
                (1, PAD_A + SHARED),
                (2, PAD_B + SHARED),
                (3, "entirely novel corpus content with no quoted overlap at "
                    "all in any window of it"),
            ],
        )
        pairs = {
            (r.doc_a, r.doc_b): r.shared_fps
            for r in FP.winnow_overlap_pairs(df, min_shared=1).collect()
        }
        assert (1, 2) in pairs
        assert all(3 not in p for p in pairs)

    def test_stop_fingerprints_capped_by_max_df(self, spark):
        """A fingerprint present in every doc (boilerplate) must be
        dropped once the corpus exceeds max_df — no quadratic pair
        blow-up from a universal footer."""
        boiler = " all pages carry this exact same legal footer text block"
        # per-doc unique letter runs so even the k-grams SPANNING the
        # body/footer boundary are unique per doc — only the footer
        # itself is shared, and it is shared by all 26 docs
        rows = [(i, "abcdefghijklmnopqrstuvwxyz"[i] * 30 + boiler)
                for i in range(26)]
        pairs = FP.winnow_overlap_pairs(
            _docs(spark, rows), min_shared=1, max_df=10
        ).count()
        # the footer fingerprints exceed df=10 → dropped; the unique
        # bodies share nothing → no pairs at all
        assert pairs == 0
        # same corpus, cap lifted: the 26-doc footer clique appears
        uncapped = FP.winnow_overlap_pairs(
            _docs(spark, rows), min_shared=1, max_df=1000
        ).count()
        assert uncapped == 26 * 25 // 2
