"""Persisted MinHash store: incremental near-dup at ingest
(llm/neardup_store.py)."""

from __future__ import annotations

import pytest

from etl_procedure_codes_crawler_spark.llm import neardup_store as NS


BASE = (
    "the quick brown fox jumps over the lazy dog and keeps running "
    "through the quiet green field toward the old stone bridge"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture()
def store(spark, tmp_path):
    """Snapshot: the base doc + unrelated docs."""
    path = str(tmp_path / "store")
    snapshot = _docs(
        spark,
        [
            (0, BASE),
            (1, "completely different material about spark physical plans"),
            (2, "yet another unrelated document mentioning parquet footers"),
        ],
    )
    NS.build_minhash_store(snapshot, path)
    return path


def test_near_dup_found_and_unrelated_not(spark, store):
    new = _docs(
        spark,
        [
            # near-dup of doc 0: one word changed
            (10, BASE.replace("lazy", "sleepy")),
            # unrelated
            (11, "totally fresh content with no overlap whatsoever here"),
        ],
    )
    hits = NS.near_dups_against_store(spark, store, new, threshold=0.5)
    got = {(r.new_id, r.snapshot_id): r.est_jaccard for r in hits.collect()}
    assert (10, 0) in got, got
    assert got[(10, 0)] >= 0.5
    assert all(nid != 11 for nid, _ in got), got


def test_estimate_tracks_true_jaccard(spark, store):
    """The signature-agreement estimate must be in the right
    neighborhood of true shingle Jaccard for an exact duplicate."""
    new = _docs(spark, [(20, BASE)])  # exact text of doc 0
    hits = NS.near_dups_against_store(spark, store, new, threshold=0.5)
    got = {(r.new_id, r.snapshot_id): r.est_jaccard for r in hits.collect()}
    assert got.get((20, 0)) == 1.0  # identical shingles → identical sigs


def test_store_parameters_come_from_meta(spark, tmp_path):
    path = str(tmp_path / "store")
    NS.build_minhash_store(
        _docs(spark, [(0, BASE)]), path, bands=4, rows_per_band=8
    )
    meta = NS.load_store_meta(spark, path)
    assert meta == {"k": 3, "bands": 4, "rows_per_band": 8, "version": 2,
                    "hash_fn": "xx"}
    # query uses the stored banding: an exact dup still matches even
    # though the defaults (8 bands x 4 rows) differ
    hits = NS.near_dups_against_store(
        spark, path, _docs(spark, [(50, BASE)]), threshold=0.9
    )
    assert {(r.new_id, r.snapshot_id) for r in hits.collect()} == {(50, 0)}


class TestMd5StoreMode:
    """hash_fn='md5' (round 11): the K-M double-md5 family pinned in
    store meta, so build and probe derive the same
    engine-deterministic signatures — what hash-oracled
    neardup_incremental_documents."""

    def test_md5_store_lifecycle_and_exact_dup_probe(self, spark, tmp_path):
        path = str(tmp_path / "store")
        NS.build_minhash_store(
            _docs(spark, [(0, BASE), (2, "unrelated parquet footers")]),
            path,
            hash_fn="md5",
        )
        assert NS.load_store_meta(spark, path)["hash_fn"] == "md5"
        hits = NS.near_dups_against_store(
            spark, path, _docs(spark, [(51, BASE)]), threshold=0.9
        ).collect()
        assert {(r.new_id, r.snapshot_id) for r in hits} == {(51, 0)}
        (hit,) = hits
        assert hit.est_jaccard == 1.0  # exact dup: all 32 slots agree

    def test_md5_signature_matches_dedup_family(self, spark, tmp_path):
        """The store's md5 signatures must be the SAME family
        dedup.minhash_signatures(hash_fn='md5') produces — the oracle
        recomputes that construction, so any drift breaks the gate."""
        from etl_procedure_codes_crawler_spark.llm.dedup import (
            minhash_signatures,
        )

        docs = _docs(spark, [(7, BASE)])
        got = NS._sig_array(docs, 3, 32, "md5").collect()
        ref = minhash_signatures(docs, 3, 32, "md5").collect()
        assert list(got[0].sig) == [ref[0][f"h{i}"] for i in range(32)]


# ---------------------------------------------------------------------------
# Degenerate-bucket cap: the candidate join must stay LINEAR in the
# batch on boilerplate corpora (the round-5 weak mark)
# ---------------------------------------------------------------------------


class TestDegenerateBucketCap:
    def test_boilerplate_store_emits_linear_candidates(self, spark, tmp_path):
        """300 identical store docs + 40 identical batch docs all land
        in ONE (band, bucket) per band. Uncapped, the join emits
        40x300 pairs; capped at 16 store rows per bucket it must emit
        exactly 40x16 — and every batch doc is still flagged."""
        path = str(tmp_path / "boiler")
        NS.build_minhash_store(
            _docs(spark, [(i, BASE) for i in range(300)]), path
        )
        new = _docs(spark, [(1000 + i, BASE) for i in range(40)])
        hits = NS.near_dups_against_store(
            spark, path, new, threshold=0.5, max_store_bucket_size=16
        ).collect()
        assert len(hits) == 40 * 16, len(hits)
        assert {r.new_id for r in hits} == {1000 + i for i in range(40)}
        # deterministic ranked truncation: the survivors are the
        # lowest snapshot ids
        assert {r.snapshot_id for r in hits} == set(range(16))

    def test_cap_changes_nothing_on_normal_data(self, spark, store):
        new = _docs(
            spark,
            [
                (10, BASE.replace("lazy", "sleepy")),
                (11, "totally fresh content with no overlap whatsoever here"),
                (12, BASE),
            ],
        )
        capped = sorted(
            map(
                tuple,
                NS.near_dups_against_store(spark, store, new, 0.3).collect(),
            )
        )
        uncapped = sorted(
            map(
                tuple,
                NS.near_dups_against_store(
                    spark, store, new, 0.3, max_store_bucket_size=10**6
                ).collect(),
            )
        )
        assert capped == uncapped and capped


# ---------------------------------------------------------------------------
# store layout
# ---------------------------------------------------------------------------


def test_v2_store_persists_buckets_and_append_matches(spark, store):
    import os

    sig_df = spark.read.parquet(os.path.join(store, "signatures"))
    assert "buckets" in sig_df.columns
    for row in sig_df.collect():  # every built row carries its buckets
        assert len(row.buckets) == 8  # one struct per band
        assert {b.band for b in row.buckets} == set(range(8))


class TestIncrementalClusterLabels:
    """Round-8 persisted (id, cluster_id) labels: quotient absorb ==
    from-scratch recompute, crash heal via the staleness token, and
    the streaming gate's label mode."""

    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")

    def test_incremental_absorb_equals_recompute(self, spark, tmp_path):
        """Edges arriving over three updates (the third MERGES two
        existing clusters — the quotient path that a naive relabel
        gets wrong) must land exactly where a from-scratch components
        run does."""
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS
        from etl_procedure_codes_crawler_spark.llm.cluster import (
            connected_components,
        )

        store = str(tmp_path / "store")
        batches = [
            [(1, 2), (10, 11)],
            [(20, 21), (2, 3)],
            [(11, 20), (3, 10)],  # chains everything into one cluster
        ]
        for b in batches:
            out = NS.update_cluster_labels(spark, store, self._edges(spark, b))
            assert out["mode"] == "incremental"
        got = {
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        }
        scratch = {
            (r.vertex, r.component)
            for r in connected_components(
                self._edges(spark, [e for b in batches for e in b])
            ).collect()
        }
        assert got == scratch
        assert got == {(i, 1) for i in (1, 2, 3, 10, 11, 20, 21)}

    def test_replayed_edges_are_idempotent(self, spark, tmp_path):
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

        store = str(tmp_path / "store")
        e = self._edges(spark, [(5, 6), (6, 7)])
        NS.update_cluster_labels(spark, store, e)
        before = sorted(
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        )
        NS.update_cluster_labels(spark, store, e)  # crash-replay twin
        after = sorted(
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        )
        assert before == after == [(5, 5), (6, 5), (7, 5)]

    def test_stale_token_heals_from_edge_log(self, spark, tmp_path):
        """Simulated crash between the edge append and the label
        write: extra edges in the log without a matching token must
        trigger a full recompute on the next update — and the healed
        labels include the orphaned edges."""
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

        store = str(tmp_path / "store")
        NS.update_cluster_labels(spark, store, self._edges(spark, [(1, 2)]))
        # crash simulation: edges appended, labels/token never updated
        self._edges(spark, [(2, 9)]).write.mode("append").parquet(
            NS._edges_path(store)
        )
        out = NS.update_cluster_labels(
            spark, store, self._edges(spark, [(30, 31)])
        )
        assert out["mode"] == "recompute"
        got = {
            (r.id, r.cluster_id)
            for r in NS.read_cluster_labels(spark, store).collect()
        }
        assert got == {(1, 1), (2, 1), (9, 1), (30, 30), (31, 30)}

    def test_store_cluster_labels_covers_singletons(self, spark, tmp_path):
        import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

        store = str(tmp_path / "store")
        docs = _docs(
            spark,
            [(1, "alpha beta gamma delta"), (2, "zz yy xx ww"),
             (3, "unrelated words entirely here")],
        )
        NS.build_minhash_store(docs, store)
        NS.update_cluster_labels(spark, store, self._edges(spark, [(1, 2)]))
        got = {
            (r.id, r.cluster_id)
            for r in NS.store_cluster_labels(spark, store).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 3)}  # 3 is its own singleton


def test_within_store_pairs_use_persisted_buckets(spark, tmp_path):
    """near_dup_pairs_within_store: twins pair at est 1.0 off the
    PERSISTED signatures (no re-signing), unrelated docs do not, and
    the pair set feeds update_cluster_labels directly."""
    import etl_procedure_codes_crawler_spark.llm.neardup_store as NS

    store = str(tmp_path / "store")
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # twin
            (3, "completely different content with other words"),
        ],
    )
    NS.build_minhash_store(docs, store)
    pairs = NS.near_dup_pairs_within_store(spark, store)
    got = {(r.doc_a, r.doc_b, r.est_jaccard) for r in pairs.collect()}
    assert got == {(1, 2, 1.0)}
    NS.update_cluster_labels(spark, store, pairs.select("doc_a", "doc_b"))
    labels = {
        (r.id, r.cluster_id)
        for r in NS.store_cluster_labels(spark, store).collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 3)}
