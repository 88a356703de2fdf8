"""Similarity-search semantics on constructed vectors."""

from __future__ import annotations

import numpy as np

from etl_procedure_codes_crawler_spark.llm import similarity as S

# constructed corpus: 0⊥1, 2 = 0 scaled (cos=1), 3 close to 0, 4 opposite
VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0, 0.0]),
    (2, [2.0, 0.0, 0.0, 0.0]),
    (3, [0.9, 0.1, 0.0, 0.0]),
    (4, [-1.0, 0.0, 0.0, 0.0]),
]


def _vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def _exact_topk(corpus, queries, k):
    """The exact top-``k`` cosine neighbours of each query vector, as
    {(query_id, neighbor_id)}: the recall baseline, computed in numpy
    (ties break to the lower neighbour id; a query is not its own
    neighbour)."""
    rows = corpus.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    position = {vid: i for i, vid in enumerate(ids)}
    pairs = set()
    for q in queries.select("vec_id").collect():
        cos = unit @ unit[position[q.vec_id]]
        order = sorted(
            (j for j in range(len(ids)) if ids[j] != q.vec_id),
            key=lambda j: (-cos[j], ids[j]),
        )
        pairs.update((q.vec_id, int(ids[j])) for j in order[:k])
    return pairs


def test_similar_pairs_threshold(spark):
    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in S.similar_pairs_bruteforce(_vecs(spark), threshold=0.9).collect()
    }
    assert set(pairs) == {(0, 2), (0, 3), (2, 3)}


def test_lsh_topk_finds_exact_match_and_reranks(spark):
    df = _vecs(spark)
    out = S.cosine_topk_lsh(
        df, df.filter("vec_id = 0"), k=4, num_tables=2, planes_per_table=2, dim=4
    ).collect()
    by_rank = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    # identical-direction vector lands in the same bucket by construction
    assert by_rank[0] == 2
    # candidates are re-ranked by exact cosine: order must be consistent
    cosines = [r.cosine for r in sorted(out, key=lambda r: r.rank)]
    assert cosines == sorted(cosines, reverse=True)


def test_lsh_recall_on_testdata(spark, sf_dir):
    """LSH top-5 should recover a decent fraction of the exact top-5 —
    sanity floor, not a precision claim (8 planes, single table)."""
    import etl_procedure_codes_crawler_spark.llm.queries  # noqa: F401 — registers
    from etl_procedure_codes_crawler_spark.plans.relational import QUERIES, load

    embeddings = load(spark, sf_dir, "embeddings")
    exact = _exact_topk(embeddings, embeddings.filter("vec_id < 20"), k=5)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["ann_cosine_topk_lsh"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"


class TestIvf:
    def test_ivf_recall_against_bruteforce(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S
        from etl_procedure_codes_crawler_spark.plans.relational import load

        embeddings = load(spark, sf_dir, "embeddings")
        queries = embeddings.filter(F.col("vec_id") < 10)
        exact_pairs = _exact_topk(embeddings, queries, k=5)
        ivf = S.cosine_topk_ivf(
            embeddings, queries, k=5, num_centroids=8, nprobe=4
        )
        ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
        recall = len(exact_pairs & ivf_pairs) / len(exact_pairs)
        # probing half the cells must recover well over half the truth
        assert recall >= 0.6, f"IVF recall {recall:.2f}"
        # at most k rows per query, ranks contiguous from 1
        per_q = {}
        for r in ivf.collect():
            per_q.setdefault(r.query_id, []).append(r.rank)
        assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())

    def test_ivf_is_deterministic(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S
        from etl_procedure_codes_crawler_spark.plans.relational import load

        embeddings = load(spark, sf_dir, "embeddings")
        queries = embeddings.filter(F.col("vec_id") < 5)
        a = sorted(map(tuple, S.cosine_topk_ivf(embeddings, queries, k=3).collect()))
        b = sorted(map(tuple, S.cosine_topk_ivf(embeddings, queries, k=3).collect()))
        assert a == b


class TestMd5PlaneMode:
    """Hyperplane LSH signatures: ±1 planes from md5 parity over
    fixed-point int64 coordinates — the signature relation is
    engine-deterministic, which is what makes ann_cosine_topk_lsh
    hash-oracled."""

    def test_signatures_match_pure_python_replica(self, spark, sf_dir):
        import hashlib

        import numpy as np

        from etl_procedure_codes_crawler_spark.llm import similarity as S
        from etl_procedure_codes_crawler_spark.plans.relational import load

        embeddings = load(spark, sf_dir, "embeddings").filter(
            "vec_id < 30"
        )
        sig = S._md5_bucket_signatures(8, 5, 64)
        got = {
            (r.id, r.table): r.bucket
            for r in S.lsh_table_buckets(
                embeddings.selectExpr("vec_id AS id", "embedding AS v"),
                "id", "v", sig,
            ).collect()
        }
        vecs = {
            r.vec_id: list(r.embedding) for r in embeddings.collect()
        }
        # pure-stdlib replica: int dots, no numpy order effects at all
        signs = [
            [
                1
                if int(
                    hashlib.md5(f"hp:{p}:{j}".encode()).hexdigest()[0], 16
                ) % 2
                else -1
                for j in range(64)
            ]
            for p in range(40)
        ]
        for vid, v in vecs.items():
            q = [int(np.floor(np.float64(x) * 1048576.0)) for x in v]
            for t in range(8):
                bucket = sum(
                    (1 << i)
                    for i in range(5)
                    if sum(
                        s * c
                        for s, c in zip(signs[t * 5 + i], q)
                    ) > 0
                )
                assert got[(vid, t)] == bucket, (vid, t)


class TestPQ:
    def test_pq_recall_against_bruteforce(self, spark, sf_dir):
        """ADC shortlist + exact re-rank must recover most of the true
        top-5 (quantization only shortlists; exact cosine decides)."""
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") < 20)
        exact = _exact_topk(emb, qs, k=5)
        pq = {
            (r.query_id, r.neighbor_id)
            for r in S.cosine_topk_pq(emb, qs, k=5).collect()
        }
        recall = len(exact & pq) / len(exact)
        assert recall >= 0.6, f"PQ recall {recall:.2f}"
        # per-query k results, ranks 1..5, exact-cosine scores
        per_q: dict[int, int] = {}
        for r in S.cosine_topk_pq(emb, qs, k=5).collect():
            per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
            assert 1 <= r.rank <= 5
        assert all(n == 5 for n in per_q.values())

    def test_opq_rotation_is_orthonormal_and_balances_variance(self):
        import numpy as np

        from etl_procedure_codes_crawler_spark.llm.similarity import (
            _opq_rotation,
            _unit_np,
        )

        rng = np.random.RandomState(7)
        # anisotropic data: variance concentrated in the first dims
        scales = np.linspace(4.0, 0.05, 16)
        X = rng.randn(2000, 16) * scales
        m = 4
        R = _opq_rotation(X, m)
        # orthonormal: geometry (and the exact re-rank) untouched
        np.testing.assert_allclose(R.T @ R, np.eye(16), atol=1e-9)
        # subspace variances of the ROTATED data are far more balanced
        # than raw slicing's
        # eigenvalue allocation balances per-subspace variance
        # PRODUCTS (log-sums), the quantity that drives per-subspace
        # codebook quality — compare log-product spread
        U = _unit_np(X)

        def log_product_spread(Y):
            lp = [
                np.log(Y[:, j * 4 : (j + 1) * 4].var(axis=0) + 1e-12).sum()
                for j in range(m)
            ]
            return max(lp) - min(lp)

        assert log_product_spread(U @ R) < log_product_spread(U) / 4

    def test_opq_recall_at_least_matches_pq(self, spark, sf_dir):
        """The OPQ-rotated IVF+PQ must keep the unrotated compose's
        recall floor (the rotation is orthonormal, the exact re-rank is
        identical) — and its result set stays k-per-query
        well-formed."""
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") < 20)
        exact = _exact_topk(emb, qs, k=5)
        ivfpq = S.cosine_topk_ivfpq(
            emb, qs, k=5, nprobe=6, rotate=True
        ).collect()
        opq = {(r.query_id, r.neighbor_id) for r in ivfpq}
        recall = len(exact & opq) / len(exact)
        assert recall >= 0.5, f"OPQ IVF+PQ recall {recall:.2f}"
        per_q: dict[int, int] = {}
        for r in ivfpq:
            per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert all(n == 5 for n in per_q.values())

    def test_hadamard_signs_orthogonal(self):
        """H·Hᵀ = dim·I — the structured rotation preserves geometry
        exactly (scaled by sqrt(dim)); non-power-of-two dims raise."""
        import numpy as np
        import pytest as _pytest

        from etl_procedure_codes_crawler_spark.llm.similarity import (
            _hadamard_signs,
        )

        for d in (8, 64):
            H = _hadamard_signs(d)
            assert set(np.unique(H)) == {-1, 1}
            assert np.array_equal(H @ H.T, d * np.eye(d, dtype=np.int64))
        with _pytest.raises(ValueError, match="power-of-two"):
            _hadamard_signs(48)

    def test_hadamard_md5_pq_recall_floor(self, spark, sf_dir):
        """The md5-int Hadamard rotation (the oracle-able rotation
        family member) keeps the recall floor vs exact top-k."""
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") < 20)
        exact = _exact_topk(emb, qs, k=5)
        hpq = {
            (r.query_id, r.neighbor_id)
            for r in S.cosine_topk_pq(
                emb, qs, k=5, max_iter=3, rotate=True
            ).collect()
        }
        recall = len(exact & hpq) / len(exact)
        assert recall >= 0.6, f"Hadamard-PQ recall {recall:.2f}"

    def test_pq_is_deterministic(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") < 20)
        a = sorted(map(tuple, S.cosine_topk_pq(emb, qs, k=5).collect()))
        b = sorted(map(tuple, S.cosine_topk_pq(emb, qs, k=5).collect()))
        assert a == b


class TestIVFPQ:
    def test_ivfpq_recall_against_bruteforce(self, spark, sf_dir):
        """The composed pipeline multiplies the two approximations'
        losses (cell pruning × quantization), so the floor sits below
        either component's — 0.5 with nprobe=6 of 16 cells (measured
        0.71-0.72 on the testdata)."""
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") < 20)
        exact = _exact_topk(emb, qs, k=5)
        got = S.cosine_topk_ivfpq(emb, qs, k=5, nprobe=6)
        pairs = {(r.query_id, r.neighbor_id) for r in got.collect()}
        recall = len(exact & pairs) / len(exact)
        assert recall >= 0.5, f"IVF+PQ recall {recall:.2f}"

    def test_ivfpq_is_deterministic(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from etl_procedure_codes_crawler_spark.llm import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") < 20)
        a = sorted(map(tuple, S.cosine_topk_ivfpq(emb, qs, k=5, nprobe=6).collect()))
        b = sorted(map(tuple, S.cosine_topk_ivfpq(emb, qs, k=5, nprobe=6).collect()))
        assert a == b


def test_pq_dim_param_and_empty_corpus_error(spark):
    import pytest as _pytest

    from etl_procedure_codes_crawler_spark.llm import similarity as S

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    # training on an empty corpus: explicit error, not a numpy crash
    with _pytest.raises(ValueError, match="empty corpus"):
        S._train_pq_int(S._train_vectors_by_id(empty), S._UNIT_GRID, 4, 1)
    tiny = spark.createDataFrame(
        [(i, [float(i * j % 7) for j in range(64)]) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    codebook = S._train_pq_int(S._train_vectors_by_id(tiny), S._UNIT_GRID, 4, 1)
    assert codebook.shape == (4, 8)


def test_pq_on_fewer_than_8_vectors_indexes_the_trained_codebook(spark):
    """5 vectors pool into 40 subvector slices, so the codebook has 40
    codewords per subspace, not 64: the ADC lookups must stride by the
    trained size (a fixed stride of 64 reads past the end of the LUT).
    The shortlist covers the whole corpus, so the result is exact."""
    rng = np.random.RandomState(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(64)]) for i in range(5)],
        "vec_id bigint, embedding array<float>",
    )
    got = S.cosine_topk_pq(corpus, corpus, k=2).collect()
    assert {(r.query_id, r.neighbor_id) for r in got} == _exact_topk(
        corpus, corpus, k=2
    )


def test_pq_rejects_vectors_that_do_not_split_into_8_subspaces(spark):
    """The check is a ValueError, so it holds under ``python -O`` and
    names the requirement instead of failing inside a reshape."""
    import pytest as _pytest

    from etl_procedure_codes_crawler_spark.llm import similarity as S

    corpus = spark.createDataFrame(
        [(i, [float(i + j) for j in range(60)]) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="8 subspaces; 60-dim"):
        S.cosine_topk_pq(corpus, corpus)


def test_ivf_probe_orders_by_distance_then_lower_cell_id(spark):
    """The probe lists cells nearest first, and a query equidistant
    from two centroids gets the lower cell id first — the oracles'
    ORDER BY d, cid."""
    import numpy as np

    from pyspark.sql import functions as F

    from etl_procedure_codes_crawler_spark.llm import similarity as S

    # query 0 is equidistant from cells 0 and 2, cell 1 is farthest;
    # query 1 is nearest to cell 1
    centers = np.array([[1.0, 0.0], [-1.0, 0.0], [0.0, 1.0]])
    vecs = spark.createDataFrame(
        [(0, [3.0, 3.0]), (1, [-2.0, 0.1])],
        "vec_id bigint, embedding array<float>",
    )
    probe = S._ivf_probe_udf(S._unit_dists(centers), 3)
    got = {
        r.vec_id: list(r.cells)
        for r in vecs.select("vec_id", probe(F.col("embedding")).alias("cells"))
        .collect()
    }
    assert got == {0: [0, 2, 1], 1: [1, 2, 0]}


def test_kmeans_np_empty_clusters_reseed_distinct():
    """Several clusters emptying in one Lloyd iteration must be
    re-seeded to DISTINCT points — duplicate centroids are dead PQ
    codes / permanently empty IVF cells."""
    import numpy as np

    from etl_procedure_codes_crawler_spark.llm import similarity as S

    # two tight blobs force most of k=8 clusters empty
    rng = np.random.RandomState(0)
    X = np.vstack(
        [rng.randn(50, 4) * 0.01, rng.randn(50, 4) * 0.01 + 100.0]
    )
    centers = S._kmeans_np(X, k=8, seed=1, max_iter=5)
    uniq = np.unique(np.round(centers, 9), axis=0)
    assert len(uniq) == len(centers), "duplicate centroids returned"
