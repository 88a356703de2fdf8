"""Distributed PCA / whitening (llm/pca.py) vs numpy, end to end."""

from __future__ import annotations

import numpy as np
import pytest

from etl_procedure_codes_crawler_spark.llm.pca import (
    fit_pca,
    transform_pca,
)
from etl_procedure_codes_crawler_spark.plans.relational import load


class TestFitPca:
    def test_moments_match_numpy(self, spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        X = np.vstack(
            [np.asarray(r[0], dtype=np.float64)
             for r in emb.select("embedding").collect()]
        )
        model = fit_pca(emb)
        assert model.n == len(X)
        np.testing.assert_allclose(model.mean, X.mean(axis=0), atol=1e-9)
        cov = np.cov(X, rowvar=False, bias=True)
        evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
        np.testing.assert_allclose(model.eigenvalues, evals, atol=1e-9)
        # components diagonalize the covariance
        D = model.components.T @ cov @ model.components
        np.testing.assert_allclose(
            D, np.diag(model.eigenvalues), atol=1e-8
        )

    def test_fit_is_deterministic(self, spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        a, b = fit_pca(emb), fit_pca(emb)
        assert np.array_equal(a.mean, b.mean)
        assert np.array_equal(a.components, b.components)
        assert np.array_equal(a.eigenvalues, b.eigenvalues)

    def test_empty_and_all_null_raise(self, spark):
        df = spark.createDataFrame(
            [(1, None)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="no non-NULL vectors"):
            fit_pca(df)

    def test_sample_limit_bounds_the_fit(self, spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        model = fit_pca(emb, sample_limit=100)
        assert model.n == 100


class TestTransformPca:
    def test_whitened_projection_has_unit_variance(self, spark, sf_dir):
        emb = load(spark, sf_dir, "embeddings")
        model = fit_pca(emb)
        proj = transform_pca(emb, model, k=8, whiten=True)
        P = np.vstack(
            [np.asarray(r[0]) for r in proj.select("projection").collect()]
        )
        assert P.shape[1] == 8
        np.testing.assert_allclose(P.mean(axis=0), 0.0, atol=1e-9)
        np.testing.assert_allclose(P.var(axis=0), 1.0, atol=1e-6)

    def test_projection_matches_numpy(self, spark):
        rng = np.random.RandomState(3)
        X = rng.randn(40, 6) * np.array([5, 3, 2, 1, 0.5, 0.1])
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(X)],
            "vec_id long, embedding array<double>",
        )
        model = fit_pca(df)
        got = {
            r["vec_id"]: np.asarray(r["projection"])
            for r in transform_pca(df, model, k=3).collect()
        }
        W = model.components[:, :3]
        for i, row in enumerate(X):
            np.testing.assert_allclose(
                got[i], (row - model.mean) @ W, atol=1e-9
            )

    def test_null_vector_projects_to_null(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
            "vec_id long, embedding array<double>",
        )
        model = fit_pca(df)
        rows = {
            r["vec_id"]: r["projection"]
            for r in transform_pca(df, model, k=1).collect()
        }
        assert rows[2] is None
        assert rows[1] is not None and rows[3] is not None

    def test_bad_k_raises(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
        )
        model = fit_pca(df)
        with pytest.raises(ValueError, match="k must be"):
            transform_pca(df, model, k=3)
        with pytest.raises(ValueError, match="k must be"):
            transform_pca(df, model, k=0)
