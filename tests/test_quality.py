"""In-engine linear quality-model training (llm/quality.fit_linear_quality)."""

from __future__ import annotations

from pyspark.sql import functions as F

class TestFitLinearQuality:
    def test_recovers_planted_linear_relationship(self, spark):
        """Labels generated FROM a known model must be recovered
        (ridge -> tiny shrinkage; rtol covers it), and the learned
        dict must round-trip through score_documents."""
        import numpy as np

        from etl_procedure_codes_crawler_spark.llm import quality as Q

        rows = []
        words = ["the", "and", "alpha", "beta", "gamma", "delta",
                 "epsilon", "of", "to", "in"]
        rng = np.random.RandomState(5)
        for i in range(1, 121):
            n = int(rng.randint(5, 60))
            text = " ".join(words[int(j) % len(words)]
                            for j in rng.randint(0, 10, size=n))
            rows.append((i, text))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        true = {"bias": 0.3, "len_sat": 1.5, "ttr": -0.7,
                "avg_token_len": 0.2, "stop_ratio": 0.9}
        labeled = docs.withColumn(
            "label", Q.linear_margin(true)
        )
        model = Q.fit_linear_quality(labeled, "label", ridge=1e-9)
        for kk, v in true.items():
            assert abs(model[kk] - v) < 1e-5, (kk, model)
        # round-trips into the scorer
        scored = Q.score_documents(docs, model=model).count()
        assert scored == 120

    def test_matches_numpy_lstsq_replica(self, spark):
        """The one-pass normal-equation moments must agree with a
        direct numpy least-squares fit on the collected features."""
        import numpy as np

        from etl_procedure_codes_crawler_spark.llm import quality as Q

        words = ["the", "and", "tokenization", "of", "data", "pipelines",
                 "requires", "deduplication", "at", "scale", "a", "web"]
        docs = spark.createDataFrame(
            [
                (
                    i,
                    " ".join(
                        words[(i * 7 + j * j) % len(words)]
                        for j in range(i % 19 + 4)
                    ),
                )
                for i in range(1, 61)
            ],
            "doc_id long, text string",
        )
        labeled = docs.withColumn(
            "label",
            (F.col("doc_id") % 5).cast("double") / 5.0,
        )
        model = Q.fit_linear_quality(labeled, "label", ridge=0.0)
        feats = Q.quality_features()
        mat = labeled.select(
            F.lit(1.0).alias("x0"),
            *[feats[n].alias(n) for n in Q.FEATURE_ORDER],
            F.col("label"),
        ).toPandas().to_numpy(dtype=float)
        w, *_ = np.linalg.lstsq(mat[:, :-1], mat[:, -1], rcond=None)
        got = [model["bias"]] + [model[n] for n in Q.FEATURE_ORDER]
        assert np.allclose(got, w, rtol=1e-6, atol=1e-8), (got, w)

    def test_null_and_empty_text_excluded_and_empty_raises(self, spark):
        import pytest as _pytest

        from etl_procedure_codes_crawler_spark.llm import quality as Q

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta", 1.0), (2, None, 0.0),
             (3, "", 0.0)],
            "doc_id long, text string, label double",
        )
        model = Q.fit_linear_quality(docs, "label")
        assert isinstance(model["bias"], float)  # trained on row 1 only
        empty = spark.createDataFrame(
            [(1, None, 1.0)], "doc_id long, text string, label double"
        )
        with _pytest.raises(ValueError, match="no scorable"):
            Q.fit_linear_quality(empty, "label")
