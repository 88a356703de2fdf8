"""Persisted IVF+PQ index: build/query equality with the one-shot
operator and partition pruning (llm/index.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import index as IX
from etl_procedure_codes_crawler_spark.llm import similarity as S


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_index_query_equals_oneshot_operator(spark, emb, tmp_path):
    """Same corpus and params: the persisted index (integer quantizers
    in meta) must return EXACTLY the one-shot cosine_topk_ivfpq result
    (same sample, same Lloyd iterations, same tie rules)."""
    path = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, path, num_centroids=16, max_iter=3)
    queries = emb.filter(F.col("vec_id") < 20)
    got = sorted(
        map(tuple, IX.query_ivfpq_index(spark, path, queries, k=5, nprobe=6).collect())
    )
    want = sorted(
        map(tuple, S.cosine_topk_ivfpq(
            emb, queries, k=5, nprobe=6, max_iter=3
        ).collect())
    )
    assert got == want


def test_query_scan_partition_prunes_to_probe_cells(spark, emb, tmp_path):
    path = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, path, num_centroids=16)
    out = IX.query_ivfpq_index(
        spark, path, emb.filter(F.col("vec_id") < 3), k=3, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the coded scans must carry the static cell predicate as a
    # PARTITION filter (file skipping), not a post-scan data filter
    assert "PartitionFilters: [cell" in plan, plan
    # 3 queries × 2 probes can touch at most 6 distinct cells of 16
    import re

    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", plan)
    assert m and len(m.group(1).split(",")) <= 6, plan


def test_string_ids_rejected_with_the_integer_id_requirement(emb, tmp_path):
    string_ids = emb.withColumn("vec_id", F.concat(F.lit("doc-"), "vec_id"))
    with pytest.raises(ValueError, match="need integer vec_id values"):
        IX.build_ivfpq_index(string_ids, str(tmp_path / "ix"))


def test_empty_query_set_rejected(spark, emb, tmp_path):

    path = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, path, num_centroids=8)
    with pytest.raises(ValueError, match="empty query set"):
        IX.query_ivfpq_index(
            spark, path, emb.filter(F.col("vec_id") < 0), k=3
        )


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_query_side_is_local_and_keeps_the_id_type(spark, emb, tmp_path, id_type):
    """The probe and query-vector relations are built on the driver as
    local relations: no PythonRDD scan in the executed plan, the
    caller's query id type kept, and the one-shot operator's rows."""
    path = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, path, num_centroids=16, max_iter=3)
    queries = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id").cast(id_type)
    )
    out = IX.query_ivfpq_index(spark, path, queries, k=3, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert dict(out.dtypes)["query_id"] == id_type
    want = S.cosine_topk_ivfpq(emb, queries, k=3, nprobe=4, max_iter=3)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, want.collect())
    )
