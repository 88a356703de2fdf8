"""Scale-path operators: the deterministic salt behind the two-phase
grouped top-k (operators/topk.py)."""

from __future__ import annotations

from etl_procedure_codes_crawler_spark.operators.skew import with_salt


class TestSaltedAgg:
    def test_salt_is_deterministic(self, spark, sf_dir):
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(100)
        a = with_salt(lineitem, 16).select("_salt").collect()
        b = with_salt(lineitem, 16).select("_salt").collect()
        assert [r._salt for r in a] == [r._salt for r in b]
        assert all(0 <= r._salt < 16 for r in a)
