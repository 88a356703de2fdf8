"""Scale-path operators: salted aggregation/join equivalence."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.operators.skew import (
    salted_agg,
    salted_join,
    top_keys,
    with_salt,
)
from etl_procedure_codes_crawler_spark.sources.parquet import read_parquet


def _table(spark, sf_dir, name):
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


class TestSaltedAgg:
    def test_matches_plain_groupby(self, spark, sf_dir):
        lineitem = _table(spark, sf_dir, "lineitem")
        plain = {
            (r.l_returnflag, r.l_linestatus): (r.n, r.q_sum, r.q_min, r.q_max)
            for r in lineitem.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("q_sum"),
                F.min("l_quantity").alias("q_min"),
                F.max("l_quantity").alias("q_max"),
            )
            .collect()
        }
        salted = {
            (r.l_returnflag, r.l_linestatus): (r.n, r.q_sum, r.q_min, r.q_max)
            for r in salted_agg(
                lineitem,
                ["l_returnflag", "l_linestatus"],
                {
                    "n": ("count", "l_quantity"),
                    "q_sum": ("sum", "l_quantity"),
                    "q_min": ("min", "l_quantity"),
                    "q_max": ("max", "l_quantity"),
                },
                buckets=8,
            ).collect()
        }
        assert salted == plain

    def test_salt_is_deterministic(self, spark, sf_dir):
        lineitem = _table(spark, sf_dir, "lineitem").limit(100)
        a = with_salt(lineitem, 16).select("_salt").collect()
        b = with_salt(lineitem, 16).select("_salt").collect()
        assert [r._salt for r in a] == [r._salt for r in b]
        assert all(0 <= r._salt < 16 for r in a)

    def test_rejects_non_algebraic(self, spark, sf_dir):
        lineitem = _table(spark, sf_dir, "lineitem")
        with pytest.raises(ValueError):
            salted_agg(lineitem, ["l_returnflag"], {"m": ("median", "l_quantity")})


class TestSaltedJoin:
    def test_matches_plain_join(self, spark, sf_dir):
        orders = _table(spark, sf_dir, "orders")
        customer = _table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "o_custkey"
        )
        plain = (
            orders.join(customer, "o_custkey")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        salted = (
            salted_join(orders, customer, on="o_custkey", buckets=4)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_outer_joins_rejected(self, spark, sf_dir):
        """Right/full outer would emit each unmatched small-side row
        once per salt replica — refuse instead of silently inflating."""
        orders = _table(spark, sf_dir, "orders")
        customer = _table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "o_custkey"
        )
        for how in ("right", "full", "outer", "full_outer"):
            with pytest.raises(ValueError, match="inner.*left"):
                salted_join(orders, customer, on="o_custkey", buckets=4, how=how)

    def test_left_join_matches_plain(self, spark, sf_dir):
        orders = _table(spark, sf_dir, "orders").limit(500)
        # keep only a slice of customers so some orders have no match
        customer = (
            _table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") % 3 == 0)
            .withColumnRenamed("c_custkey", "o_custkey")
        )
        plain = (
            orders.join(customer, "o_custkey", "left")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        salted = (
            salted_join(orders, customer, on="o_custkey", buckets=4, how="left")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        as_dict = lambda df: {r.c_mktsegment: r.n for r in df.collect()}
        assert as_dict(salted) == as_dict(plain)

    def test_top_keys_orders_by_frequency(self, spark, sf_dir):
        lineitem = _table(spark, sf_dir, "lineitem")
        rows = top_keys(lineitem, ["l_returnflag"], n=3).collect()
        counts = [r.n_rows for r in rows]
        assert counts == sorted(counts, reverse=True)

