"""J1/J2 anti-join dedup semantics (reference: procedure_code.py:763-772)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.operators.dedup import (
    anti_join_on_key,
    incremental_new_rows,
)
from etl_procedure_codes_crawler_spark.schemas import PROCEDURE_NDC_SCHEMA


def _ndc(spark, ids):
    rows = [(i, f"drug-{i}", f"lab-{i}", "1 ML", "UN") for i in ids]
    return spark.createDataFrame(rows, PROCEDURE_NDC_SCHEMA)


def test_partial_overlap(spark):
    new = _ndc(spark, ["a", "b", "c"])
    existing = _ndc(spark, ["b", "x"])
    out = sorted(
        r.ndc_alternate_id
        for r in anti_join_on_key(new, existing, "ndc_alternate_id").collect()
    )
    assert out == ["a", "c"]


def test_disjoint_and_empty_existing(spark):
    new = _ndc(spark, ["a", "b"])
    assert anti_join_on_key(new, _ndc(spark, []), "ndc_alternate_id").count() == 2
    assert (
        anti_join_on_key(new, _ndc(spark, ["z"]), "ndc_alternate_id").count() == 2
    )


def test_all_existing(spark):
    new = _ndc(spark, ["a"])
    existing = _ndc(spark, ["a", "b"])
    assert anti_join_on_key(new, existing, "ndc_alternate_id").count() == 0


def test_incremental_dedups_within_batch(spark):
    # The reference's isin-filter does NOT dedup within the batch
    # (SURVEY §2.4 note); incremental_new_rows must.
    new = _ndc(spark, ["a", "a", "b", None])
    existing = _ndc(spark, ["b"])
    out = incremental_new_rows(new, existing, "ndc_alternate_id")
    assert [r.ndc_alternate_id for r in out.collect()] == ["a"]


def test_columns_preserved(spark):
    new = _ndc(spark, ["a"])
    out = anti_join_on_key(new, _ndc(spark, []), "ndc_alternate_id")
    assert out.columns == list(PROCEDURE_NDC_SCHEMA.names)
    row = out.collect()[0]
    assert row.drug_name == "drug-a"


def test_anti_join_plan_broadcasts_existing(spark):
    new = _ndc(spark, ["a", "b"])
    existing = _ndc(spark, ["b"])
    plan = anti_join_on_key(
        new, existing, "ndc_alternate_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


_KEYS = st.lists(st.sampled_from(["a", "b", "c", None]), max_size=6)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cases=st.lists(st.tuples(_KEYS, _KEYS), min_size=1, max_size=8))
def test_existing_duplicates_and_nulls_do_not_change_rows(spark, cases):
    """The snapshot's keys are broadcast as they are: duplicate and NULL
    keys on that side give the rows of the deduplicated side, which are
    the new rows whose key is not a (non-NULL) snapshot key. Each case's
    keys are prefixed with its index, so one job checks every case."""
    key = "ndc_alternate_id"

    def keyed(side):
        return [
            None if k is None else f"{i}{k}"
            for i, case in enumerate(cases)
            for k in case[side]
        ]

    new, existing = keyed(0), keyed(1)
    new_df, existing_df = _ndc(spark, new), _ndc(spark, existing)
    both = anti_join_on_key(new_df, existing_df, key).withColumn(
        "deduped", F.lit(False)
    ).unionByName(
        anti_join_on_key(
            new_df, existing_df.dropDuplicates([key]), key
        ).withColumn("deduped", F.lit(True))
    )
    rows = {False: [], True: []}
    for row in both.collect():
        rows[row.deduped].append(tuple(row)[:-1])
    raw, deduped = (sorted(rows[flag], key=repr) for flag in (False, True))
    assert raw == deduped
    assert sorted((r[0] for r in raw), key=repr) == sorted(
        (k for k in new if k is None or k not in existing), key=repr
    )


def _subtrees(plan: str, node: str):
    """The plan-string lines beneath each node whose name starts with
    ``node``, one list per occurrence."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-|"))

    for i, line in enumerate(lines):
        if line.lstrip(" :+-|").startswith(node):
            below = []
            for child in lines[i + 1:]:
                if depth(child) <= depth(line):
                    break
                below.append(child)
            yield below


def test_no_shuffle_beneath_the_snapshot_key_broadcast(spark, tmp_path):
    """Broadcasting the snapshot's keys costs no shuffle: no Exchange
    sits beneath the BroadcastExchange, before or after AQE."""
    _ndc(spark, ["b", "x", "y"]).write.parquet(str(tmp_path / "existing"))
    existing = spark.read.parquet(str(tmp_path / "existing"))
    out = anti_join_on_key(_ndc(spark, ["a", "b"]), existing, "ndc_alternate_id")
    assert [r.ndc_alternate_id for r in out.collect()] == ["a"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    subtrees = list(_subtrees(plan, "BroadcastExchange"))
    assert subtrees, plan
    for below in subtrees:
        assert not any("Exchange" in line for line in below), plan
