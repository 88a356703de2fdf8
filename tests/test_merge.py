"""The crash-safe dataset swap behind warehouse rewrites
(operators/merge.py): stage beside the target, rename into place."""

from __future__ import annotations

import os
import shutil

import pytest

from etl_procedure_codes_crawler_spark.operators.merge import (
    recover_interrupted_swap,
    replace_dataset_atomically,
)

SCHEMA = "code string, value long"


def _read(spark, path):
    return {r.code: r.value for r in spark.read.parquet(path).collect()}


def test_no_leftover_temp_dirs(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([("a", 1)], SCHEMA).write.parquet(path)
    replace_dataset_atomically(
        spark, path, spark.createDataFrame([("b", 2)], SCHEMA)
    )
    assert _read(spark, path) == {"b": 2}
    siblings = os.listdir(str(tmp_path))
    assert siblings == ["t"], siblings


def test_merge_survives_stale_crash_leftovers(spark, tmp_path):
    """A crashed prior swap leaving ._previous and ._staging behind must
    not make the next swap silently keep old data (Hadoop rename()
    returns False on an occupied destination instead of raising)."""
    path = str(tmp_path / "t")
    spark.createDataFrame([("a", 1)], SCHEMA).write.parquet(path)
    # Simulate the crash leftovers: a stale backup and a stale staging
    # dir from an interrupted earlier swap.
    spark.createDataFrame([("stale", 0)], SCHEMA).write.parquet(
        path + "._previous"
    )
    spark.createDataFrame([("stale", 0)], SCHEMA).write.parquet(
        path + "._staging"
    )

    replace_dataset_atomically(
        spark, path, spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    )
    assert _read(spark, path) == {"a": 1, "b": 2}
    assert os.listdir(str(tmp_path)) == ["t"]


def test_failed_rename_raises_not_silent(spark, tmp_path):
    """checked_rename turns Hadoop's False return into an exception."""
    from etl_procedure_codes_crawler_spark.sinks.fsutil import (
        checked_rename,
        hadoop_fs,
    )

    (tmp_path / "src").mkdir()
    (tmp_path / "src" / "f").write_text("x")
    # an existing *file* destination makes rename return False
    (tmp_path / "dest").write_text("y")
    fs, hpath = hadoop_fs(spark, str(tmp_path))
    src = hpath(str(tmp_path / "src"))
    dest = hpath(str(tmp_path / "dest"))
    with pytest.raises(IOError, match="rename failed"):
        checked_rename(fs, src, dest)


def test_crash_between_renames_recovers_from_backup(spark, tmp_path):
    """The one dangerous swap window: a crash AFTER dst was renamed to
    ._previous but BEFORE the staged result moved in leaves dst
    missing and the backup holding the ONLY copy. Recovery must
    restore it before anything reads the target — not read an empty
    target and then delete the backup."""
    path = str(tmp_path / "t")
    spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA).write.parquet(path)
    # simulate the crash window: dst moved aside, replacement missing
    shutil.move(path, path + "._previous")
    assert not os.path.exists(path)

    assert recover_interrupted_swap(spark, path)
    assert _read(spark, path) == {"a": 1, "b": 2}
    assert os.listdir(str(tmp_path)) == ["t"]
    # a healthy dataset has nothing to recover
    assert not recover_interrupted_swap(spark, path)
