"""Crash-safe whole-dataset swap for parquet warehouse rewrites.

Plain parquet has no transactional overwrite; a rewrite (the
right-to-be-forgotten fallback in llm/forget.py) writes the new
dataset beside the target and renames it into place, so readers never
see a half-written dataset. A rewrite whose lineage reads the very
path being replaced must be localCheckpoint'ed before the swap
(collecting after the overwrite would re-scan the new files — the same
mutated-snapshot hazard plans/pipeline.py guards against).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sinks.fsutil import checked_rename, hadoop_fs, remove_stale


def recover_interrupted_swap(spark: SparkSession, target_path: str) -> bool:
    """Restore the dataset if a prior swap crashed in its one
    dangerous window — between renaming ``dst`` aside to ``._previous``
    and renaming the staged result in. In that state ``dst`` is
    MISSING and the backup holds the only surviving copy; any caller
    that reads the target (or clears "stale" paths) before restoring
    would silently treat the warehouse as empty and then delete the
    backup. Must run before any read of ``target_path`` in a
    maintenance operation; returns True if a restore happened."""
    fs, hpath = hadoop_fs(spark, target_path)
    dst = hpath(target_path)
    backup = hpath(target_path.rstrip("/") + "._previous")
    if (not fs.exists(dst)) and fs.exists(backup):
        checked_rename(fs, backup, dst)
        return True
    return False


def replace_dataset_atomically(
    spark: SparkSession, target_path: str, df: DataFrame
) -> None:
    """Write ``df`` beside ``target_path`` then rename into place —
    readers see the old dataset or the new one, never a mix. ``df``
    must NOT have lineage reading ``target_path`` unless checkpointed
    first (see module docstring). The versioning rewrite stamp names
    the takedown (its one caller) as the cause, so an expired
    versioned read says "forget (rw2)"."""
    from ..sinks.versions import _data_files, _versions_dir, record_rewrite

    tmp = target_path.rstrip("/") + "._staging"
    fs, hpath = hadoop_fs(spark, target_path)
    dst = hpath(target_path)
    tmp_p = hpath(tmp)
    backup = hpath(target_path.rstrip("/") + "._previous")
    # Crash recovery ordering matters: if a prior run died between its
    # two renames, ._previous is the ONLY copy — restore it before
    # treating it as stale. (Callers that READ the target must have
    # called recover_interrupted_swap before their read; this repeat
    # is defense in depth for direct callers.)
    if (not fs.exists(dst)) and fs.exists(backup):
        checked_rename(fs, backup, dst)
    # Now any remaining ._staging/._previous is genuinely stale (dst
    # exists, or never existed); either would make the renames below
    # fail (occupied destination). Clear them before writing.
    remove_stale(fs, tmp_p, backup)
    # capture the vanishing file set ONLY when the dataset actually
    # has versions — an unconditional recursive listing would tax
    # every swap on unversioned warehouses for nothing
    versioned = fs.exists(hpath(_versions_dir(target_path)))
    old_files = (
        _data_files(fs, hpath, target_path)
        if versioned and fs.exists(dst)
        else []
    )
    df.write.mode("overwrite").option("compression", "snappy").parquet(tmp)
    if fs.exists(dst):
        checked_rename(fs, dst, backup)
    checked_rename(fs, tmp_p, dst)
    fs.delete(backup, True)
    # stamp AFTER the swap is durable: a stamp for a swap that never
    # happened would falsely expire readable versions; a crash before
    # stamping degrades to "unknown rewrite" in the expiry message,
    # never to wrong data
    record_rewrite(spark, target_path, old_files)
