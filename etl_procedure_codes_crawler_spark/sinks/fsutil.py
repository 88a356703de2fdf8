"""Checked Hadoop filesystem operations for atomic dataset swaps.

Hadoop's ``FileSystem.rename`` reports failure by returning ``False``
rather than raising (unlike ``delete``, which raises on I/O errors).
The swap sequences in :mod:`..operators.merge` and
:mod:`..llm.forget` are only atomic if every rename actually happened —
a silently failed ``rename(dst, backup)`` cascades: the follow-up
``rename(tmp, dst)`` also returns ``False`` (destination occupied),
the backup delete still runs, and the caller reports success while
the warehouse keeps the old data and the new result is stranded in
the staging path. These helpers turn that failure mode into an
exception, and proactively clear stale staging/backup paths a
crashed earlier run may have left behind (the usual cause of the
occupied-destination rename failure).
"""

from __future__ import annotations


def hadoop_fs(spark, path: str):
    """Return ``(fs, Path-class)`` for ``path`` under the session's
    Hadoop configuration."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(path).getFileSystem(conf)
    return fs, path_cls


def checked_rename(fs, src, dst) -> None:
    """``fs.rename(src, dst)`` that raises instead of returning False.

    A False return means the rename did not happen (missing source,
    occupied destination, cross-filesystem move) — continuing a
    multi-step swap after one would corrupt the dataset silently.
    """
    if not fs.rename(src, dst):
        raise IOError(
            f"rename failed: {src} -> {dst} "
            "(source missing, destination occupied, or cross-FS move); "
            "dataset swap aborted before any data was lost"
        )


def remove_stale(fs, *paths) -> list[str]:
    """Delete leftover staging/backup paths from a crashed prior run.

    Returns the paths that existed and were removed, so callers can
    surface what was cleaned up.
    """
    removed = []
    for p in paths:
        if fs.exists(p):
            fs.delete(p, True)
            removed.append(str(p))
    return removed
