"""Right-to-be-forgotten: consistent deletion across persisted state.

A takedown (GDPR/DMCA/opt-out) is not one delete — a document a
pipeline ingested lives in the WAREHOUSE, its MinHash signature in the
near-dup store, and its embedding in the ANN index. Deleting only the warehouse
copy leaves the document's shadow influencing dedup and similarity
decisions forever. :func:`forget_documents` removes a set of ids from
every artifact it is given, each with the right rewrite strategy:

- plain datasets (warehouse, signature store):
  FILE-PRUNED rewrite — a semi-join against ``input_file_name()``
  locates the files actually holding doomed ids, only THOSE files are
  anti-joined and replaced, every other file stays byte-identical.
  At 100 TB a 3-row takedown touches the handful of files containing
  those rows, not the corpus (round 6 rewrote everything — O(corpus)
  I/O per GDPR request). Bonus: version manifests
  (:mod:`..sinks.versions`) whose files were untouched stay readable
  after the takedown; only versions referencing the rewritten files
  expire, and the rewrite stamp names the takedown as the cause.
  The swap uses a two-phase commit-marker protocol (below) and is
  partition-aware: on hive layouts (``k=v`` directories, e.g. the K1
  sink's ``load_date=``) survivors are staged ``partitionBy`` the
  same keys and moved back at their partition-relative paths, so the
  layout — and partition pruning for every reader after — survives
  the takedown. Non-hive nested layouts, basename collisions, or an
  every-file takedown fall back to the whole-dataset atomic swap
  (:func:`..operators.merge.replace_dataset_atomically`), preceded by
  :func:`..operators.merge.recover_interrupted_swap` — a re-run after
  a crash inside the swap window must restore the backup BEFORE
  reading the target, or the read throws and recovery never converges;
- the cell-partitioned ANN index: PARTITION-SCOPED atomic swaps —
  survivors of every affected cell are staged in one partitioned
  write OUTSIDE the table, then each cell directory is swapped with
  the rename pair the other maintenance ops use (never dynamic
  partition overwrite, whose delete-then-commit window would lose a
  cell's innocent survivors unrecoverably on a crash). Cells left
  EMPTY by the deletion are removed outright — safe to redo, since
  every row in them is doomed. A prior crashed run is healed at entry
  (restore any cell whose swap was interrupted, clear stale staging).

Crash contract: each artifact's swap — and each index CELL's swap —
is individually atomic, but the multi-artifact operation is NOT
transactional: a crash can leave the ids forgotten in some artifacts
and not others. Every step is an anti-join against the doomed ids, so
the operation is IDEMPOTENT and the recovery procedure is simply to
run it again until every returned count is 0.

Deliberate limit: forgetting EVERY remaining vector of the index
raises — an all-partitions-deleted parquet dataset is unreadable
(no schema to infer), so a total wipe must go through
removing the index's directory + rebuild instead of masquerading as a
row-level delete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _heal_pruned_forget(spark, fs, hpath, path: str) -> None:
    """Entry-time recovery for the file-pruned swap. The commit marker
    (``._forget_commit``) splits the crash window in two:

    - marker ABSENT: the run died before its commit point — any file
      moved aside to ``._forget_prev`` is an original that must come
      BACK (survivor files were not yet moved in, so restoring cannot
      duplicate rows); staging is then stale.
    - marker PRESENT: the originals are all safely aside and some
      staged survivor files may already be live — roll FORWARD by
      moving the remaining staged files in (moved ones are no longer
      in staging, so this is idempotent), then drop the originals.

    A roll-forward STAMPS the removed originals (their partition-
    relative names under ``._forget_prev``, mapped back to dataset
    paths) BEFORE deleting the evidence — the crashed run may have
    died before writing its own stamp, and stamping after the
    cleanup would reopen the exact window being healed (crash between
    cleanup and stamp → evidence gone → versions expired by the
    takedown permanently report "unknown rewrite"). Files the crashed
    run DID stamp are skipped, so a crash after its stamp does not
    double-record.
    """
    from ..sinks.fsutil import remove_stale
    from ..sinks.versions import _rewrite_records, record_rewrite

    prev = hpath(path.rstrip("/") + "._forget_prev")
    staging = hpath(path.rstrip("/") + "._forget_staging")
    marker = hpath(path.rstrip("/") + "._forget_commit")
    if fs.exists(marker):
        healed_removed: list[str] = []
        if fs.exists(prev):
            prev_q = fs.makeQualified(prev).toString().rstrip("/")
            # stamps are matched against manifest entries, which are
            # FULLY QUALIFIED (sinks.versions._data_files) — map the
            # prev-relative names back through the qualified root
            root_q = fs.makeQualified(hpath(path)).toString().rstrip("/")
            it = fs.listFiles(prev, True)
            while it.hasNext():
                p = it.next().getPath()
                name = p.getName()
                if name.endswith(".parquet") and not name.startswith(
                    ("_", ".")
                ):
                    rel = p.toString()[len(prev_q) + 1 :]
                    healed_removed.append(f"{root_q}/{rel}")
        if fs.exists(staging):
            _move_tree(fs, hpath, path.rstrip("/") + "._forget_staging", path)
        already = {
            f
            for rec in _rewrite_records(fs, hpath, path)
            for f in rec["files"]
        }
        unstamped = [f for f in healed_removed if f not in already]
        if unstamped:
            record_rewrite(spark, path, unstamped)
        remove_stale(fs, prev, staging, marker)
    else:
        if fs.exists(prev):
            _move_tree(fs, hpath, path.rstrip("/") + "._forget_prev", path)
        remove_stale(fs, prev, staging)


def _move_tree(fs, hpath, src_root: str, dst_root: str) -> None:
    """Move every data file under ``src_root`` to the SAME relative
    path under ``dst_root`` (partition subdirectories preserved),
    creating parent directories as needed. Idempotent for the heal
    paths: files already moved are no longer under ``src_root``."""
    from ..sinks.fsutil import checked_rename

    src_q = fs.makeQualified(hpath(src_root)).toString().rstrip("/")
    it = fs.listFiles(hpath(src_root), True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        rel = p.toString()[len(src_q) + 1 :]
        dst = hpath(f"{dst_root.rstrip('/')}/{rel}")
        parent = dst.getParent()
        if parent is not None:
            fs.mkdirs(parent)
        checked_rename(fs, p, dst)


def _forget_plain(
    spark: SparkSession, path: str, ids: DataFrame, key: str
) -> int:
    """File-pruned anti-join rewrite; returns rows removed (0 rows →
    no rewrite at all). Only the files that actually contain doomed
    ids are read twice and rewritten — the rest of the dataset is
    never opened again after the pruning semi-join, and its files
    stay byte-identical (versioning manifests over them stay valid).

    Scale shape: ONE scan finds (file, doomed-rows) pairs — the scan
    reads only ``key`` thanks to column pruning — then the anti-join
    rewrite reads just the affected files. A takedown's cost is
    O(affected files), not O(corpus)."""
    from ..operators.merge import (
        recover_interrupted_swap,
        replace_dataset_atomically,
    )
    from ..sinks.fsutil import checked_rename, hadoop_fs
    from ..sinks.versions import _data_files, record_rewrite

    # heal BOTH protocols before reading: a crashed legacy whole-swap
    # (._previous holds the only copy) and a crashed pruned swap
    recover_interrupted_swap(spark, path)
    fs, hpath = hadoop_fs(spark, path)
    _heal_pruned_forget(spark, fs, hpath, path)

    doomed = ids.withColumnRenamed(ids.columns[0], key)
    per_file = (
        spark.read.parquet(path)
        .withColumn("_file", F.input_file_name())
        .join(doomed, key, "left_semi")
        .groupBy("_file")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    n = sum(int(r["cnt"]) for r in per_file)
    if n == 0:
        return 0

    # map input_file_name URIs (file:///x, percent-encoded) onto the
    # listing's Path strings (file:/x) by normalized (authority, path)
    # — basenames are NOT unique across partition directories (one
    # dynamic-partition task writes the same part-NNNNN-uuid name into
    # several k=v dirs), so full paths are the only safe join key
    from urllib.parse import unquote, urlparse

    def norm(p: str) -> tuple[str, str]:
        u = urlparse(p)
        return (u.netloc, unquote(u.path)) if u.scheme else ("", p)

    listed = _data_files(fs, hpath, path)
    root_q = fs.makeQualified(hpath(path)).toString().rstrip("/")
    by_path = {norm(f): f for f in listed}
    affected = sorted(by_path.get(norm(r["_file"]), "") for r in per_file)
    # hive partition keys from the files' relative directories: every
    # dir segment must be k=v with one consistent key sequence, else
    # the layout isn't partition-structured and pruning isn't safe
    part_keys: list[str] | None = []
    for f in listed:
        rel_dir = f[len(root_q) + 1 :].rsplit("/", 1)
        segs = rel_dir[0].split("/") if len(rel_dir) == 2 else []
        keys = []
        for seg in segs:
            eq = seg.split("=", 1)
            if len(eq) != 2 or not eq[0]:
                part_keys = None
                break
            keys.append(eq[0])
        if part_keys is None:
            break
        if not part_keys:
            part_keys = keys
        elif keys != part_keys:
            part_keys = None
            break
    if part_keys is None or "" in affected or len(affected) == len(listed):
        # a layout that isn't hive-partitioned (stray subdirectories),
        # an unmappable file URI, or every file affected: pruning is
        # unsafe or buys nothing — whole-dataset swap
        current = spark.read.parquet(path)
        remaining = current.join(doomed, key, "left_anti").localCheckpoint(
            eager=True  # the swap rewrites the path this lineage reads
        )
        replace_dataset_atomically(spark, path, remaining)
        return n

    # basePath keeps partition columns in the pruned read, so
    # partitioned survivors rewrite back into their own partition
    # directories (same writer, same value formatting)
    survivors = (
        spark.read.option("basePath", path.rstrip("/"))
        .parquet(*affected)
        .join(doomed, key, "left_anti")
        .localCheckpoint(eager=True)  # the renames below invalidate it
    )
    staging = path.rstrip("/") + "._forget_staging"
    prev = path.rstrip("/") + "._forget_prev"
    marker = path.rstrip("/") + "._forget_commit"
    writer = survivors.write.mode("overwrite").option("compression", "snappy")
    if part_keys:
        writer = writer.partitionBy(*part_keys)
    writer.parquet(staging)
    # phase 1: move the affected originals aside, partition-relative
    fs.mkdirs(hpath(prev))
    for f in affected:
        rel = f[len(root_q) + 1 :]
        dst = hpath(f"{prev}/{rel}")
        parent = dst.getParent()
        if parent is not None:
            fs.mkdirs(parent)
        checked_rename(fs, hpath(f), dst)
    # commit point: from here recovery rolls FORWARD, never back
    fs.create(hpath(marker), True).close()
    # stamp BEFORE the cleanup below deletes the recovery evidence:
    # past the commit point the removal of `affected` is inevitable
    # (heal rolls forward), so the stamp is never premature — while
    # stamping after the deletes would leave a crash window in which
    # the expired versions permanently blame an "unknown rewrite".
    # A crash between marker and stamp is covered by the heal, which
    # stamps from ._forget_prev.
    record_rewrite(spark, path, affected)
    # phase 2: move survivor files in at their partition-relative
    # paths (fresh writer UUID — no collision with surviving
    # originals)
    _move_tree(fs, hpath, staging, path)
    fs.delete(hpath(prev), True)
    fs.delete(hpath(staging), True)
    fs.delete(hpath(marker), False)
    return n


def _heal_index_cells(fs, hpath, coded_path: str) -> None:
    """Entry-time recovery for the per-cell swaps: any cell saved in
    the ._forget_prev area whose live directory is missing was caught
    mid-swap — restore it; everything else there (and any stale
    staging) is leftover from a completed or restartable step and is
    safe to clear."""
    from ..sinks.fsutil import checked_rename, remove_stale

    prev_root = hpath(coded_path + "._forget_prev")
    if fs.exists(prev_root):
        it = fs.listStatus(prev_root)
        for st in it:
            name = st.getPath().getName()
            live = hpath(f"{coded_path}/{name}")
            if name.startswith("cell=") and not fs.exists(live):
                checked_rename(fs, st.getPath(), live)
        fs.delete(prev_root, True)
    remove_stale(fs, hpath(coded_path + "._forget_staging"))


def _forget_index_cells(
    spark: SparkSession, index_path: str, ids: DataFrame
) -> int:
    """Partition-scoped deletion from the IVF+PQ coded table: rewrite
    only the cells holding forgotten ids, each via an atomic rename
    swap; drop cells left empty."""
    from ..sinks.fsutil import checked_rename, hadoop_fs
    from ..sinks.versions import _data_files, _versions_dir, record_rewrite

    coded_path = index_path.rstrip("/") + "/coded"
    fs, hpath = hadoop_fs(spark, coded_path)
    _heal_index_cells(fs, hpath, coded_path)

    coded = spark.read.parquet(coded_path)
    doomed = ids.withColumnRenamed(ids.columns[0], "id")
    # one pass: affected cells AND the removed-row total together
    per_cell = {
        int(r["cell"]): int(r["cnt"])
        for r in coded.join(doomed, "id", "left_semi")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    if not per_cell:
        return 0
    n = sum(per_cell.values())
    cells = sorted(per_cell)
    survivors = (
        coded.where(F.col("cell").isin(cells))
        .join(doomed, "id", "left_anti")
        .localCheckpoint(eager=True)  # the swaps rewrite what this read
    )
    kept = {
        int(r["cell"]) for r in survivors.select("cell").distinct().collect()
    }
    emptied = [c for c in cells if c not in kept]
    existing = [
        st.getPath().getName()
        for st in fs.listStatus(hpath(coded_path))
        if st.getPath().getName().startswith("cell=")
    ]
    if len(emptied) >= len(existing):
        raise ValueError(
            "forget_documents: deleting every remaining vector would leave "
            "an unreadable empty index (no partitions, no schema); drop the "
            "index's directory and rebuild instead"
        )

    # versioning stamp input: the affected cells' current files (the
    # swaps below replace or delete exactly these); listed only when
    # the coded table actually has versions
    removed_files = (
        [
            f
            for cell in cells
            for f in _data_files(fs, hpath, f"{coded_path}/cell={cell}")
        ]
        if fs.exists(hpath(_versions_dir(coded_path)))
        else []
    )
    # stamp BEFORE the swaps: a stamp is attribution metadata consulted
    # only for files that ARE missing, so recording files that a crash
    # leaves live is inert — whereas stamping after the swaps leaves a
    # window (crash between the last rename and the stamp) in which
    # the versions this takedown expired blame an "unknown rewrite"
    # with the evidence already gone.
    record_rewrite(spark, coded_path, removed_files)
    staging = coded_path + "._forget_staging"
    prev_root = coded_path + "._forget_prev"
    if kept:
        (
            survivors.repartition(len(kept), "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(staging)
        )
        fs.mkdirs(hpath(prev_root))
        for cell in sorted(kept):
            live = hpath(f"{coded_path}/cell={cell}")
            prev = hpath(f"{prev_root}/cell={cell}")
            # the dangerous window per cell is between these renames; a
            # crash there is healed at the next call's entry (restore
            # from ._forget_prev), after which the re-run re-removes
            checked_rename(fs, live, prev)
            checked_rename(fs, hpath(f"{staging}/cell={cell}"), live)
        fs.delete(hpath(prev_root), True)
        fs.delete(hpath(staging), True)
    # fully-emptied cells: every row in them is doomed, so a direct
    # delete is idempotent — a crash mid-loop just re-deletes
    for cell in emptied:
        fs.delete(hpath(f"{coded_path}/cell={cell}"), True)
    return n


def forget_documents(
    ids: DataFrame,
    warehouse_path: str | None = None,
    neardup_store_path: str | None = None,
    ann_index_path: str | None = None,
) -> dict[str, int]:
    """Remove every trace of ``ids`` (a DataFrame whose ``doc_id``
    column holds the doomed ids) from the given
    artifacts. Returns rows removed per artifact — re-run after a
    crash until every count is 0 (idempotent convergence)."""
    spark = ids.sparkSession
    key_ids = (
        ids.select(F.col("doc_id").alias("_doomed"))
        .where(F.col("_doomed").isNotNull())
        .dropDuplicates(["_doomed"])
        .localCheckpoint(eager=True)  # joined against every artifact
    )
    removed: dict[str, int] = {}
    if ann_index_path is not None:
        # The index total-wipe guard must fire BEFORE any artifact is
        # mutated: the index step runs last, so raising only there
        # would leave the warehouse/store deletions already applied —
        # and the documented "rerun until every count is 0" recovery
        # would re-raise forever instead of converging.
        from ..sinks.fsutil import hadoop_fs

        coded_path = ann_index_path.rstrip("/") + "/coded"
        fs, hpath = hadoop_fs(spark, coded_path)
        _heal_index_cells(fs, hpath, coded_path)
        no_survivors = (
            spark.read.parquet(coded_path)
            .join(key_ids.withColumnRenamed("_doomed", "id"), "id", "left_anti")
            .isEmpty()
        )
        if no_survivors:
            raise ValueError(
                "forget_documents: deleting every remaining vector would "
                "leave an unreadable empty index (no partitions, no "
                "schema); drop the index's directory and rebuild "
                "instead — no artifact was modified"
            )
    if warehouse_path is not None:
        removed["warehouse"] = _forget_plain(
            spark, warehouse_path, key_ids, "doc_id"
        )
    if neardup_store_path is not None:
        removed["neardup_store"] = _forget_plain(
            spark, neardup_store_path.rstrip("/") + "/signatures", key_ids, "id"
        )
    if ann_index_path is not None:
        removed["ann_index"] = _forget_index_cells(
            spark, ann_index_path, key_ids
        )
    return removed
