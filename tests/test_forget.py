"""Consistent deletion across persisted artifacts (llm/forget.py)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import forget as FG
from etl_procedure_codes_crawler_spark.llm import index as IX
from etl_procedure_codes_crawler_spark.llm import neardup_store as NS


def _ids(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id bigint")


def test_forget_removes_from_every_artifact_idempotently(
    spark, sf_dir, tmp_path
):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )
    wh = str(tmp_path / "wh")
    nd = str(tmp_path / "nd")
    ix = str(tmp_path / "ix")
    docs.write.parquet(wh)
    NS.build_minhash_store(docs, nd)
    IX.build_ivfpq_index(emb, ix, num_centroids=8)

    doomed = [3, 7, 11]
    removed = FG.forget_documents(
        _ids(spark, doomed),
        warehouse_path=wh,
        neardup_store_path=nd,
        ann_index_path=ix,
    )
    assert removed["warehouse"] == 3
    assert removed["neardup_store"] == 3  # one signature row per doc
    assert removed["ann_index"] == 3

    for path, col in [(wh, "doc_id"), (f"{nd}/signatures", "id"),
                      (f"{ix}/coded", "id")]:
        left = {r[col] for r in spark.read.parquet(path).select(col).collect()}
        assert not (left & set(doomed)), path

    # the index still serves, and never returns a forgotten id
    out = IX.query_ivfpq_index(
        spark, ix, emb.filter(F.col("vec_id").isin([1, 2])), k=5, nprobe=8
    )
    assert not {r.neighbor_id for r in out.collect()} & set(doomed)

    # idempotent: a re-run (the documented crash recovery) removes 0
    again = FG.forget_documents(
        _ids(spark, doomed),
        warehouse_path=wh,
        neardup_store_path=nd,
        ann_index_path=ix,
    )
    assert set(again.values()) == {0}


def test_forget_drops_emptied_index_cells(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite only replaces partitions present in
    the written data — a cell whose every vector is forgotten must be
    deleted outright, not silently left holding its old files."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    ix = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, ix, num_centroids=8)
    coded = spark.read.parquet(f"{ix}/coded")
    # pick one whole cell to erase
    cell = coded.groupBy("cell").count().orderBy("count").first()["cell"]
    cell_ids = [r.id for r in coded.filter(F.col("cell") == cell).collect()]
    removed = FG.forget_documents(
        spark.createDataFrame([(i,) for i in cell_ids], "doc_id bigint"),
        ann_index_path=ix,
    )
    assert removed["ann_index"] == len(cell_ids)
    assert not os.path.isdir(f"{ix}/coded/cell={cell}")
    # other cells untouched, index still queryable
    remaining = spark.read.parquet(f"{ix}/coded")
    assert remaining.filter(F.col("cell") == cell).count() == 0
    out = IX.query_ivfpq_index(spark, ix, emb.limit(3), k=3, nprobe=8)
    assert out.count() > 0


def test_forget_noop_for_absent_ids(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    wh = str(tmp_path / "wh")
    docs.write.parquet(wh)
    removed = FG.forget_documents(
        _ids(spark, [10**9]), warehouse_path=wh
    )
    assert removed == {"warehouse": 0}
    assert spark.read.parquet(wh).count() == 10


def test_forget_recovers_interrupted_plain_swap(spark, sf_dir, tmp_path):
    """Crash inside the warehouse swap window (path renamed aside,
    replacement not yet in): the documented recovery — just re-run —
    must restore and converge, not throw on the missing path."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    wh = str(tmp_path / "wh")
    docs.write.parquet(wh)
    os.rename(wh, wh + "._previous")  # the dangerous window
    removed = FG.forget_documents(_ids(spark, [3]), warehouse_path=wh)
    assert removed["warehouse"] == 1
    left = {r.doc_id for r in spark.read.parquet(wh).collect()}
    assert 3 not in left and len(left) == 19


def test_forget_recovers_interrupted_cell_swap(spark, sf_dir, tmp_path):
    """Crash between the two renames of one cell's swap: the cell dir
    is missing and ._forget_prev holds the only copy — the re-run must
    restore it first, then converge."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )
    ix = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, ix, num_centroids=8)
    coded = spark.read.parquet(f"{ix}/coded")
    cell = coded.groupBy("cell").count().orderBy(F.desc("count")).first()["cell"]
    victim = coded.filter(F.col("cell") == cell).first()["id"]
    # simulate: that cell renamed aside mid-swap (after the victim
    # lookup — the stale pre-rename file listing must not be re-read)
    os.makedirs(f"{ix}/coded._forget_prev", exist_ok=True)
    os.rename(f"{ix}/coded/cell={cell}", f"{ix}/coded._forget_prev/cell={cell}")
    removed = FG.forget_documents(
        _ids(spark, [victim]), ann_index_path=ix
    )
    assert removed["ann_index"] == 1
    after = spark.read.parquet(f"{ix}/coded")
    assert after.filter(F.col("id") == victim).count() == 0
    # the healed cell kept its innocent rows
    assert after.filter(F.col("cell") == cell).count() > 0
    assert not os.path.exists(f"{ix}/coded._forget_prev")


def _file_state(path):
    """(name -> (size, sha256)) for every data file in a flat dataset."""
    import hashlib

    out = {}
    for f in glob.glob(os.path.join(path, "*.parquet")):
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = (
                os.path.getsize(f),
                hashlib.sha256(fh.read()).hexdigest(),
            )
    return out


def test_forget_plain_rewrites_only_affected_files(spark, tmp_path):
    """The 100 TB story: a takedown confined to 2 of 1000 files must
    rewrite exactly those 2 — every other file byte-identical after."""
    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, f"t{i}") for i in range(1000)], "doc_id bigint, text string"
    ).repartition(1000).write.parquet(wh)
    before = _file_state(wh)
    assert len(before) >= 500  # AQE may coalesce a few empty splits
    # find two files and one doomed id from each
    rows = (
        spark.read.parquet(wh)
        .withColumn("_f", F.input_file_name())
        .select("doc_id", "_f")
        .collect()
    )
    by_file = {}
    for r in rows:
        by_file.setdefault(os.path.basename(r["_f"]), []).append(r["doc_id"])
    names = sorted(by_file)[:2]
    doomed = [by_file[names[0]][0], by_file[names[1]][0]]

    removed = FG.forget_documents(_ids(spark, doomed), warehouse_path=wh)
    assert removed["warehouse"] == 2
    after = _file_state(wh)
    untouched_before = {k: v for k, v in before.items() if k not in names}
    assert all(after.get(k) == v for k, v in untouched_before.items())
    assert not any(n in after for n in names)  # originals replaced
    left = spark.read.parquet(wh)
    assert left.count() == 998
    assert left.filter(F.col("doc_id").isin(doomed)).count() == 0
    # no protocol droppings
    for suffix in ("._forget_prev", "._forget_staging", "._forget_commit"):
        assert not os.path.exists(wh + suffix)


def test_forget_plain_heals_precommit_crash(spark, tmp_path):
    """Crash BEFORE the commit marker: originals sit in ._forget_prev,
    survivors not yet moved in — heal must restore the originals (no
    row may vanish from a half-done takedown) and the re-run must
    converge with no duplicates."""
    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id bigint"
    ).repartition(10).write.parquet(wh)
    # simulate: one file moved aside, staging written, NO marker
    victim_file = sorted(glob.glob(os.path.join(wh, "*.parquet")))[0]
    os.makedirs(wh + "._forget_prev")
    os.makedirs(wh + "._forget_staging")
    os.rename(
        victim_file,
        os.path.join(wh + "._forget_prev", os.path.basename(victim_file)),
    )
    removed = FG.forget_documents(_ids(spark, [5]), warehouse_path=wh)
    assert removed["warehouse"] == 1
    left = spark.read.parquet(wh)
    assert left.count() == 99  # nothing lost, nothing duplicated
    assert left.select("doc_id").distinct().count() == 99


def test_forget_plain_heals_postcommit_crash(spark, tmp_path):
    """Crash AFTER the commit marker: originals aside, some survivor
    files already live — heal rolls FORWARD (restoring originals here
    would duplicate survivors)."""
    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, f"t{i}") for i in range(60)], "doc_id bigint, text string"
    ).repartition(6).write.parquet(wh)
    # run a real pruned forget but crash it at the marker by invoking
    # the internals: easier — construct the post-commit state by hand

    files = sorted(glob.glob(os.path.join(wh, "*.parquet")))
    affected = files[0]
    aff_ids = [
        r.doc_id
        for r in spark.read.parquet(affected).select("doc_id").collect()
    ]
    doomed = aff_ids[:2]
    survivors = spark.read.parquet(affected).filter(
        ~F.col("doc_id").isin(doomed)
    ).localCheckpoint(eager=True)
    survivors.write.parquet(wh + "._forget_staging")
    os.makedirs(wh + "._forget_prev")
    os.rename(
        affected, os.path.join(wh + "._forget_prev", os.path.basename(affected))
    )
    open(wh + "._forget_commit", "w").close()  # commit point passed
    # crash: staged files NOT moved in. Re-run must roll forward first.
    removed = FG.forget_documents(_ids(spark, doomed), warehouse_path=wh)
    # roll-forward completed the original takedown; re-run then found 0
    assert removed["warehouse"] == 0
    left = spark.read.parquet(wh)
    assert left.count() == 58
    assert left.select("doc_id").distinct().count() == 58
    assert left.filter(F.col("doc_id").isin(doomed)).count() == 0
    for suffix in ("._forget_prev", "._forget_staging", "._forget_commit"):
        assert not os.path.exists(wh + suffix)


def test_postcommit_heal_stamps_the_rewrite(spark, tmp_path):
    """A run that crashes AFTER its commit point died before stamping
    its rewrite: the heal's roll-forward must stamp the removed files
    itself, or the versions it expired would blame an 'unknown
    rewrite' instead of the takedown."""
    from etl_procedure_codes_crawler_spark.sinks.versions import (
        commit_version,
        list_versions,
    )

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, f"t{i}") for i in range(60)], "doc_id bigint, text string"
    ).repartition(6).write.parquet(wh)
    commit_version(spark, wh, note="pre-takedown")
    files = sorted(glob.glob(os.path.join(wh, "*.parquet")))
    affected = files[0]
    doomed = [
        r.doc_id
        for r in spark.read.parquet(affected).select("doc_id").collect()
    ][:2]
    survivors = spark.read.parquet(affected).filter(
        ~F.col("doc_id").isin(doomed)
    ).localCheckpoint(eager=True)
    survivors.write.parquet(wh + "._forget_staging")
    os.makedirs(wh + "._forget_prev")
    os.rename(
        affected, os.path.join(wh + "._forget_prev", os.path.basename(affected))
    )
    open(wh + "._forget_commit", "w").close()
    # crash; the re-run heals forward AND stamps
    removed = FG.forget_documents(_ids(spark, doomed), warehouse_path=wh)
    assert removed["warehouse"] == 0
    detail = list_versions(spark, wh, detail=True)
    assert len(detail) == 1
    assert not detail[0]["readable"]
    assert "forget" in detail[0]["expired_by"]
    assert "unknown" not in detail[0]["expired_by"]


def test_postcommit_heal_skips_already_stamped_files(spark, tmp_path):
    """Stamps are written BEFORE the cleanup deletes the recovery
    evidence, so a crash between the stamp and the cleanup leaves
    both the stamp AND ._forget_prev behind — the heal's roll-forward
    must recognize the existing stamp and not record the same files a
    second time."""
    import json

    from etl_procedure_codes_crawler_spark.sinks.versions import (
        commit_version,
        list_versions,
        record_rewrite,
    )

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, f"t{i}") for i in range(60)], "doc_id bigint, text string"
    ).repartition(6).write.parquet(wh)
    commit_version(spark, wh, note="pre-takedown")
    files = sorted(glob.glob(os.path.join(wh, "*.parquet")))
    affected = files[0]
    with open(os.path.join(wh + "._versions", "v1.json")) as fh:
        manifest = json.load(fh)
    qualified = [
        f
        for f in manifest["files"]
        if f.endswith("/" + os.path.basename(affected))
    ]
    assert len(qualified) == 1
    doomed = [
        r.doc_id
        for r in spark.read.parquet(affected).select("doc_id").collect()
    ][:2]
    survivors = spark.read.parquet(affected).filter(
        ~F.col("doc_id").isin(doomed)
    ).localCheckpoint(eager=True)
    survivors.write.parquet(wh + "._forget_staging")
    os.makedirs(wh + "._forget_prev")
    os.rename(
        affected, os.path.join(wh + "._forget_prev", os.path.basename(affected))
    )
    open(wh + "._forget_commit", "w").close()
    # the crashed run got as far as its stamp — then died pre-cleanup
    record_rewrite(spark, wh, qualified)
    removed = FG.forget_documents(_ids(spark, doomed), warehouse_path=wh)
    assert removed["warehouse"] == 0
    stamps = glob.glob(os.path.join(wh + "._versions", "_rewrites", "rw*.json"))
    assert len(stamps) == 1, f"heal double-stamped: {stamps}"
    detail = list_versions(spark, wh, detail=True)
    assert not detail[0]["readable"]
    assert detail[0]["expired_by"] == "forget (rw1)"


def test_forget_preserves_untouched_version_manifests(spark, tmp_path):
    """File pruning keeps time travel alive through takedowns: a
    version whose files a later forget never touched must stay
    readable; versions referencing rewritten files expire with the
    takedown named as the cause."""
    from etl_procedure_codes_crawler_spark.sinks import versions as V

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id bigint"
    ).repartition(1).write.parquet(wh)
    v1 = V.commit_version(spark, wh, note="first batch")
    spark.createDataFrame(
        [(i,) for i in range(100, 110)], "doc_id bigint"
    ).repartition(1).write.mode("append").parquet(wh)
    v2 = V.commit_version(spark, wh, note="second batch")

    # doomed ids live only in the SECOND batch's file
    removed = FG.forget_documents(_ids(spark, [100, 105]), warehouse_path=wh)
    assert removed["warehouse"] == 2
    # v1's file was untouched — still readable
    assert {r.doc_id for r in V.read_version(spark, wh, v1).collect()} == set(
        range(10)
    )
    # v2 referenced the rewritten file — expired, attributed to forget
    import pytest as _pytest

    with _pytest.raises(ValueError, match="forget"):
        V.read_version(spark, wh, v2)
    detail = V.list_versions(spark, wh, detail=True)
    status = {d["version"]: d for d in detail}
    assert status[v1]["readable"] and status[v1]["expired_by"] is None
    assert not status[v2]["readable"]
    assert "forget" in status[v2]["expired_by"]


def test_forget_partitioned_dataset_rewrites_only_affected_partitions(
    spark, tmp_path
):
    """Hive-partitioned warehouses (the K1 sink's load_date= layout)
    keep their layout through a takedown: survivors return to their
    OWN partition directories and untouched partitions stay
    byte-identical."""
    import hashlib

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "doc_id bigint, part int"
    ).repartition(3, "part").write.partitionBy("part").parquet(wh)

    def state(part):
        out = {}
        for f in glob.glob(os.path.join(wh, f"part={part}", "*.parquet")):
            with open(f, "rb") as fh:
                out[os.path.basename(f)] = hashlib.sha256(fh.read()).hexdigest()
        return out

    before = {p: state(p) for p in (0, 1, 2)}
    # doomed ids live only in partition 1 (1 % 3 == 1, 7 % 3 == 1)
    removed = FG.forget_documents(_ids(spark, [1, 7]), warehouse_path=wh)
    assert removed["warehouse"] == 2
    left = spark.read.parquet(wh)
    assert left.count() == 28
    assert left.filter(F.col("doc_id").isin([1, 7])).count() == 0
    # partition column survived AND pruning still works
    assert left.filter(F.col("part") == 1).count() == 8
    assert left.filter(F.col("part") == 0).count() == 10
    # untouched partitions byte-identical; affected one rewritten
    assert state(0) == before[0] and state(2) == before[2]
    assert state(1) != before[1]
    # layout intact: every data file still under a part= directory
    stray = [
        f for f in glob.glob(os.path.join(wh, "*.parquet"))
    ]
    assert stray == []
    for suffix in ("._forget_prev", "._forget_staging", "._forget_commit"):
        assert not os.path.exists(wh + suffix)


def test_forget_partitioned_heals_precommit_crash(spark, tmp_path):
    """Roll-back healing preserves partition-relative paths: a file
    stranded in ._forget_prev/part=1/ must return to part=1/, not the
    dataset root."""
    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "doc_id bigint, part int"
    ).repartition(2, "part").write.partitionBy("part").parquet(wh)
    victim = glob.glob(os.path.join(wh, "part=1", "*.parquet"))[0]
    os.makedirs(os.path.join(wh + "._forget_prev", "part=1"))
    os.rename(
        victim,
        os.path.join(wh + "._forget_prev", "part=1", os.path.basename(victim)),
    )
    removed = FG.forget_documents(_ids(spark, [3]), warehouse_path=wh)
    assert removed["warehouse"] == 1
    left = spark.read.parquet(wh)
    assert left.count() == 19
    assert left.filter(F.col("part") == 1).count() == 9
    assert glob.glob(os.path.join(wh, "*.parquet")) == []  # layout intact


def test_index_maintenance_stamps_versioned_coded_table(
    spark, sf_dir, tmp_path
):
    """The ANN index's cell-scoped forget stamps its rewrites too, so a
    versioned coded table explains its expiry like any warehouse."""
    from etl_procedure_codes_crawler_spark.llm import index as IX
    from etl_procedure_codes_crawler_spark.sinks import versions as V

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )
    ix = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, ix, num_centroids=8)
    coded = f"{ix}/coded"
    v = V.commit_version(spark, coded)
    victim = spark.read.parquet(coded).first()["id"]
    FG.forget_documents(_ids(spark, [int(victim)]), ann_index_path=ix)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="forget"):
        V.read_version(spark, coded, v)
    # versioned read of the partitioned layout still carries `cell`
    v2 = V.commit_version(spark, coded)
    assert "cell" in V.read_version(spark, coded, v2).columns


def test_forget_total_index_wipe_raises(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 30
    )
    ix = str(tmp_path / "ix")
    IX.build_ivfpq_index(emb, ix, num_centroids=4)
    all_ids = [r.id for r in spark.read.parquet(f"{ix}/coded").select("id").collect()]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unreadable empty index"):
        FG.forget_documents(
            spark.createDataFrame([(i,) for i in all_ids], "doc_id bigint"),
            ann_index_path=ix,
        )
    # nothing was deleted by the refused operation
    assert spark.read.parquet(f"{ix}/coded").count() == len(all_ids)
