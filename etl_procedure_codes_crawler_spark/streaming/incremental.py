"""Streaming ingest gates — the reference's batch-incremental pattern
(read existing → dedup new keys → append) as continuous pipelines.

The reference reruns the whole job per LOGICAL_DATE
(``crawler/src/procedure_code.py:686-691``, ``:745-811``); here the
same semantics run forever: new files landing in a source directory are
discovered by the file stream, and each micro-batch passes through
``foreachBatch`` where full batch-DataFrame machinery (anti-join
against the live warehouse snapshot) is available — streaming joins
against a mutable sink aren't expressible declaratively, so
``foreachBatch`` is the sanctioned escape hatch.

Exactly-once story (two layers, both needed at scale):
- the checkpoint makes source progress durable — a restart resumes at
  the first unprocessed file, never re-reading finished ones;
- the per-batch anti-join makes REPLAYED batches idempotent — if a
  crash lands between "batch written" and "checkpoint committed", the
  replay dedups against what the crashed attempt already appended and
  writes nothing twice.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.parquet import read_table_or_empty


#: the budget stats artifact: one row per (stream, batch, source)
_BUDGET_STATS_SCHEMA = (
    "gate_id string, batch_id bigint, source string, n_tokens bigint"
)


def _stream_gate_id(spark: SparkSession, checkpoint_dir: str) -> str:
    """Stable identity of THIS stream incarnation: the StreamingQuery
    id persisted in ``<checkpoint>/metadata``. Survives crash-restarts
    (same checkpoint → same id, so a replayed batch can recognize its
    own earlier stats row) and rolls over when the checkpoint is wiped
    (new id → the old epoch's rows count as plain history, never as
    "my own attempt")."""
    import json as _json

    from ..sinks.fsutil import hadoop_fs

    fs, hpath = hadoop_fs(spark, checkpoint_dir)
    p = hpath(checkpoint_dir.rstrip("/") + "/metadata")
    if not fs.exists(p):
        # foreachBatch only runs after the stream wrote its metadata;
        # a missing file means a non-standard harness drove the sink
        # directly — degrade to a shared epoch (budget still enforced;
        # replay self-exclusion keys on batch_id alone)
        return "epoch0"
    jvm = spark._jvm
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(p), "UTF-8")
    )
    try:
        chunks = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            chunks.append(line)
    finally:
        reader.close()
    return str(_json.loads("".join(chunks))["id"])


#: shuffle width of the ingest gates' sink bodies: their exchanges are
#: BATCH-sized (hash relations, per-source aggregates), not
#: corpus-sized, so at a wide session default (e.g. 32+ for the corpus
#: queries) each tiny exchange pays pure task-scheduling latency. AQE
#: still coalesces below it.
GATE_SHUFFLE_PARTITIONS = 8


def narrow_shuffle(spark: SparkSession):
    """Decorate a ``foreachBatch`` sink to run under
    :data:`GATE_SHUFFLE_PARTITIONS`, restoring the session's setting
    after each batch."""

    def wrap(body):
        def sink(batch: DataFrame, batch_id: int) -> None:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(GATE_SHUFFLE_PARTITIONS)
            )
            try:
                body(batch, batch_id)
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)

        return sink

    return wrap


def start_file_stream(
    spark: SparkSession,
    schema: StructType,
    source_dir: str,
    checkpoint_dir: str,
    sink,
    max_files_per_trigger: int | None = None,
):
    """Start ``sink`` over the parquet files in ``source_dir`` as a
    ``foreachBatch`` stream that processes every file present and
    stops (``availableNow``); returns the StreamingQuery handle."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stage_stream_files(
    df: DataFrame, source_dir: str, prefix: str
) -> list[str]:
    """Write ``df`` into the file-stream source ``source_dir`` (created
    if missing) as one parquet file per partition, named
    ``{prefix}{i}.parquet``; returns their paths. The files are written
    to a sibling staging directory first and then renamed in, so a
    running stream never sees a half-written file."""
    os.makedirs(source_dir, exist_ok=True)
    staging = tempfile.mkdtemp(
        prefix=".staging-", dir=os.path.dirname(os.path.abspath(source_dir))
    )
    try:
        df.write.mode("overwrite").parquet(staging)
        parts = sorted(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        staged = []
        for i, part in enumerate(parts):
            staged.append(os.path.join(source_dir, f"{prefix}{i}.parquet"))
            os.replace(os.path.join(staging, part), staged[-1])
        return staged
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def drop_warehoused(
    spark: SparkSession, rows: DataFrame, warehouse_path: str, key: str
) -> DataFrame:
    """The replay-safety anti-join of every ingest gate: ``rows`` whose
    ``key`` the warehouse does not hold yet. Before the warehouse's
    first append this is ``rows`` itself (one filesystem stat, no join
    job), which a caller may test with ``is``."""
    from ..sinks.fsutil import hadoop_fs

    fs, hpath = hadoop_fs(spark, warehouse_path)
    if not fs.exists(hpath(warehouse_path)):
        return rows
    existing = spark.read.parquet(warehouse_path).select(key)
    return rows.join(existing, key, "left_anti")


def strip_at_admission(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    block: int,
    batch_key: str,
    min_doc_freq: int,
) -> DataFrame:
    """Boilerplate admission for one batch of (pinned, id-unique)
    ``docs``: their passages explode ONCE (pinned) and feed both the
    count append to the passage store under ``batch_key`` — the
    store's (batch_id, fp) read-side dedup collapses a replayed append
    — and the strip against the store's cumulative frequencies, which
    include this batch's own counts. ``block`` is the store's passage
    size. Returns ``docs``' columns, ``doc_id`` first, plus
    ``(n_passages, n_removed, text_clean)``: ids are unique, so ONE
    left join attaches the strip result, with ``_rebuild_cleaned``'s
    0/0/NULL defaults for token-less docs."""
    from ..llm import passagefreq as PF
    from ..llm.dedup import passage_rows

    chunks = passage_rows(docs, block).localCheckpoint(eager=True)
    PF.append_passage_counts(
        spark, store_path, docs, batch_id=batch_key, chunks=chunks
    )
    rebuilt = PF.strip_rebuilt_against_store(
        spark, store_path, chunks, min_doc_freq
    ).withColumnRenamed("id", "doc_id")
    cols = ["doc_id"] + [c for c in docs.columns if c != "doc_id"]
    return docs.join(rebuilt, "doc_id", "left").select(
        *cols,
        F.coalesce("n_passages", F.lit(0)).alias("n_passages"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.col("text_clean"),
    )


def read_consumed_tokens(
    spark: SparkSession, stats_path: str, gate_id: str, batch_id: int
) -> DataFrame:
    """Per-source consumed-token totals from the stats artifact — a
    relation of O(batches × sources) rows, NOT the corpus. Rows are
    deduped on (gate_id, batch_id, source) first: crash-replayed
    batches re-append byte-identical rows, so any surviving duplicate
    is exact and dedup restores the true sum. The calling batch's own
    rows (``gate_id``, ``batch_id``) are left out, so the batch sees
    the world as of BEFORE its first attempt — the replay-determinism
    contract of the unified gate's budget stage (:mod:`.unified`)."""
    return (
        read_table_or_empty(spark, stats_path, _BUDGET_STATS_SCHEMA)
        .filter(
            ~(
                (F.col("gate_id") == F.lit(gate_id))
                & (F.col("batch_id") == F.lit(int(batch_id)))
            )
        )
        .dropDuplicates(["gate_id", "batch_id", "source"])
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("_used"))
    )


def budget_filter(
    fresh: DataFrame,
    consumed: DataFrame,
    budgets: dict[str, int],
    text_col: str = "text",
) -> DataFrame:
    """The pure gate decision: keep each document whose per-source
    running token sum (in ``doc_id`` order — deterministic, so a replay
    re-makes identical decisions) fits within ``budget − consumed``.
    Sources missing from ``budgets`` are UNCAPPED (a new source
    appearing mid-stream must not be silently dropped). Returns the
    accepted rows with a ``_n_tok`` column attached so the caller can
    aggregate the batch's stats delta without re-tokenizing."""
    from pyspark.sql import Window

    from ..llm.text import token_count

    budget_col = None
    for src, cap in sorted(budgets.items()):
        branch = (
            F.when(F.col("source") == src, F.lit(int(cap)))
            if budget_col is None
            else budget_col.when(F.col("source") == src, F.lit(int(cap)))
        )
        budget_col = branch
    budget_col = (
        budget_col.otherwise(F.lit(None).cast("bigint"))
        if budget_col is not None
        else F.lit(None).cast("bigint")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        fresh.withColumn("_n_tok", token_count(text_col))
        .withColumn("_cum", F.sum("_n_tok").over(w))
        .join(F.broadcast(consumed), "source", "left")
        .withColumn("_budget", budget_col)
        .filter(
            F.col("_budget").isNull()
            | (
                F.coalesce(F.col("_used"), F.lit(0)) + F.col("_cum")
                <= F.col("_budget")
            )
        )
        .drop("_cum", "_used", "_budget")
    )


def stream_ingest_media_neardup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    store_path: str,
    checkpoint_dir: str,
):
    """The MEDIA ingest gate: perceptual near-dup dedup for image
    payloads at the corpus front door. Each batch is (1) id-deduped
    against the warehouse (replay safety), (2) decoded + perceptually
    hashed in ONE Arrow pass (:func:`..llm.multimodal.image_hashes`),
    (3) collapsed WITHIN the batch (the greater id of any pair within
    hamming 3 drops — a crawl burst carrying one image under
    many URLs), (4) gated against the persisted phash store (a
    re-hosted/re-encoded copy of anything accepted before is
    rejected), and (5) survivors append their payloads to the
    warehouse AND their 16-byte hash rows to the store.

    Decode-ERROR payloads (NULL phash) are ADMITTED past the
    perceptual stages — an undecodable object has no perceptual
    identity to compare, and the exact-id gate already holds; the
    error is preserved in the store-less hash relation for auditing
    upstream. Crash contract: heal-first (batch
    objects the warehouse already holds are offered to the store
    before any gating), store append BEFORE warehouse append
    (over-approximation only ever rejects a would-be duplicate
    earlier), id anti-join makes replays no-ops. The sink body runs at
    :data:`GATE_SHUFFLE_PARTITIONS`."""
    from ..llm import multimodal as MM
    from ..llm import phash_store as PS
    from ..llm.dedup import hamming_band_pairs

    @narrow_shuffle(spark)
    def _sink(batch: DataFrame, batch_id: int) -> None:
        # decode + hash FIRST: the whole gate then runs on the 4-column
        # hash relation, and the payload bytes are only read once more
        # at the final warehouse append (semi-join against accepted
        # ids). The previous shape checkpointed the payload rows twice
        # (rows + fresh) before hashing — at sf0.1 those payload
        # materializations were ~2 s of the gate's cost, and at 100 TB
        # a payload shuffle per batch is exactly the thing a
        # hashes-only gate exists to avoid. Heal path included: the
        # one decode pass covers warehoused rows too, so re-signing
        # them costs no second decode.
        raw = batch.filter(F.col("media_id").isNotNull())
        hashes_all = (
            MM.image_hashes(raw)
            .dropDuplicates(["media_id"])
            .localCheckpoint(eager=True)  # small: ids + 64-bit hashes
        )
        hashes = drop_warehoused(spark, hashes_all, warehouse_path, "media_id")
        if hashes is not hashes_all:
            hashes = hashes.localCheckpoint(eager=True)
            # heal-first: re-offer already-warehoused batch objects to
            # the store (its id anti-join no-ops the steady state) so a
            # crash between a prior warehouse append and store append
            # cannot leave accepted objects unsigned
            warehoused_h = hashes_all.join(hashes, "media_id", "left_anti")
            if not warehoused_h.isEmpty():
                PS.append_to_phash_store(
                    spark, store_path, warehoused_h
                )
        if hashes.isEmpty():
            return
        intra_pairs = hamming_band_pairs(
            hashes.filter(F.col("phash").isNotNull()),
            "phash",
            "media_id",
            max_hamming=3,
        )
        # intra-batch collapse: drop the greater id of any pair
        intra_losers = (
            intra_pairs.select(F.col("doc_b").alias("media_id")).distinct()
        )
        survivors_h = hashes.join(intra_losers, "media_id", "left_anti")
        # store gate: reject anything perceptually held already
        near = (
            PS.near_dups_against_phash_store(
                spark, store_path, survivors_h
            )
            .select(F.col("new_id").alias("media_id"))
            .distinct()
        )
        accepted_ids = survivors_h.select("media_id").join(
            near, "media_id", "left_anti"
        )
        accepted_ids = accepted_ids.localCheckpoint(eager=True)
        if accepted_ids.isEmpty():
            return
        # store BEFORE warehouse (see the crash contract)
        PS.append_to_phash_store(
            spark,
            store_path,
            hashes.join(accepted_ids, "media_id", "left_semi"),
        )
        # payloads re-enter here and ONLY here: semi-join the raw
        # batch against the (small, checkpointed) accepted ids; the
        # dedup-by-id runs after the semi-join so only accepted
        # payload rows ever shuffle
        raw.join(accepted_ids, "media_id", "left_semi").dropDuplicates(
            ["media_id"]
        ).write.mode("append").option(
            "compression", "snappy"
        ).parquet(warehouse_path)

    return start_file_stream(
        spark, schema, source_dir, checkpoint_dir, _sink
    )


def stream_ingest_with_boilerplate(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    store_path: str,
    checkpoint_dir: str,
    min_doc_freq: int = 50,
):
    """Passage-frequency-aware ingest: boilerplate is stripped AT
    ADMISSION against the persisted passage-frequency store
    (:mod:`..llm.passagefreq`), and the batch's own passage counts
    land in the store inside the same batch commit — the incremental
    form of :func:`..llm.passagefreq.strip_boilerplate_against_store`
    wired to the corpus front door. Each batch:

    1. id-dedups against the warehouse (replay safety — the standard
       exactly-once anti-join);
    2. APPENDS its passage counts to the store, keyed by the durable
       ``(stream id, batch id)`` identity (the budget gate's stats-
       artifact discipline): a crash between this append and the
       warehouse append re-offers the batch, the replay recomputes the
       identical segment under the same key, and the store's
       (batch_id, fp) read-side dedup collapses it — frequencies never
       inflate, and the replayed strip sees BIT-IDENTICAL store state;
    3. strips each fresh document against the store's cumulative
       frequencies — which include this batch's own counts, so a
       corpus offered as ONE batch matches the batch operator (and its
       DuckDB oracle) exactly;
    4. appends the original columns + ``(n_passages, n_removed,
       text_clean)`` to the warehouse.

    Across MULTIPLE batches the strip is deliberately monotone-
    approximate: an early document is judged against the frequencies
    known at its admission (a passage only later revealed as
    boilerplate stays in the early document's text_clean). That is
    the honest streaming contract — global frequencies do not exist
    until the corpus ends — and the store retains exact cumulative
    counts, so a serve-time re-strip
    (``strip_boilerplate_against_store`` over the warehouse) upgrades
    any document to the full-corpus judgment without rescanning
    history."""
    from functools import cache

    from ..llm import passagefreq as PF

    # fixed for the stream's lifetime: one read per stream, not one
    # whole job per micro-batch
    gate_id = cache(lambda: _stream_gate_id(spark, checkpoint_dir))
    block = cache(lambda: PF.load_passage_freq_meta(spark, store_path)["block"])

    def _sink(batch: DataFrame, batch_id: int) -> None:
        rows = batch.filter(F.col("doc_id").isNotNull()).dropDuplicates(
            ["doc_id"]
        )
        fresh = drop_warehoused(
            spark, rows, warehouse_path, "doc_id"
        ).localCheckpoint(eager=True)  # counted + stripped + joined
        if fresh.isEmpty():
            return
        strip_at_admission(
            spark,
            fresh,
            store_path,
            block(),
            f"{gate_id()}-{int(batch_id)}",
            min_doc_freq,
        ).write.mode("append").option("compression", "snappy").parquet(
            warehouse_path
        )

    return start_file_stream(
        spark, schema, source_dir, checkpoint_dir, _sink
    )
