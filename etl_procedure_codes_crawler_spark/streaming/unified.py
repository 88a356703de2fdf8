"""The UNIFIED streaming admission gate — six gates, one commit.

Round 9 left the corpus front door as five separate ingest gates
(exact dedup, per-source token budgets, media near-dup, boilerplate
strip, KMV cardinality), each proven alone. A real 100 TB ingest runs
them as ONE admission decision per batch — this module composes them
in a single ``foreachBatch`` sink with per-batch per-source attrition
accounting, the streaming twin of the ``llm_corpus_prep_multimodal``
batch capstone.

Admission pipeline per micro-batch (order is the policy):

1. **exact content dedup** — intra-batch min-id per normalized-text
   fingerprint, then rejection against the persisted fingerprint
   store (same-id store rows are ignored, so crash replays never
   self-reject);
2. **media near-dup** — each doc's media view (a real PNG of its
   first 8 tokens — the re-hosted-image-different-caption case
   exact text dedup cannot see) is decoded + perceptually hashed in
   one Arrow pass, and a doc is rejected ONLY on exact decoded-content
   match with a lower id in the batch or a persisted media-store row
   (equal content implies equal hashes, so this is the hamming
   candidates→verify decision, computed directly: deterministic and
   DuckDB-expressible). Undecodable media admits the doc — no
   perceptual identity, and the exact gate already held;
2b. **video near-dup** (round 11) — the same block over each
   image-gate survivor's clip view (a real MJPEG-in-MP4 of its first
   3 tokens — coarser than the PNG class, the re-hosted-preview-clip
   case the image gate cannot pair), keyframe-decoded; rejection
   requires exact clip-content match. A clip has identity only if
   its container parses AND every keyframe decodes;
3. **boilerplate strip at admission** — the batch's passage counts
   land in the frequency store under the durable (gate, batch) key,
   then each surviving doc is stripped against the store's cumulative
   frequencies (a one-batch corpus therefore matches the batch
   operator bit-for-bit);
4. **per-source token budgets** — on the CLEAN token counts (the
   budget buys kept tokens, not boilerplate), consumed-before read
   from the transactional stats artifact excluding the batch's own
   key (the budget gate's replay discipline);
5. **KMV cardinality** — admitted docs' clean-text shingles fold into
   the persisted bottom-k sketch store (idempotent minima — zero
   replay bookkeeping).

Crash contract: every store write precedes the warehouse append, and
every store has its own replay idempotency (fingerprint/media/video
ignore
same-id rows, passage counts are batch-keyed with read-side dedup,
budget stats exclude the batch's own key, KMV minima are idempotent,
the attrition row is a run-id partition REPLACE) — so any crash
interleaving replays to the identical accepted set and identical
store state, and the warehouse id anti-join makes the data append
exactly-once.

Scale shape: gates 1, 2, 2b and 5 operate on hash relations (32-byte
fingerprints, 64-bit phashes + shas, 60-bit minima) — document text
shuffles only for the passage count/strip (one batch-sized exchange)
and the final append; the consumed-budget read and the sketch serve
are metadata-sized.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from ..llm import kmv as KV
from ..llm import passagefreq as PF
from ..llm import text as T
from ..sinks.parquet import write_idempotent_run
from ..sources.parquet import read_table_or_empty
from .incremental import (
    _stream_gate_id,
    budget_filter,
    drop_warehoused,
    narrow_shuffle,
    read_consumed_tokens,
    start_file_stream,
    strip_at_admission,
)

#: media-view geometry shared with the SQL oracle: the PNG carries the
#: first 8 whitespace tokens (re-hosted image, different caption), and
#: documents_as_png's corrupt_every=50 truncation exercises the
#: no-perceptual-identity admission path
MEDIA_PREFIX_TOKENS = 8

#: the round-11 video gate's clip covers the first 3 tokens — STRICTLY
#: COARSER than the PNG gate's 8, so docs sharing a clip head but
#: diverging at tokens 4-8 pass the image gate and are caught here
#: (the re-hosted preview-clip case); an 8+-token clip class would be
#: finer than the PNG class and the gate could never fire. 3 tokens
#: (not 4) because the gate must actually FIRE on the test corpora:
#: measured collisions-beyond-the-image-class are 317 docs at sf0.1
#: and 3 at gate SF for 3 tokens, 0 at gate SF for 4
VIDEO_PREFIX_TOKENS = 3


def unified_store_paths(stores_root: str) -> dict[str, str]:
    import os

    return {
        "fingerprints": os.path.join(stores_root, "fingerprints"),
        "media": os.path.join(stores_root, "media"),
        "video": os.path.join(stores_root, "video"),
        "passages": os.path.join(stores_root, "passages"),
        "budget_stats": os.path.join(stores_root, "budget_stats"),
        "kmv": os.path.join(stores_root, "kmv"),
        "attrition": os.path.join(stores_root, "attrition"),
    }


def create_unified_stores(
    spark: SparkSession,
    stores_root: str,
    kmv_k: int = 64,
) -> dict[str, str]:
    """Initialize the persisted stores under one root. The
    fingerprint/media/attrition artifacts are plain parquet append
    dirs (created lazily on first write); the passage and KMV stores
    pin their parameters in meta so mismatched batches cannot merge."""
    paths = unified_store_paths(stores_root)
    PF.create_passage_freq_store(spark, paths["passages"], block=3)
    KV.create_kmv_store(
        spark, paths["kmv"], k=kmv_k
    )
    return paths


def _prefix_view(docs: DataFrame, prefix_tokens: int) -> DataFrame:
    """(doc_id, text, source) with each doc's text cut to its first
    ``prefix_tokens`` whitespace tokens — the input of both media
    views."""
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.concat_ws(
            " ", F.slice(T.tokens("text"), 1, prefix_tokens)
        ).alias("text"),
        F.lit("unified").alias("source"),
    )


def png_prefix_media_hashes(docs: DataFrame) -> DataFrame:
    """The media view (gate 2): a real PNG of the doc's leading
    :data:`MEDIA_PREFIX_TOKENS` tokens, synthesized + decoded + dHashed
    + content-sha'd in one FUSED Arrow pass
    (multimodal.image_hashes_from_documents — round 13, guide §4.1:
    the payload bytes never cross the Python↔JVM boundary). Returns
    (media_id, phash, content_sha, decode_error)."""
    from ..llm import multimodal as MM

    return MM.image_hashes_from_documents(
        _prefix_view(docs, MEDIA_PREFIX_TOKENS), content_key=True
    )


def mjpeg_prefix_video_hashes(docs: DataFrame) -> DataFrame:
    """The video view (round 11, gate 2b): a real MJPEG-in-MP4 clip of
    the doc's leading :data:`VIDEO_PREFIX_TOKENS` tokens (llm/video.py),
    keyframe-decoded in one Arrow pass. Returns (media_id, phash,
    content_sha, decode_error):

    - phash = the FIRST keyframe's dHash — one 64-bit signature per
      clip, riding the same 4-band hamming candidate machinery;
    - content_sha = sha256 of the FULL clip payload. Exact payload
      match implies exact decoded content, and for the deterministic
      synthesis it holds iff the token prefixes match — which is what
      lets the SQL oracle replay the decision as prefix-class min-id;
    - a clip has perceptual identity ONLY if its container parses and
      EVERY keyframe decodes (decode_error NULL). Corrupt containers
      (every 50th doc) and broken keyframes (every other 37th) admit
      — no identity, and the exact-text gate already held.

    Synthesis and identity run as ONE FUSED mapInPandas (round 13,
    guide §4.1) — payloads never leave the Python worker."""
    from ..llm import video as V

    return V.clip_identity_from_documents(
        _prefix_view(docs, VIDEO_PREFIX_TOKENS)
    )


_FP_SCHEMA = "id bigint, fp string"
_MEDIA_SCHEMA = "id bigint, phash bigint, content_sha string"


def _content_dup_losers(
    spark: SparkSession,
    hashes: DataFrame,
    store_path: str,
):
    """One modality's content-verify rejection: intra-batch losers
    (non-min-id per exact decoded/byte content) plus store losers
    (content matches a persisted row). Returns (rejected_ids,
    store_df) — the shared discipline of gates 2 (PNG) and 2b
    (video).

    Round 13 (guide §2.4, remove shuffles outright): the hamming band
    join is PROVABLY REDUNDANT for this gate, because its verifier is
    exact content equality — equal decoded content ⇒ equal pixels/PCM
    ⇒ equal perceptual hash ⇒ hamming 0 ⇒ band agreement on every
    band. So every pair the verify stage would accept is already a
    content-equality pair, and the gate computes the verified result
    DIRECTLY: intra-batch losers are the non-min-id rows per
    content_sha (one groupBy of a hash relation, with map-side
    combine), store losers are a sha equi-join against the persisted
    rows. The old shape spent ~10 batch-sized exchanges per modality
    (band explode + window cap + self-join + two sha joins + distinct,
    then the between-join) to compute the same set; the band machinery
    remains the right shape for PERCEPTUAL (non-exact) verifiers and
    still runs in the standalone near-dup queries. Equivalence note:
    this form is exactly the SQL oracle's min-id-per-content-class
    rule; the old capped band join could additionally MISS a true
    content twin inside a >max_bucket_size degenerate bucket when all
    four bands overflow, so the direct form is never less exact.
    Scale note: the groupBy is linear in the batch (no posting-list
    self-join), so the degenerate-bucket quadratic bomb the cap
    guarded against cannot occur here at all."""
    # NULL content_sha rows are never rejected (the old equality joins
    # could not match NULLs; a window partition WOULD group them) —
    # decodable rows always carry a sha, so the filter is defensive
    hv = hashes.filter(
        F.col("phash").isNotNull() & F.col("content_sha").isNotNull()
    )
    min_id = F.min("id").over(Window.partitionBy("content_sha"))
    intra_losers = (
        hv.select("id", "content_sha")
        .withColumn("_min_id", min_id)
        .filter(F.col("id") != F.col("_min_id"))
        .select("id")
    )
    store = read_table_or_empty(spark, store_path, _MEDIA_SCHEMA)
    if store.isEmpty():
        # first batch: nothing persisted to collide with — skip the
        # store probe (a provably-empty probe side cannot reject
        # anything; semantics identical)
        return intra_losers, store
    store_losers = (
        hv.join(intra_losers, "id", "left_anti")
        .select("id", "content_sha")
        .join(
            store.select(
                F.col("id").alias("_sid"),
                F.col("content_sha").alias("content_sha"),
            ),
            "content_sha",
        )
        .filter(F.col("id") != F.col("_sid"))
        .select("id")
        .distinct()
    )
    rejected = intra_losers.unionByName(store_losers).distinct()
    return rejected, store


def stream_ingest_unified(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    warehouse_path: str,
    stores_root: str,
    checkpoint_dir: str,
    budgets: dict[str, int],
    min_doc_freq: int = 5,
):
    """Run the five-gate admission pipeline over arriving document
    files. Call :func:`create_unified_stores` on ``stores_root``
    first. Returns the StreamingQuery handle; read the per-batch
    per-source funnel with :func:`unified_attrition_report`. The
    sink's ~15 exchanges are all batch-sized, so its body runs at
    :data:`.incremental.GATE_SHUFFLE_PARTITIONS`, like the media
    gate's."""
    from functools import cache

    paths = unified_store_paths(stores_root)
    # fixed for the stream's lifetime: one read per stream, not one
    # whole job per micro-batch
    gate_id = cache(lambda: _stream_gate_id(spark, checkpoint_dir))
    pf_block = cache(
        lambda: PF.load_passage_freq_meta(spark, paths["passages"])["block"]
    )
    kmv_meta = cache(lambda: KV.load_kmv_meta(spark, paths["kmv"]))

    @narrow_shuffle(spark)
    def _sink(batch: DataFrame, batch_id: int) -> None:
        run_id = str(int(batch_id))

        def _label(phase: str) -> None:
            # guide §1.5: a ~30-job sink is unreadable in the UI
            # without per-phase labels (thread-local, streaming thread)
            spark.sparkContext.setJobDescription(
                f"unified b{batch_id}: {phase}"
            )

        _label("arrival guard")
        rows = batch.filter(F.col("doc_id").isNotNull())
        # Loud, not silent: the funnel counts one row per doc id and
        # the SQL oracle counts every non-NULL-id row — a corpus with
        # duplicate ids would diverge invisibly if we just
        # dropDuplicates()-ed here. Batch-sized agg, one job.
        tot, uniq = rows.agg(
            F.count(F.lit(1)), F.countDistinct("doc_id")
        ).first()
        if tot != uniq:
            raise ValueError(
                f"unified gate batch {batch_id}: {tot - uniq} duplicate "
                "doc_id rows in one batch — per-doc admission "
                "bookkeeping cannot represent them; dedup ids upstream"
            )
        _label("warehouse anti-join + batch pin")
        fresh = drop_warehoused(
            spark, rows, warehouse_path, "doc_id"
        ).localCheckpoint(eager=True)
        if fresh.isEmpty():
            return

        def _docs(ids: DataFrame) -> DataFrame:
            return fresh.join(
                ids.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
            )

        # ---- gate 1: exact content dedup --------------------------
        _label("gate 1: exact dedup")
        fpd = fresh.select(
            F.col("doc_id").cast("bigint").alias("id"),
            T.fingerprint_sha256("text").alias("fp"),
        ).localCheckpoint(eager=True)
        intra_keep = fpd.groupBy("fp").agg(F.min("id").alias("id"))
        store_fp = read_table_or_empty(
            spark, paths["fingerprints"], _FP_SCHEMA
        )
        if store_fp.isEmpty():
            # first batch: nothing persisted to collide with — skip
            # the store join + anti-join (round 13; the same shortcut
            # the media gates already had; semantics identical)
            exact_ids = intra_keep.select("id").localCheckpoint(
                eager=True
            )
        else:
            # same-id store rows are the batch's own crash-replayed
            # appends — never grounds for rejection
            store_hit = (
                intra_keep.join(
                    store_fp.select("fp", F.col("id").alias("_sid")), "fp"
                )
                .filter(F.col("_sid") != F.col("id"))
                .select("id")
                .distinct()
            )
            exact_ids = intra_keep.select("id").join(
                store_hit, "id", "left_anti"
            ).localCheckpoint(eager=True)

        # ---- gates 2 (image) and 2b (video): near-dup -------------
        # candidates -> content verify on each survivor's media view,
        # one decode pass each (pinned: reused by the verify and the
        # store commit). The clip's 3-token class is coarser than the
        # PNG's 8, so 2b fires on docs the image gate cannot pair;
        # undecodable media carry no identity and admit.
        survivors, hashed = [exact_ids], []
        for gate, hasher, store_path in (
            ("2: image", png_prefix_media_hashes, paths["media"]),
            ("2b: clip", mjpeg_prefix_video_hashes, paths["video"]),
        ):
            _label(f"gate {gate} hash pass")
            hashes = (
                hasher(_docs(survivors[-1]))
                .select(
                    F.col("media_id").cast("bigint").alias("id"),
                    "phash",
                    "content_sha",
                    "decode_error",
                )
                .localCheckpoint(eager=True)
            )
            _label(f"gate {gate} pair verify")
            rejected, store = _content_dup_losers(spark, hashes, store_path)
            survivors.append(
                survivors[-1].join(rejected, "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            hashed.append((hashes, store, store_path))
        _, media_ids, video_ids = survivors

        # ---- gate 3: boilerplate strip at admission ----------------
        # Not pinned: consumed exactly once by budget_filter, whose
        # accepted output is the pinned relation.
        _label("gate 3: passage count + strip")
        stripped = strip_at_admission(
            spark,
            _docs(video_ids).localCheckpoint(eager=True),
            paths["passages"],
            pf_block(),
            f"{gate_id()}-{int(batch_id)}",
            min_doc_freq,
        )

        # ---- gate 4: per-source token budgets on CLEAN text --------
        _label("gate 4: budgets")
        consumed = read_consumed_tokens(
            spark, paths["budget_stats"], gate_id(), batch_id
        )
        accepted = budget_filter(
            stripped, consumed, budgets, text_col="text_clean"
        ).localCheckpoint(eager=True)

        # ---- commits: every store BEFORE the warehouse -------------
        # The five store commits are INDEPENDENT (separate dirs, all
        # reading pinned checkpoints), so they run from a small thread
        # pool (round 13, guide §2.6: overlap independent jobs — each
        # commit is a short multi-stage job whose scheduling latency
        # otherwise serializes). The pool joins before the attrition
        # row and the warehouse append, so the crash contract (every
        # store write precedes the warehouse append) is unchanged.
        _label("store commits")
        batch_empty = accepted.isEmpty()
        acc_ids = accepted.select(F.col("doc_id").cast("bigint").alias("id"))
        # round 13: the three hash-store appends write UNCONDITIONALLY
        # — each old isEmpty() guard computed the append's whole join
        # lineage once just to decide whether to compute it again for
        # the write (2 jobs per store where 1 suffices). An empty
        # append commits an empty parquet part, which the read path
        # (read_table_or_empty + dropDuplicates disciplines) already
        # handles; replay idempotency is untouched (same anti-joins).
        def _append(df: DataFrame, path: str):
            return partial(df.write.mode("append").parquet, path)

        fp_seen = read_table_or_empty(
            spark, paths["fingerprints"], _FP_SCHEMA
        ).select("id")
        commits = [
            _append(
                fpd.join(acc_ids, "id", "left_semi").join(
                    fp_seen, "id", "left_anti"
                ),
                paths["fingerprints"],
            )
        ] + [
            _append(
                hashes.filter(F.col("phash").isNotNull())
                .join(acc_ids, "id", "left_semi")
                .select("id", "phash", "content_sha")
                .join(store.select("id"), "id", "left_anti"),
                store_path,
            )
            for hashes, store, store_path in hashed
        ]
        if not batch_empty:
            delta = (
                accepted.groupBy("source")
                .agg(F.sum("_n_tok").alias("n_tokens"))
                .select(
                    F.lit(gate_id()).alias("gate_id"),
                    F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
                    F.col("source"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                )
            )
            commits += [
                _append(delta.repartition(1), paths["budget_stats"]),
                lambda: KV.append_to_kmv_store(
                    spark, paths["kmv"], accepted, "text_clean",
                    meta=kmv_meta(),
                ),
            ]

        from concurrent.futures import ThreadPoolExecutor

        # local properties are JVM-thread-local: copy this thread's (the
        # stream's job group) into each commit thread, then label its jobs
        @inheritable_thread_target(spark)
        def _run_commit(fn) -> None:
            spark.sparkContext.setJobDescription(
                f"unified b{batch_id}: store commits"
            )
            fn()

        with ThreadPoolExecutor(max_workers=3) as pool:
            # list() re-raises the first failure — a failed store
            # commit must still abort the batch before the warehouse
            list(pool.map(_run_commit, commits))

        _label("attrition fold")
        # ---- attrition row (per source, this batch) ----------------
        # ONE flags relation via UNION, folded by one groupBy(id) and
        # attached to the arrival spine with ONE join (round 13; the
        # round-12 fold still paid FOUR sequential per-id left joins —
        # each its own exchange + AQE stage job on a fixed-cost-
        # dominated sink; a union of the already-checkpointed id sets
        # is exchange-free, so the whole fold is now 3 batch-sized
        # shuffles: flag groupBy, spine join, source groupBy). Gate
        # survivor sets are nested (accepted ⊆ video ⊆ media ⊆ exact ⊆
        # arrived) and ids are unique per batch (the loud guard
        # above), so max-per-id flags summed per source reproduce
        # every funnel count exactly as the join form did.
        src_of = fresh.select(
            F.col("doc_id").cast("bigint").alias("id"), "source"
        )
        _z = F.lit(0).cast("bigint")

        def _flag_rows(ids: DataFrame, which: str) -> DataFrame:
            cols = {
                "_ex": _z, "_md": _z, "_vd": _z,
                "_acc": _z, "_rm": _z, "_tok": _z,
            }
            cols[which] = F.lit(1).cast("bigint")
            return ids.select(
                "id", *[c.alias(n) for n, c in cols.items()]
            )

        flag_union = (
            _flag_rows(exact_ids, "_ex")
            .unionByName(_flag_rows(media_ids, "_md"))
            .unionByName(_flag_rows(video_ids, "_vd"))
            .unionByName(
                accepted.select(
                    F.col("doc_id").cast("bigint").alias("id"),
                    _z.alias("_ex"), _z.alias("_md"), _z.alias("_vd"),
                    F.lit(1).cast("bigint").alias("_acc"),
                    F.col("n_removed").cast("bigint").alias("_rm"),
                    F.col("_n_tok").cast("bigint").alias("_tok"),
                )
            )
        )
        flags = flag_union.groupBy("id").agg(
            F.max("_ex").alias("_ex"),
            F.max("_md").alias("_md"),
            F.max("_vd").alias("_vd"),
            F.max("_acc").alias("_acc"),
            F.max("_rm").alias("_rm"),
            F.max("_tok").alias("_tok"),
        )
        att = (
            src_of.join(flags, "id", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_arrived"),
                F.sum(F.coalesce("_ex", F.lit(0))).alias("_ae"),
                F.sum(F.coalesce("_md", F.lit(0))).alias("_am"),
                F.sum(F.coalesce("_vd", F.lit(0))).alias("_av"),
                F.sum(F.coalesce("_acc", F.lit(0))).alias("_aa"),
                F.sum(F.coalesce("_rm", F.lit(0))).alias("_rms"),
                F.sum(F.coalesce("_tok", F.lit(0))).alias("_toks"),
            )
            .select(
                F.col("source"),
                F.col("n_arrived"),
                (F.col("n_arrived") - F.col("_ae"))
                .cast("bigint").alias("n_exact_rejected"),
                (F.col("_ae") - F.col("_am"))
                .cast("bigint").alias("n_media_rejected"),
                (F.col("_am") - F.col("_av"))
                .cast("bigint").alias("n_video_rejected"),
                (F.col("_av") - F.col("_aa"))
                .cast("bigint").alias("n_budget_rejected"),
                F.col("_aa").cast("bigint").alias("n_admitted"),
                F.col("_rms").cast("bigint").alias("passages_removed"),
                F.col("_toks").cast("bigint").alias("tokens_admitted"),
            )
        )
        write_idempotent_run(att, paths["attrition"], run_id=run_id)

        # ---- warehouse append (exactly-once via the id anti-join) --
        _label("warehouse append")
        if not batch_empty:
            accepted.drop("_n_tok").write.mode("append").option(
                "compression", "snappy"
            ).parquet(warehouse_path)
        spark.sparkContext.setJobDescription(None)

    return start_file_stream(
        spark, schema, source_dir, checkpoint_dir, _sink
    )


def unified_attrition_report(
    spark: SparkSession, stores_root: str
) -> DataFrame:
    """(source, n_arrived, n_exact_rejected, n_media_rejected,
    n_video_rejected, n_budget_rejected, n_admitted, passages_removed,
    tokens_admitted, est_distinct_shingles) summed over every batch,
    with the KMV store's per-source distinct-clean-shingle estimate
    joined on — the streaming funnel a planner reads mid-ingest.
    Everything is served from the attrition artifact + k-row
    sketches; the warehouse is never scanned."""
    paths = unified_store_paths(stores_root)
    att = (
        spark.read.parquet(paths["attrition"])
        .groupBy("source")
        .agg(
            F.sum("n_arrived").cast("bigint").alias("n_arrived"),
            F.sum("n_exact_rejected").cast("bigint")
            .alias("n_exact_rejected"),
            F.sum("n_media_rejected").cast("bigint")
            .alias("n_media_rejected"),
            F.sum("n_video_rejected").cast("bigint")
            .alias("n_video_rejected"),
            F.sum("n_budget_rejected").cast("bigint")
            .alias("n_budget_rejected"),
            F.sum("n_admitted").cast("bigint").alias("n_admitted"),
            F.sum("passages_removed").cast("bigint")
            .alias("passages_removed"),
            F.sum("tokens_admitted").cast("bigint")
            .alias("tokens_admitted"),
        )
    )
    est = KV.kmv_store_estimates(spark, paths["kmv"]).select(
        F.col("group").alias("source"),
        F.col("est_distinct").alias("est_distinct_shingles"),
    )
    return att.join(est, "source", "left")
