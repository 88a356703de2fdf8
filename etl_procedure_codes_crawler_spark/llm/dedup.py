"""Deduplication operators for large-scale document corpora.

Spark-first designs, each with an explicit scale story:

- exact dedup: hash-groupBy on a content fingerprint — one shuffle of
  (hash, id) pairs, not documents;
- n-gram Jaccard (exact): shingle-explode + shared-shingle self-join —
  the *baseline*; quadratic only within shingle buckets;
- MinHash + LSH: shingle → k minhashes in ONE groupBy aggregation →
  band buckets → bucket self-join. The scale path: candidate
  generation is linear in data + bucket-local joins, the classic
  MMDS ch.3 construction;
- SimHash: 64-bit signature via per-token hashing and bit voting,
  pure column expressions; hamming-ball candidate pairs via band join.

No Python in any of these — xxhash64/sha2, higher-order array
functions, and joins keep everything in Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint_sha256, md5_h60, spread_small_input, tokens


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame
) -> DataFrame:
    """Group documents by normalized-content fingerprint.

    Returns (fingerprint, first_id, n_copies) — the survivor set is
    ``first_id``; ``n_copies > 1`` rows are the duplicate clusters.
    Only (hash, id) shuffles; map-side combine collapses most groups.
    """
    return (
        df.select(
            fingerprint_sha256("text").alias("fingerprint"),
            F.col("doc_id").cast("bigint").alias("id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("id").alias("first_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup_new_docs(
    batch: DataFrame,
    snapshot: DataFrame,
) -> DataFrame:
    """Survivors of a NEW document batch against an existing corpus
    snapshot — the production shape of exact dedup for a corpus that
    grows by crawl runs (the batch analog of the reference's
    snapshot∪run anti-join in ``operators/dedup.py``, applied to LLM
    corpus building).

    Two steps, one shuffle layout: the batch collapses to min-id per
    fingerprint (within-batch dedup), then a LEFT ANTI join drops
    fingerprints the snapshot already holds. Only 32-byte sha2
    fingerprints and ids ever shuffle — never text — and both the
    groupBy and the anti-join hash-partition on ``fingerprint``, so
    the second wide stage reuses the first's layout. At 100 TB the
    snapshot side is fact-sized: no broadcast, a plain shuffled anti
    join that AQE can skew-split.

    Returns (fingerprint, first_id) — the batch rows to ingest.
    """
    b = batch.select(
        fingerprint_sha256("text").alias("fingerprint"),
        F.col("doc_id").cast("bigint").alias("id"),
    )
    survivors = b.groupBy("fingerprint").agg(F.min("id").alias("first_id"))
    snap = snapshot.select(fingerprint_sha256("text").alias("fingerprint"))
    return survivors.join(snap, "fingerprint", "left_anti")


# ---------------------------------------------------------------------------
# shingling (shared by jaccard / minhash)
# ---------------------------------------------------------------------------

def shingles_column(text_col: str = "text", k: int = 3):
    """Distinct k-word shingles as an array column (JVM higher-order
    fns; no UDF). Documents shorter than k words get one whole-text
    shingle."""
    toks = tokens(text_col)
    n = F.size(toks)
    windowed = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(
        F.when(n >= k, windowed).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_rows(
    df: DataFrame, k: int = 3
) -> DataFrame:
    return spread_small_input(df).select(
        F.col("doc_id").cast("bigint").alias("id"),
        F.explode(shingles_column("text", k)).alias("shingle"),
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (baseline)
# ---------------------------------------------------------------------------

def _shared_shingle_counts(
    df: DataFrame,
    max_doc_freq: int | None,
) -> DataFrame:
    """(doc_a, doc_b, shared, na, nb) for every doc pair sharing at
    least one (df-cap-surviving) shingle — the common core of the
    Jaccard and containment pair miners. See :func:`ngram_jaccard_pairs`
    for the shuffle/df-cap rationale; the shapes are identical."""
    sh = shingle_rows(df, 3)
    # Explicit partition count on the join key: the posting-list
    # self-join's OUTPUT is quadratic per shingle while its INPUT is
    # small, so AQE's byte-based coalescing collapses it into one
    # CPU-bound task (measured 9.4s -> ~1s at sf0.1 on local[32]).
    # A user-specified count is exempt from AQE coalescing, and both
    # join sides derive from this one relation, so they arrive
    # co-partitioned — no extra exchange. Every downstream consumer
    # (both self-join sides, the df-cap, the size aggregation) hangs
    # off this ONE exchange, so the shingle explode is evaluated once
    # and reused (ReuseExchange), not recomputed per branch.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    sh = sh.repartition(max(parallelism, 16), "shingle")
    if max_doc_freq is not None:
        # document frequency as a COUNT window over the shingle
        # partitioning we already paid for — no second aggregate, no
        # semi-join back, no recompute of the explode for the probe side
        sh = (
            sh.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"))
    # no broadcast hint on sizes: it has one row per corpus DOCUMENT —
    # forcing a broadcast would collect the whole per-doc table to the
    # driver at real scale. No shuffle_hash hint either (round 13,
    # MEASURED): a user join hint binds AQE's hands — with the hint,
    # the runtime-small pair relation could no longer be
    # broadcast-promoted from true sizes and near_dup_quality_survivors
    # regressed 2.8 → 3.9 s isolated (stages 50 → 67). AQE picks
    # broadcast when truth allows and shuffled joins otherwise.
    return shared.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.05,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Shared-shingle join: pairs are generated only for docs that share
    at least one shingle — quadratic *within a shingle's posting list*,
    not globally. At 100 TB this is the verify stage after LSH, not
    the candidate generator (use minhash_lsh_candidate_pairs there).

    ``max_doc_freq`` drops "stop shingles" whose document frequency
    exceeds it BEFORE the join: a shingle shared by m docs emits m²
    candidate rows, so one boilerplate header shingled into every
    document is a quadratic bomb in a single posting list. Dropped
    shingles leave both the intersection and the union (sizes are
    computed after the filter), i.e. the result is exact Jaccard over
    the stop-shingle-filtered sets — at sane thresholds true near-dup
    pairs still share plenty of low-df shingles and survive (see
    tests/test_llm_dedup.py adversarial cases).
    """
    return (
        _shared_shingle_counts(df, max_doc_freq)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Doc pairs where either document's shingle set is >= threshold
    CONTAINED in the other: C(A→B) = |A∩B| / |A| (Broder 1997's
    asymmetric companion to Jaccard's resemblance).

    Jaccard misses inclusion: a 50-token quote embedded in a
    5000-token article shares all its shingles, yet J = |∩|/|∪| ≈ 1% —
    invisible at any sane Jaccard threshold, while C(quote→article)
    ≈ 1.0. For training corpora that is exactly the "press release
    swallowed by an aggregator page" / "doc A is a subsection of
    doc B" duplication mode, and the direction says WHICH side is the
    fragment (drop the contained copy, keep the superset).

    Same skew-safe shared-shingle shape as :func:`ngram_jaccard_pairs`
    (df-capped posting-list join, sizes computed after the cap); only
    the final ratio differs. One row per unordered pair carrying BOTH
    directed containments; kept when the larger clears ``threshold``.
    """
    pairs = _shared_shingle_counts(df, max_doc_freq)
    c_ab = F.col("shared").cast("double") / F.col("na")
    c_ba = F.col("shared").cast("double") / F.col("nb")
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("shared").alias("n_shared"),
        c_ab.alias("containment_a_in_b"),
        c_ba.alias("containment_b_in_a"),
    ).filter(
        F.greatest(F.col("containment_a_in_b"), F.col("containment_b_in_a"))
        >= threshold
    )


def duplicate_spans(
    df: DataFrame,
    min_len: int = 8,
    max_gram_freq: int = 64,
) -> DataFrame:
    """Maximal exact duplicate token spans across documents — the
    exact-substring dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", public paper) re-expressed
    relationally instead of with a suffix array: every maximal run of
    ``>= min_len`` consecutive tokens shared VERBATIM between two
    documents, with its start position in both. One row per
    ``(doc_a, doc_b, a_start, b_start, span_tokens)``, ``doc_a <
    doc_b``. Complements the winnowing family (which SAMPLES
    fingerprints under a detection guarantee) with exact positions and
    exact maximal lengths — what a span-REMOVAL pass needs.

    Relational shape: explode each doc into its ``min_len``-token
    grams with positions (one row per token — the shingle families'
    cardinality), self-join on the gram STRING (exact; no hash, no
    collisions), then coalesce matches into maximal spans by DIAGONAL
    ISLANDS: matches of one doc pair on one diagonal (``pos_a -
    pos_b`` constant) with consecutive ``pos_a`` are one span of
    ``run + min_len - 1`` tokens. The island window is partitioned by
    (doc_a, doc_b, diag) — bounded by document length, never global.

    ``max_gram_freq`` caps a gram's posting list before the join —
    the same quadratic-bomb guard as :func:`ngram_jaccard_pairs` (a
    boilerplate sentence in m docs emits m² rows); spans made solely
    of over-cap boilerplate grams are not reported, and the count
    rides the repartition the join needs anyway. At 100 TB this is
    the verify/extract stage after LSH candidate generation, not the
    all-corpus candidate generator."""
    grams = _positioned_grams(df, min_len)
    # one exchange on the gram feeds the cap window AND both join
    # sides (ReuseExchange); explicit count exempts it from AQE
    # coalescing — the join's OUTPUT is quadratic per gram while its
    # input is small (same rationale as ngram_jaccard_pairs)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    grams = grams.repartition(max(parallelism, 16), "g")
    grams = (
        grams.withColumn(
            "_pf", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
        .where(F.col("_pf") <= max_gram_freq)
        .drop("_pf")
    )
    a = grams.select(
        F.col("id").alias("doc_a"), F.col("pos").alias("pos_a"), "g"
    )
    b = grams.select(
        F.col("id").alias("doc_b"), F.col("pos").alias("pos_b"), "g"
    )
    m = (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    return _spans_from_matches(m, min_len)


def _positioned_grams(
    df: DataFrame, min_len: int
) -> DataFrame:
    """(id, pos, g): every doc's ``min_len``-token grams with their
    1-based start positions — one row per token, the shingle
    families' cardinality."""
    base = (
        spread_small_input(df)
        .select(F.col("doc_id").alias("id"), tokens("text").alias("t"))
        .where(F.size("t") >= min_len)
    )
    return base.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - min_len + 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, min_len)),
            )
        ).alias("i0", "g"),
    ).select("id", (F.col("i0") + 1).cast("long").alias("pos"), "g")


def _spans_from_matches(m: DataFrame, min_len: int) -> DataFrame:
    """Diagonal-island coalescing: gram matches of one doc pair on one
    diagonal with consecutive ``pos_a`` are one maximal span of
    ``run + min_len - 1`` tokens. The window is partitioned by
    (doc_a, doc_b, diag) — bounded by document length, never global."""
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        m.withColumn("_isl", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "_isl")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.count(F.lit(1)) + min_len - 1).alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )


def duplicate_spans_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    min_len: int = 8,
) -> DataFrame:
    """The 100 TB path for :func:`duplicate_spans`: extract maximal
    shared spans ONLY for the given candidate ``pairs`` (doc_a, doc_b)
    — e.g. from :func:`minhash_lsh_candidate_pairs` — instead of the
    all-corpus posting-list self-join. Given every pair, the result
    equals :func:`duplicate_spans` without its posting cap (pinned in
    tests); given LSH candidates, recall is the LSH recall.

    Shuffle shape: grams route THROUGH the pair relation — one hash
    join on doc id attaches each candidate pair to its a-side grams,
    one equi-join on (doc_b, g) finds the matching b-side positions.
    Both are key joins sized by |pairs| × grams-per-doc; no posting
    list is ever self-joined, so a boilerplate gram shared by a
    million docs costs nothing unless LSH actually paired those docs
    (the reason the cap parameter does not exist here)."""
    grams = _positioned_grams(df, min_len)
    a0 = F.col("doc_a").cast("long")
    b0 = F.col("doc_b").cast("long")
    p = (
        # normalize orientation (doc_a < doc_b) so reversed candidate
        # pairs neither vanish nor report mirrored positions
        pairs.select(
            F.least(a0, b0).alias("doc_a"), F.greatest(a0, b0).alias("doc_b")
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ga = grams.select(
        F.col("id").alias("doc_a"), F.col("pos").alias("pos_a"), "g"
    )
    gb = grams.select(
        F.col("id").alias("doc_b"), F.col("pos").alias("pos_b"), "g"
    )
    # shuffle_hash hints with the PAIR side as build: the static
    # planner's size estimate for a positioned-gram explode is
    # fiction (round 12: at 500k docs it estimated both corpus-sized
    # gram relations under the 64 MB broadcast threshold and OOMed
    # the driver building the broadcast tables — the
    # works-at-sf0.1/dies-at-100x class). Shuffled-hash never
    # broadcasts, and building the hinted PAIR side keeps the hash
    # map per-partition-pair-sized (pairs are star-capped linear in
    # the corpus and divide across shuffle partitions) while the
    # corpus-sized gram stream only probes; the second join builds
    # the (pair × a-gram) matches for the same reason
    m0 = p.hint("shuffle_hash").join(ga, "doc_a")
    m = (
        m0.hint("shuffle_hash").join(gb, ["doc_b", "g"])
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    return _spans_from_matches(m, min_len)


def intra_doc_kept_blocks(block: int = 8):
    """(n_blocks, kept_blocks) Column pair for WITHIN-document
    repetition removal: each document splits into non-overlapping
    ``block``-token blocks and keeps only each block's FIRST
    occurrence, as per-row JVM array algebra (zero shuffle, no UDF).
    Funnel capstones ride these signals inside a larger single-scan
    projection. ``kept_blocks`` is NULL for NULL text."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    b = int(block)
    # token counts are int32-bounded per doc, so floor of one IEEE
    # division is exact here (the corpus-scale div-discipline concern
    # applies to cumulative sums, not per-doc sizes)
    n_blocks = F.floor((n + F.lit(b - 1)) / F.lit(b)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.array_join(F.slice(toks, i * b + 1, b), " "),
    )
    kept = F.filter(
        blocks, lambda blk, i: F.array_position(blocks, blk) == i + 1
    )
    kept = F.when(F.col("text").isNull(), None).otherwise(kept)
    return n_blocks, kept


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    min_len: int = 8,
    max_gram_freq: int = 64,
) -> DataFrame:
    """The removal pass :func:`duplicate_spans` exists to feed (Lee et
    al. 2022 keep-one-copy semantics): every span duplicated from a
    LOWER-id document is cut out of the higher-id one, so exactly one
    copy of each duplicated run survives in the corpus. Returns
    ``(id, text_clean, n_tokens_removed)`` for EVERY document —
    untouched docs pass through with 0 removed (their text is
    re-joined from tokens, so whitespace is normalized corpus-wide,
    keeping the output deterministic rather than mixed-format).

    Spark shape: spans explode into per-doc doomed POSITION sets
    (bounded by document length — overlapping spans union away in the
    set), which join back on the id hash; the cut itself is one JVM
    array ``filter`` with a positional lambda — the corpus is never
    exploded per token. The per-doc membership test is linear in the
    doomed set (``array_contains``), fine at realistic span densities;
    a pathological everything-duplicated doc costs O(len²) for that
    doc alone."""
    if spans is None:
        spans = duplicate_spans(
            df, min_len=min_len, max_gram_freq=max_gram_freq
        )
    doomed = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("b_start"),
                    F.col("b_start") + F.col("span_tokens") - 1,
                )
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("_doomed"))
    )
    toks = tokens("text")
    d = F.coalesce(F.col("_doomed"), F.array().cast("array<bigint>"))
    kept = F.filter(
        toks, lambda t, i: ~F.array_contains(d, (i + 1).cast("long"))
    )
    null_text = F.col("text").isNull()
    return (
        df.join(doomed, "doc_id", "left")
        .select(
            "doc_id",
            # NULL text stays NULL (concat_ws would fabricate '') and
            # removes nothing — unscoreable rows pass through intact
            F.when(null_text, F.lit(None).cast("string"))
            .otherwise(F.concat_ws(" ", kept))
            .alias("text_clean"),
            F.when(null_text, F.lit(0))
            .otherwise(F.size(toks) - F.size(kept))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path)
# ---------------------------------------------------------------------------

#: md5-mode family geometry: member_i = rot_{a_i}(h1) XOR
#: rot_{b_i}(h2) over two 60-bit md5 prefixes. The (a_i, b_i) pairs
#: are distinct for every i any family here uses (a cycles mod 60, b
#: gets bumped by i//60 each wrap), so even the 64-slot source
#: sketch's members are all genuinely different mixes.
MINHASH_ROT_WIDTH = 60


def _minhash_rots(i: int) -> tuple[int, int]:
    w = MINHASH_ROT_WIDTH
    return i % w, (7 * i + 3 + i // w) % w


def _rot_col(col, r: int):
    """Rotate a 60-bit non-negative long column left by r — masking
    BEFORE the shift so the value never leaves non-negative int64
    (DuckDB raises on shift overflow; Spark would silently wrap)."""
    if r == 0:
        return col
    w = MINHASH_ROT_WIDTH
    lo = (1 << (w - r)) - 1
    return F.shiftleft(col.bitwiseAND(F.lit(lo)), r).bitwiseOR(
        F.shiftrightunsigned(col, w - r)
    )


def _minhash_member(i: int, shingle, hash_fn: str):
    """Hash-family member i over a shingle: ``xx`` = xxhash64(seed_i,
    shingle) (fastest, JVM-only); ``md5`` = XOR-ROTATE mixing over two
    60-bit md5 prefixes — member_i = rot_{a_i}(h1) XOR rot_{b_i}(h2)
    (schedule in :func:`_minhash_rots`) with h1 = md5-60(shingle),
    h2 = md5-60("kh2:" ∥ shingle). TWO md5 calls per shingle row
    regardless of family size (the 32-independent-md5 form generated
    pathologically wide codegen — measured 4-5x degradation late in a
    long-lived JVM as the JIT code cache fills), and DuckDB computes
    the identical integers, which is what makes the minhash family
    HASH-ORACLED in md5 mode.

    Round 11 replaced the round-10 Kirsch–Mitzenmacher form
    (h1 + i·h2): K-M's per-slot ORDERINGS are highly correlated — the
    shingle minimizing h1+i·h2 tends to minimize every slot — so band
    minima agreed far too often on the low-entropy test vocabulary
    (measured 16,390 LSH candidate pairs at sf0.1 where the xx family
    yields 256, a 64x verify-stage tax). Full-width rotation
    decorrelates the slot orderings (every member permutes ALL bits
    of both halves differently before the XOR): same corpus, 256
    pairs — identical to xx. Pairs remain exact-Jaccard-verified
    regardless of family."""
    if hash_fn == "xx":
        return F.xxhash64(F.lit(i), shingle)
    if hash_fn == "md5":
        h1 = md5_h60(shingle)
        h2 = md5_h60(F.concat(F.lit("kh2:"), shingle))
        ra, rb = _minhash_rots(i)
        return _rot_col(h1, ra).bitwiseXOR(_rot_col(h2, rb))
    raise ValueError(f"unknown minhash hash_fn {hash_fn!r} (xx|md5)")


def minhash_signatures(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xx",
) -> DataFrame:
    """k-shingle → ``num_hashes`` minhashes in ONE aggregation.

    Each hash family member is :func:`_minhash_member` (seeded
    xxhash64 by default; md5-60 for cross-engine determinism); min
    per doc approximates the permutation minimum. One shuffle of
    (id, shingle) rows, all hashes computed map-side. md5 costs a few
    times more per call than xxhash64 — at 100 TB keep ``xx`` unless
    the run needs engine-reproducible signatures (audits, the DuckDB
    correctness gate, cross-system handoffs).
    """
    sh = shingle_rows(df, k)
    aggs = [
        F.min(_minhash_member(i, F.col("shingle"), hash_fn)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def _capped_bucket_pairs(
    buckets: DataFrame,
    max_bucket_size: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Self-join within (band, bucket), bounded for degenerate buckets.

    Buckets up to ``max_bucket_size`` members produce all pairs (the
    normal LSH case — tiny buckets). A degenerate bucket (boilerplate
    text, all-zero signature from empty docs) would make the all-pairs
    join emit |bucket|² rows inside ONE task — a quadratic bomb at
    100 TB. Oversized buckets are instead STAR-EXPANDED: every member
    pairs with the bucket's min-id hub only, so output is linear in
    bucket size while cluster connectivity is preserved (any two
    members stay connected through the hub, which is what downstream
    connected-components dedup needs). The verify stage still
    Jaccard-checks every emitted pair.

    ``carry_cols`` are per-id payload columns (e.g. the simhash
    signature) carried into the output as ``<col>_a``/``<col>_b``.
    """
    carry = carry_cols or []
    # bucket size + hub via ONE window over the (band, bucket)
    # exchange (round 8: the groupBy+join form cost two extra stages
    # per pair query — pure scheduling overhead on hash-sized
    # relations); the window's output partitioning is exactly what the
    # self-join below requires, so both join sides reuse the exchange
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    annotated = buckets.withColumn(
        "_bn", F.count(F.lit(1)).over(w)
    ).withColumn("_hub", F.min(F.struct("id", *carry)).over(w))

    small = annotated.filter(F.col("_bn") <= max_bucket_size)
    a, b = small.alias("a"), small.alias("b")
    all_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    )

    star_pairs = (
        annotated.filter(F.col("_bn") > max_bucket_size)
        .filter(F.col("id") != F.col("_hub.id"))
        .select(
            F.least(F.col("id"), F.col("_hub.id")).alias("doc_a"),
            F.greatest(F.col("id"), F.col("_hub.id")).alias("doc_b"),
            *[
                F.when(F.col("id") < F.col("_hub.id"), F.col(c))
                .otherwise(F.col(f"_hub.{c}"))
                .alias(f"{c}_a")
                for c in carry
            ],
            *[
                F.when(F.col("id") < F.col("_hub.id"), F.col(f"_hub.{c}"))
                .otherwise(F.col(c))
                .alias(f"{c}_b")
                for c in carry
            ],
        )
    )
    return all_pairs.unionByName(star_pairs).distinct()


def band_bucket(slots: list[Column], hash_fn: str) -> Column:
    """One LSH band's bucket key: xxhash64 of the band's minhash
    slots, or in ``md5`` mode the md5-60 of their colon-joined values
    (longs render identically as decimal strings in Spark and DuckDB,
    so bucket membership is engine-deterministic too)."""
    if hash_fn == "md5":
        return md5_h60(F.concat_ws(":", *slots))
    return F.xxhash64(*slots)


def minhash_buckets(
    df: DataFrame,
    hash_fn: str = "xx",
) -> DataFrame:
    """(id, band, bucket) LSH band-bucket assignment: 8 bands of 4
    rows over 32 minhashes of 3-word shingles, each keyed by
    :func:`band_bucket`."""
    sig = minhash_signatures(df, 3, 32, hash_fn)
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            band_bucket(
                [F.col(f"h{band * 4 + r}") for r in range(4)], hash_fn
            ).alias("bucket"),
        )
        for band in range(8)
    ]
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    max_bucket_size: int = 5000,
    hash_fn: str = "xx",
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band are
    candidates. Pair generation is a self-join per (band, bucket) —
    each bucket is tiny in the non-adversarial case, and degenerate
    buckets are star-capped at ``max_bucket_size`` (see
    :func:`_capped_bucket_pairs`).
    """
    buckets = minhash_buckets(df, hash_fn)
    return _capped_bucket_pairs(buckets, max_bucket_size)


def minhash_near_dup_pairs(
    df: DataFrame,
    hash_fn: str = "xx",
) -> DataFrame:
    """The full near-dup pipeline: LSH candidates → exact-Jaccard
    verification → Jaccard >= 0.5. Verification joins shingle sets
    only for candidate pairs (broadcast the candidate list when small).

    The shingle explode is deliberately recomputed per consumer
    (signatures, sizes, both verify sides) rather than shared through
    one pinned exchange: unlike :func:`ngram_jaccard_pairs`, whose
    self-join sides both need the shingle partitioning anyway, these
    consumers each need a DIFFERENT partitioning (id, doc_a,
    (doc_b, shingle)), so a shared exchange adds a corpus-sized
    shuffle write plus three reads without removing any — measured
    ~2.5× slower at sf0.1. Re-deriving the explode from the columnar
    scan pipelines map-side into each consumer's own single shuffle.
    """
    candidates = minhash_lsh_candidate_pairs(
        df, hash_fn=hash_fn
    )
    sh = shingle_rows(df, 3)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a_sh = sh.select(F.col("id").alias("doc_a"), F.col("shingle"))
    b_sh = sh.select(F.col("id").alias("doc_b"), F.col("shingle"))
    # shuffle_hash hints, pair side as build (round 13, verdict r12 #4
    # + guide §3.1 — the identical strategy duplicate_spans_for_pairs
    # pinned in round 12): the static planner must not broadcast
    # explode-derived relations (fictional estimates OOMed the 100x
    # runs), but sort-merge pays a per-partition SORT of the
    # corpus-sized shingle stream on both verify joins. Shuffled-hash
    # never broadcasts; the build side (candidates, then candidate ×
    # a-shingle matches) is star-capped-linear and divides across the
    # shuffle partitions, while the corpus-sized shingle stream only
    # probes — no sort of it, bounded per-partition hash maps.
    shared = (
        candidates.hint("shuffle_hash").join(a_sh, "doc_a")
        .hint("shuffle_hash").join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"))
    # no broadcast hint on sizes: it has one row per corpus DOCUMENT —
    # forcing a broadcast would collect the whole per-doc table to the
    # driver at real scale. AQE still auto-broadcasts it when it is
    # genuinely small; otherwise this is a shuffled-hash join building
    # the (already much smaller) pair relation per partition.
    return (
        shared.hint("shuffle_hash").join(sa, "doc_a")
        .hint("shuffle_hash").join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    hash_fn: str = "xx",
) -> DataFrame:
    """64-bit SimHash per document, pure column expressions.

    Each token hashes to 64 bits; per bit, +1 if set else -1, summed
    over tokens; signature bit = 1 iff the vote is positive. The bit
    votes are an aggregate over exploded tokens — one shuffle of
    (id, 64 small ints).

    ``hash_fn="md5"`` hashes tokens with the 60-bit md5 prefix of
    "s:token" (so the signature has 60 bits): DuckDB computes the identical
    token hashes and bit votes, making the SimHash family — signature
    AND hamming pairs — engine-deterministic and hash-oracle-able.
    xxhash64 stays the default for raw throughput."""
    if hash_fn == "md5":
        bits = 60
        th = md5_h60(F.concat(F.lit("s:"), F.col("token")))
    elif hash_fn == "xx":
        bits = 64
        th = F.xxhash64("token")
    else:
        raise ValueError(f"unknown simhash hash_fn {hash_fn!r} (xx|md5)")
    tok = spread_small_input(df).select(
        F.col("doc_id").cast("bigint").alias("id"),
        F.explode(tokens("text")).alias("token"),
    ).withColumn("th", th)
    votes = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{bit}")
            for bit in range(bits)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for bit in range(bits):
        # two's-complement: bit 63 contributes -(2^63)
        weight = 2**bit if bit < 63 else -(2**63)
        sig = sig + F.when(F.col(f"v{bit}") > 0, F.lit(weight).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return votes.select("id", sig.alias("simhash"))


def hamming_band_pairs(
    sig: DataFrame,
    sig_col: str,
    id_col: str = "id",
    max_hamming: int = 3,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs of 64-bit signatures within
    ``max_hamming``, via a 4-way band join (each band is
    16 bits) + exact popcount verification with ``bit_count``.
    EXACT by pigeonhole when ``max_hamming < 4``: fewer flipped
    bits than bands forces at least one band to agree verbatim, so
    every qualifying pair shares a bucket. Degenerate buckets (the
    all-zero signature of empty inputs) are star-capped at
    ``max_bucket_size`` — see :func:`_capped_bucket_pairs`. Shared by
    text SimHash and image perceptual hashes (multimodal.image_hashes):
    any 64-bit locality-sensitive signature rides the same machinery."""
    width = 16  # 64 bits in 4 bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.shiftrightunsigned(F.col("_sig"), band * width)
            .bitwiseAND(F.lit(mask))
            .alias("bucket"),
        )
        for band in range(4)
    ]
    buckets = sig.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(sig_col).cast("bigint").alias("_sig"),
    ).select(
        "id", "_sig", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "id",
        "_sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    pairs = _capped_bucket_pairs(buckets, max_bucket_size, carry_cols=["_sig"])
    return pairs.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("_sig_a").bitwiseXOR(F.col("_sig_b")))
        .cast("bigint")
        .alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def hamming_band_pairs_between(
    new: DataFrame,
    existing: DataFrame,
) -> DataFrame:
    """(new_id, existing_id, hamming) pairs within hamming 3 ACROSS
    two relations of (id, phash) —
    the store-probe shape: a small batch of signatures against a
    persisted corpus-sized signature relation. Same band construction
    and pigeonhole-exactness as :func:`hamming_band_pairs`; both
    sides explode to 4 rows and equi-join on (band, bucket),
    so the persisted side shuffles 3 small columns and the batch side
    is broadcast-sized by construction. Self-matches (same id on both
    sides) are excluded — replayed batches are the exact-id path's
    job."""
    width = 16  # 64 bits in 4 bands
    mask = (1 << width) - 1

    def _banded(df: DataFrame, id_out: str, sig_out: str) -> DataFrame:
        structs = [
            F.struct(
                F.lit(band).alias("band"),
                F.shiftrightunsigned(F.col(sig_out), band * width)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for band in range(4)
        ]
        return df.select(
            F.col("id").cast("bigint").alias(id_out),
            F.col("phash").cast("bigint").alias(sig_out),
        ).select(
            id_out, sig_out, F.explode(F.array(*structs)).alias("bb")
        ).select(
            id_out,
            sig_out,
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    nb = _banded(new, "new_id", "_nsig")
    eb = _banded(existing, "existing_id", "_esig")
    return (
        nb.join(eb, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("existing_id"))
        .select(
            "new_id",
            "existing_id",
            F.bit_count(F.col("_nsig").bitwiseXOR(F.col("_esig")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .groupBy("new_id", "existing_id")
        .agg(F.min("hamming").alias("hamming"))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int = 5000,
    hash_fn: str = "xx",
) -> DataFrame:
    """Hamming-distance pairs via 4×16-bit band join (any pair within
    hamming<=3 of 64 bits agrees exactly on >=1 of 4 bands), then exact
    popcount verification via bit_count. Degenerate buckets (e.g. the
    all-zero simhash every empty document hashes to) are star-capped
    at ``max_bucket_size`` — see :func:`_capped_bucket_pairs`. In
    ``md5`` mode the signature is 60-bit (top band carries 12 live
    bits — the pigeonhole exactness argument is unchanged)."""
    sig = simhash_signatures(df, hash_fn=hash_fn)
    return hamming_band_pairs(
        sig, "simhash", "id", max_hamming, max_bucket_size
    )


def remove_boilerplate_passages(
    df: DataFrame,
    min_doc_freq: int = 50,
    block: int = 16,
) -> DataFrame:
    """CCNet-style CROSS-document boilerplate strip: split every
    document into consecutive ``block``-token passages; a passage
    appearing in MORE THAN ``min_doc_freq`` distinct documents
    (navigation bars, subscribe prompts, license footers — content no
    single-document dedup can see) is removed from every document,
    and the survivors reassemble in order. Returns
    ``(id, n_passages, n_removed, text_clean)`` for every input row —
    NULL-text documents pass through with NULL text_clean and zero
    counts (a cleaner must not invent text), fully-boilerplate
    documents come back empty rather than vanishing.

    Scale shape: passages are sha2-fingerprinted BEFORE the exchange,
    so the frequency groupBy shuffles (id, 32-byte fp) rows, never
    passage text; the join back to the passage rows hashes on the same
    fingerprint, reusing the exchange. Doc frequency is an exact
    countDistinct inside the fp group (a posting list read linearly —
    a degenerate boilerplate passage costs O(list), not O(list²)).
    Complements :func:`intra_doc_kept_blocks` (within-doc) and
    :func:`remove_duplicate_spans` (pairwise spans): this is the
    corpus-frequency axis."""
    chunks = passage_rows(df, block)
    freq = chunks.groupBy("fp").agg(
        F.countDistinct("id").alias("_df")
    )
    judged = chunks.join(freq, "fp")
    return _rebuild_cleaned(df, judged, min_doc_freq)


def passage_rows(df: DataFrame, block: int = 16) -> DataFrame:
    """(id, pos, passage, fp) — every document's consecutive
    ``block``-token passages of ``text`` (id = ``doc_id``) with their
    32-byte sha2 fingerprints, the shared substrate of
    :func:`remove_boilerplate_passages` and the persisted
    passage-frequency store (:mod:`.passagefreq`). NULL/empty texts
    contribute no rows."""
    chunk_structs = F.transform(
        F.sequence(
            F.lit(1),
            F.ceil(F.size("_toks") / F.lit(int(block))).cast("int"),
        ),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(
                F.slice("_toks", (i - F.lit(1)) * F.lit(int(block)) + 1,
                        F.lit(int(block))),
                " ",
            ).alias("passage"),
        ),
    )
    return (
        spread_small_input(df)
        .select(F.col("doc_id").alias("id"), tokens("text").alias("_toks"))
        .where(F.col("_toks").isNotNull() & (F.size("_toks") > 0))
        .select("id", F.explode(chunk_structs).alias("c"))
        .select(
            "id",
            F.col("c.pos").alias("pos"),
            F.col("c.passage").alias("passage"),
        )
        .withColumn("fp", F.sha2(F.col("passage"), 256))
    )


def _rebuilt_per_doc(judged: DataFrame, min_doc_freq: int) -> DataFrame:
    """(id, n_passages, n_removed, text_clean) for every doc with at
    least one judged passage row — the shared aggregation of
    :func:`_rebuild_cleaned` and the store strip's attach-it-yourself
    form (passagefreq.strip_rebuilt_against_store)."""
    return judged.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_passages"),
        F.sum(
            F.when(F.col("_df") > int(min_doc_freq), 1).otherwise(0)
        ).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_df") <= int(min_doc_freq),
                            F.struct("pos", "passage"),
                        )
                    )
                ),
                lambda x: x["passage"],
            ),
            " ",
        ).alias("text_clean"),
    )


def _rebuild_cleaned(
    df: DataFrame, judged: DataFrame, min_doc_freq: int
) -> DataFrame:
    """Reassemble kept passages in order from a ``judged`` relation of
    (id, pos, passage, _df) rows; every input row of ``df`` survives —
    NULL/empty text re-enters with NULL text_clean and zero counts."""
    rebuilt = _rebuilt_per_doc(judged, min_doc_freq)
    return (
        df.select(F.col("doc_id").alias("id")).dropDuplicates(["id"])
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("n_passages", F.lit(0)).alias("n_passages"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            "text_clean",
        )
    )
