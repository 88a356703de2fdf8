"""Distributed BPE vocabulary training (Sennrich-style merges).

Training the tokenizer ON the corpus is a training-data-pipeline step
the token-counting operators (:func:`.text.bpe_pretoken_count`)
presuppose; this module learns the merge table itself with pure
DataFrame ops.

Algorithm (Sennrich, Haddow & Birch 2016, "Neural Machine Translation
of Rare Words with Subword Units" — the public BPE formulation): count
word frequencies once, represent each word as a symbol sequence
(initially characters), then repeatedly (1) count adjacent symbol
pairs weighted by word frequency, (2) merge the most frequent pair
everywhere, greedy left-to-right. Ties break lexicographically so the
learned vocabulary is deterministic.

Scale shape — the part that matters at 100 TB: the CORPUS is scanned
exactly once (the pretoken → word-frequency groupBy); every merge
iteration afterwards touches only the word-frequency table, which is
VOCABULARY-sized (unique words, not corpus rows — tens of millions at
web scale, comfortably cluster-resident). Each iteration is one
pair-count aggregation (shuffle of 2-symbol pairs), one driver-side
1-row argmax, and one map-side rewrite of the symbol arrays;
per-iteration ``localCheckpoint`` truncates the growing lineage the
same way :mod:`.cluster`'s label propagation does. The rewrite is a
JVM ``aggregate`` scan — greedy left-to-right non-overlapping, the
same rule the reference implementation uses (pinned against a pure
Python replica in tests/test_bpe.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .text import bpe_pretokens


class BpeNotProgressing(RuntimeError):
    """No pair reached ``min_pair_freq`` before ``num_merges`` merges
    were learned — the corpus is too small for the requested vocab."""


def word_frequencies(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, freq) over the GPT-style pretokens — the ONE corpus
    scan; everything after operates on this vocabulary-sized table."""
    return (
        df.select(F.explode(bpe_pretokens(text_col)).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(sym_col):
    """array<struct<left,right>> of adjacent symbol pairs; empty for
    single-symbol words (sequence(1, 0) would count DOWN in Spark —
    the guard is load-bearing)."""
    pair_array = F.transform(
        F.sequence(F.lit(1), F.size(sym_col) - 1),
        lambda i: F.struct(
            F.element_at(sym_col, i).alias("left"),
            F.element_at(sym_col, i + 1).alias("right"),
        ),
    )
    return F.when(F.size(sym_col) >= 2, pair_array).otherwise(
        F.array().cast("array<struct<left:string,right:string>>")
    )


def _pair_entries_tagged(sym_col, delta_col, step: int):
    """array<struct<m,l,r,d>> — the (left, right) adjacent-symbol
    pairs with their delta weight, plus a literal batch-step tag baked
    into the SAME transform. The tag cannot be added by a second
    transform over this one's output: nesting transforms trips
    Spark's lambda-variable cross-binding (observed in round 8 as
    step tags taking the INNER sequence's index values)."""
    entries = F.transform(
        F.sequence(F.lit(1), F.size(sym_col) - 1),
        lambda i: F.struct(
            F.lit(int(step)).alias("m"),
            F.element_at(sym_col, i).alias("l"),
            F.element_at(sym_col, i + 1).alias("r"),
            delta_col.alias("d"),
        ),
    )
    return F.when(F.size(sym_col) >= 2, entries).otherwise(
        F.array().cast("array<struct<m:int,l:string,r:string,d:bigint>>")
    )


def _merge_pair(sym_col, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of (left, right) →
    left+right inside one symbol array: an aggregate scan whose
    accumulator is the rewritten prefix. Non-overlap falls out of the
    scan order: once a pair merges, the merged symbol is the new
    lookback and cannot be the ``left`` of the same rule unless it
    string-equals it (symbols are contiguous substrings, so string
    equality IS identity)."""
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: lineage is localCheckpoint-truncated once at least this many merges
#: accreted since the last checkpoint (with batched merges that is
#: every other batch or so — each checkpoint costs one job)
_CHECKPOINT_EVERY = 16

#: vocabularies at or below this many unique words train the merge
#: loop on the DRIVER (see _train docstring); above it, distributed
_MAX_DRIVER_WORDS = 100_000


def _train_driver(
    word_freqs: list[tuple[str, int]],
    num_merges: int,
    min_pair_freq: int,
    on_exhausted: str,
):
    """The merge loop on the driver: incremental pair counts plus an
    occurrence index (pair → word ids), so each merge touches only the
    words that contain the pair — the classic fast-BPE structure.
    Returns (merges, final (word, freq, syms) rows). Tie-break and
    greedy left-to-right semantics are bit-identical to the
    distributed loop (pinned against each other in tests/test_bpe.py).
    """
    words: list[list[str]] = [list(w) for w, _ in word_freqs]
    freqs = [f for _, f in word_freqs]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        f = freqs[wi]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + f
            where.setdefault(p, set()).add(wi)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        best = (
            min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            if counts
            else None
        )
        if best is None or best[1] < min_pair_freq:
            if on_exhausted == "raise":
                raise BpeNotProgressing(
                    f"learned {rank}/{num_merges} merges before pair "
                    f"frequency fell below {min_pair_freq}"
                )
            break
        (left, right), cnt = best
        merges.append((rank, left, right, cnt))
        merged = left + right
        for wi in sorted(where.get((left, right), ())):
            old, f = words[wi], freqs[wi]
            new, i = [], 0
            while i < len(old):
                if i + 1 < len(old) and old[i] == left and old[i + 1] == right:
                    new.append(merged)
                    i += 2
                else:
                    new.append(old[i])
                    i += 1
            for syms, sign in ((old, -f), (new, f)):
                for j in range(len(syms) - 1):
                    p = (syms[j], syms[j + 1])
                    c = counts.get(p, 0) + sign
                    if c <= 0:
                        counts.pop(p, None)
                    else:
                        counts[p] = c
                    idx = where.setdefault(p, set())
                    if sign > 0:
                        idx.add(wi)
            words[wi] = new
        # occurrence sets are not eagerly pruned on removal (a word may
        # still hold OTHER occurrences of the pair); stale entries are
        # harmless — the per-word recount above is exact regardless
        where.pop((left, right), None)
    rows = [
        (w, f, syms)
        for (w, _), f, syms in zip(word_freqs, freqs, words)
    ]
    return merges, rows


def _train(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_pair_freq: int,
    on_exhausted: str,
    max_driver_words: int = _MAX_DRIVER_WORDS,
):
    """(merge list, final symbol table) — shared by the merge-table
    and vocabulary entry points so the vocab does not re-nest every
    merge scan into one expression tree.

    The CORPUS is scanned exactly once (the word-frequency groupBy);
    everything after runs on the vocabulary-sized word table, which is
    metadata next to the corpus. Where the merge loop itself runs is
    sized to that table:

    - ``n_words <= max_driver_words`` (default 100k): the loop runs ON
      THE DRIVER over the collected (word, freq) list with incremental
      pair counts and a pair→words occurrence index — the classic
      fast-BPE structure, and what single-node trainers
      (SentencePiece, HF tokenizers) do with far larger vocabularies.
      A 100k-word table is a few MB; scheduling a Spark job per merge
      against it costs ~0.3 s/merge of pure query overhead (measured),
      thousands of times the actual work.
    - larger vocabs: the DISTRIBUTED incremental loop — pair counts
      live in a driver dict (pair-TYPE-shaped, bounded by the unique
      adjacent pairs of the word table, never corpus rows), the argmax
      comes off the dict for free, and each merge is ONE Spark job
      that rewrites the symbol arrays and returns the exact per-pair
      deltas of the words that changed. Round 6 recounted every pair
      of every word per merge — a full vocab-table shuffle plus a
      sort-limit job per iteration, ~2× the jobs (63 vs 28 measured at
      num_merges=20) and orders of magnitude more shuffled rows.

    Both loops share tie-break ((freq desc, left asc, right asc) —
    Python tuple order equals Spark's UTF8 binary order here, both
    code-point) and greedy left-to-right merge semantics; tests pin
    them against each other and against the pure-Python Sennrich
    replica.

    Why the distributed dict's initial ``min_pair_freq`` pruning is
    safe: initial pairs are all single-char/single-char, and a merge
    only ever CREATES pairs involving its (multi-char) merged symbol,
    so a pruned initial pair can never gain count later; existing
    pairs only lose count. Entries are deleted only at count 0 —
    sub-threshold residuals must keep accumulating deltas because a
    later merge can re-create a multi-char pair that dropped to 0.
    """
    spark = df.sparkSession
    syms = (
        word_frequencies(df, text_col)
        .select(
            "word",
            "freq",
            # split-to-chars; the (?!^) boundary also matches at
            # end-of-string, so drop the trailing empty symbol it emits
            F.filter(
                F.split("word", "(?!^)"), lambda s: s != F.lit("")
            ).alias("sym"),
        )
        .localCheckpoint(eager=True)  # iterations must not rescan text
    )
    n_words = syms.count()  # already materialized — metadata-cheap
    if n_words <= max_driver_words:
        word_freqs = [
            (r["word"], int(r["freq"]))
            for r in syms.select("word", "freq").collect()
        ]
        merges, rows = _train_driver(
            word_freqs, num_merges, min_pair_freq, on_exhausted
        )
        return merges, spark.createDataFrame(
            rows, "word string, freq bigint, sym array<string>"
        )
    counts: dict[tuple[str, str], int] = {
        (r["left"], r["right"]): int(r["cnt"])
        for r in syms.select(
            "freq", F.explode(_adjacent_pairs(F.col("sym"))).alias("p")
        )
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").alias("cnt"))
        .where(F.col("cnt") >= min_pair_freq)
        .collect()
    }
    merges: list[tuple[int, str, str, int]] = []
    prev_cached: DataFrame | None = None
    # Size the loop's partitioning to the VOCAB, not the session
    # default: ~50k words per partition, so a just-over-threshold
    # vocab runs 2-3 real tasks instead of 32 near-empty ones.
    parts = max(
        1,
        min(
            int(spark.sparkContext.defaultParallelism),
            int(n_words) // 50_000 + 1,
        ),
    )
    if parts < syms.rdd.getNumPartitions():
        syms = syms.coalesce(parts)
    # AQE off for the merge loop only: every loop query is a tiny
    # vocab-table aggregation whose shape is fully known, and AQE's
    # per-query-stage scheduling turns each one-collect iteration into
    # 2-3 jobs (measured: 68 vs 28 jobs at num_merges=20). Shuffle
    # partitions pinned to the vocab-sized `parts` for the same
    # reason. The corpus scan and initial pair count above still run
    # under the session's normal (adaptive) config; both confs are
    # restored before returning.
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    shuf_prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        if aqe_prev != "false":
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        if shuf_prev != str(parts):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        merges, syms, prev_cached = _merge_loop(
            syms, counts, num_merges, min_pair_freq, on_exhausted
        )
    finally:
        if aqe_prev != "false":
            spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        if shuf_prev != str(parts):
            spark.conf.set("spark.sql.shuffle.partitions", shuf_prev)
    if prev_cached is not None:
        # pin the final table before dropping the cache it reads
        syms = syms.localCheckpoint(eager=True)
        prev_cached.unpersist()
    return merges, syms


#: upper bound on merges applied per distributed job; the batch
#: selector may pick fewer (no disjoint candidates) and the validator
#: may truncate (a prediction diverged), so this is a ceiling
_MERGE_BATCH = 8


def _argmax(counts: dict[tuple[str, str], int]):
    return (
        min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if counts
        else None
    )


def _select_batch(
    counts: dict[tuple[str, str], int],
    first: tuple[str, str],
    k: int,
    min_pair_freq: int,
) -> list[tuple[str, str]]:
    """Predict up to ``k`` merges likely to match the next ``k``
    sequential argmax picks: walk the top of the count table in argmax
    order and keep pairs whose symbols (left, right, AND the merged
    string each would mint) are disjoint from every pair already in
    the batch — merging one such pair cannot change another's count.
    This is a HEURISTIC only: created pairs around a fresh merged
    symbol can still overtake a later candidate, so the caller
    validates every prediction against the true sequential argmax and
    truncates at the first divergence. Exactness never depends on this
    function."""
    import heapq

    batch = [first]
    used = {first[0], first[1], first[0] + first[1]}
    if k <= 1:
        return batch
    for (pl, pr), c in heapq.nsmallest(
        max(4 * k, 16), counts.items(), key=lambda kv: (-kv[1], kv[0])
    ):
        if c < min_pair_freq:
            break
        if (pl, pr) == first:
            continue
        pm = pl + pr
        if pl in used or pr in used or pm in used:
            continue
        batch.append((pl, pr))
        used.update((pl, pr, pm))
        if len(batch) == k:
            break
    return batch


def _merge_loop(
    syms: DataFrame,
    counts: dict[tuple[str, str], int],
    num_merges: int,
    min_pair_freq: int,
    on_exhausted: str,
):
    """Batched distributed merge loop — O(num_merges / batch) jobs.

    Each iteration predicts a batch of symbol-disjoint pairs
    (:func:`_select_batch`), applies them CHAINED in one projection
    (state columns _s1.._sk, so the rewrite for pair j runs on pair
    j−1's output — literally the sequential semantics, fused into one
    job), and emits per-STEP pair-count deltas from the same job. The
    driver then replays the sequential algorithm against those deltas:
    before accepting prediction j it recomputes the true argmax from
    the incrementally-updated count dict, and on the first divergence
    (or threshold exhaustion) truncates the batch — the surviving
    state is just column _s{accepted} of the already-persisted frame,
    no recomputation. The first prediction is the exact argmax by
    construction, so every job advances ≥ 1 merge and the learned
    table is bit-identical to the one-merge-per-job loop (pinned in
    tests/test_bpe.py). Round 7 scheduled one delta job per merge;
    this is the ~batch-fold cut on top (32k production merges:
    ~4k jobs instead of 32k)."""
    merges: list[tuple[int, str, str, int]] = []
    prev_cached: DataFrame | None = None
    last_ckpt = 0
    while len(merges) < num_merges:
        best = _argmax(counts)
        if best is None or best[1] < min_pair_freq:
            if on_exhausted == "raise":
                if prev_cached is not None:
                    prev_cached.unpersist()
                raise BpeNotProgressing(
                    f"learned {len(merges)}/{num_merges} merges before "
                    f"pair frequency fell below {min_pair_freq}"
                )
            break
        batch = _select_batch(
            counts, best[0], min(_MERGE_BATCH, num_merges - len(merges)),
            min_pair_freq,
        )
        # Chained rewrites: each state column gets a FRESH name
        # (re-aliasing back to "sym" in the same projection shadows
        # the input column — projection collapse then mixed old-array
        # sizes with new-array lookups, observed as element_at
        # out-of-bounds). The merge scans run unconditionally; change
        # detection is a size comparison on their OUTPUT (an exists()
        # pre-filter would cost a second interpreted array scan).
        step = syms.select("word", "freq", "sym")
        prev_name = "sym"
        for i, (left, right) in enumerate(batch, start=1):
            step = step.withColumn(
                f"_s{i}", _merge_pair(F.col(prev_name), left, right)
            )
            prev_name = f"_s{i}"
        step = step.persist()
        # Exact per-pair deltas PER STEP, from the real before/after
        # arrays of the words each step changed — greedy-overlap
        # bookkeeping ("aaa" counts (a,a) twice but merges once) is
        # correct by construction, and the step tag lets the driver
        # replay the dict one merge at a time. One explode + one
        # shuffle for the whole batch; this collect also materializes
        # `step`'s cache.
        tagged = []
        prev_name = "sym"
        for i in range(1, len(batch) + 1):
            cur, prv = F.col(f"_s{i}"), F.col(prev_name)
            ent = F.when(
                F.size(cur) < F.size(prv),
                F.concat(
                    _pair_entries_tagged(prv, -F.col("freq"), i),
                    _pair_entries_tagged(cur, F.col("freq"), i),
                ),
            ).otherwise(
                F.array().cast(
                    "array<struct<m:int,l:string,r:string,d:bigint>>"
                )
            )
            tagged.append(ent)
            prev_name = f"_s{i}"
        deltas = (
            step.select(F.explode(F.concat(*tagged)).alias("e"))
            .groupBy("e.m", "e.l", "e.r")
            .agg(F.sum("e.d").alias("d"))
            .where(F.col("d") != 0)
            .collect()
        )
        by_step: dict[int, list] = {}
        for r in deltas:
            by_step.setdefault(int(r["m"]), []).append(r)
        # Sequential replay: accept prediction j only if it IS the
        # argmax of the dict as updated through merge j−1.
        accepted = 0
        for j, (left, right) in enumerate(batch, start=1):
            cur_best = _argmax(counts)
            if (
                cur_best is None
                or cur_best[1] < min_pair_freq
                or cur_best[0] != (left, right)
            ):
                break  # truncate; the outer loop re-decides exactly
            merges.append((len(merges), left, right, cur_best[1]))
            accepted = j
            for r in by_step.get(j, ()):  # noqa: B020
                pair, d = (r["l"], r["r"]), int(r["d"])
                if pair in counts:
                    counts[pair] += d
                    if counts[pair] <= 0:
                        del counts[pair]
                elif d > 0:
                    counts[pair] = d
                # a negative delta for an absent pair is one the
                # initial prune dropped — still unelectable, ignorable
        if prev_cached is not None:
            prev_cached.unpersist()
        nxt = step.select("word", "freq", F.col(f"_s{accepted}").alias("sym"))
        if len(merges) - last_ckpt >= _CHECKPOINT_EVERY:
            syms = nxt.localCheckpoint(eager=True)
            step.unpersist()
            prev_cached = None
            last_ckpt = len(merges)
        else:
            syms = nxt
            prev_cached = step
    return merges, syms, prev_cached


def train_bpe_merges(
    df: DataFrame,
    num_merges: int = 20,
    max_driver_words: int = _MAX_DRIVER_WORDS,
) -> DataFrame:
    """Learn the BPE merge table: (rank, left, right, merged,
    pair_freq), rank = merge order. Deterministic: the argmax
    tie-breaks on (freq desc, left asc, right asc).

    When no pair reaches frequency 2 before ``num_merges``, the
    merges learned so far are returned."""
    merges, _syms = _train(
        df, "text", num_merges, 2, "stop",
        max_driver_words=max_driver_words,
    )
    return df.sparkSession.createDataFrame(
        [(r, a, b, a + b, c) for r, a, b, c in merges],
        "rank bigint, left string, right string, merged string, pair_freq bigint",
    )


def train_bpe(
    df: DataFrame,
    num_merges: int = 20,
):
    """(merge list as (left, right) in rank order, segmentation table
    (word, tokens)) — the two artifacts encoding needs. The
    segmentation table is the trainer's OWN final symbol state, so
    encoding a word the trainer saw is a LOOKUP, not a recomputation."""
    merges, syms = _train(
        df, "text", num_merges, 2, "stop",
        max_driver_words=_MAX_DRIVER_WORDS,
    )
    return (
        [(a, b) for _r, a, b, _c in merges],
        syms.select("word", F.col("sym").alias("tokens")),
    )


def _encode_word_udf(merges: list[tuple[str, str]]):
    """Rank-order replay of the merge table over one word — the exact
    training procedure, so in-vocab words reproduce the trainer's
    segmentation and OOV words get the deterministic best-effort one.
    Runs only for OOV words (the segment-table join covers the rest)."""

    @pandas_udf("array<string>")
    def encode(words: pd.Series) -> pd.Series:
        out = []
        for w in words:
            if w is None:
                out.append(None)
                continue
            syms = list(w)
            for left, right in merges:
                i, merged, res = 0, left + right, []
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            out.append(syms)
        return pd.Series(out)

    return encode


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    segment_table: DataFrame,
) -> DataFrame:
    """(id, tokens) — tokenize the corpus with a trained merge table.

    Scale shape: pretokens join the vocabulary-sized segmentation
    table on the word string (AQE broadcasts it when it fits — the
    common case: the vocab is millions of rows, the corpus billions),
    so the overwhelmingly-frequent in-vocab words are segmented by
    LOOKUP; only out-of-vocabulary words run the rank-order replay
    UDF. Per-document order is restored with an array_sort over
    (position, tokens) structs — one exchange on the doc id, no
    global sort."""
    words = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(bpe_pretokens("text")).alias("pos", "word"),
    ).where(F.length("word") > 0)
    joined = words.join(segment_table, "word", "left")
    known = joined.filter(F.col("tokens").isNotNull())
    encode = _encode_word_udf(merges)
    oov = joined.filter(F.col("tokens").isNull()).select(
        "word", "id", "pos", encode(F.col("word")).alias("tokens")
    )
    grouped = (
        known.select("id", "pos", "tokens")
        .unionByName(oov.select("id", "pos", "tokens"))
        .groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tokens"))),
                    lambda x: x["tokens"],
                )
            ).alias("tokens")
        )
    )
    # empty/whitespace-only documents produce zero pretokens and would
    # otherwise VANISH from the output (posexplode emits no rows); a
    # tokenizer must return (id, []) so downstream joins (packing,
    # manifests) keep every document
    return (
        df.select(F.col("doc_id").alias("id"))
        .dropDuplicates(["id"])
        .join(grouped, "id", "left")
        .select(
            "id",
            F.coalesce(
                F.col("tokens"), F.array().cast("array<string>")
            ).alias("tokens"),
        )
    )
