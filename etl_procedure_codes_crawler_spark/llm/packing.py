"""Sequence packing: concat-and-chunk accounting for LLM training.

Training pipelines concatenate tokenized documents into a stream and
slice it into fixed-length sequences ("packing"); the bookkeeping —
which documents land in which sequence, how many cross a boundary,
how full each sequence is — drives shuffling, curriculum, and loss
masking decisions downstream.

Scale story: a single global concatenation order would funnel the
whole corpus through ONE window task, so the operator packs **per
shard** (any grouping column — source, a hash bucket, a date) with a
deterministic in-shard order. Shards pack independently and in
parallel — exactly how a 1000-executor run lays out a 100 TB corpus
(each shard's stream is written by one writer task). The only data
movement is one shuffle on the shard key; token counting happens
map-side before it.

No counterpart in the reference (`/root/reference/` has no training
concepts); semantics follow the standard GPT-style pack-then-chunk
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import token_count


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Per-document packing assignment: which sequences of a
    ``seq_len``-token stream each document occupies.

    Documents are concatenated per ``source`` shard in ``doc_id`` order (ties are
    impossible: ids are unique), then the stream is cut every
    ``seq_len`` tokens. Emits one row per (document, sequence) the
    document overlaps:

    - ``seq_id``       — 0-based sequence index within the shard;
    - ``tokens_in_seq``— how many of the document's tokens land in
      this sequence;
    - ``crosses``      — true iff the document continues into another
      sequence (boundary-crossing docs need attention masking or get
      truncated in real runs).

    The window is partitioned by shard, so the cumulative sum never
    sees more than one shard's stream in a task.

    With ``n_tokens_col`` set, the counts come from that column
    instead of whitespace-tokenizing ``text`` — the path for
    packing on LEARNED subword counts (``bpe.bpe_encode`` →
    ``size(tokens)``), which is what the training run actually packs.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # 0-token rows must not reach the span arithmetic: start == end
    # makes last_seq < first_seq, and Spark's sequence() generates
    # DESCENDING for first > last (DuckDB's generate_series returns
    # empty) — a silent cross-engine divergence. The whitespace
    # tokenizer never yields 0 tokens (empty text still splits to one
    # empty-string token), but precomputed counts (n_tokens_col, e.g.
    # BPE on an empty doc) genuinely hit 0 — such docs occupy no
    # stream positions, which is exactly right.
    # a NULL precomputed count is an upstream integrity error (a
    # mis-joined counts table would silently drop documents from the
    # stream); raise per-row at execution — no extra audit job
    count_expr = (
        F.when(
            F.col(n_tokens_col).isNull(),
            F.raise_error(
                F.lit(
                    f"pack_sequences: NULL {n_tokens_col} — count every "
                    "document or filter explicitly upstream"
                )
            ).cast("bigint"),
        ).otherwise(F.col(n_tokens_col).cast("bigint"))
        if n_tokens_col is not None
        else token_count("text")
    )
    sized = df.select(
        F.col("source").alias("shard"),
        F.col("doc_id"),
        count_expr.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    # integer `div`, not `/`: Spark's `/` promotes to double, and past
    # ~2^53 cumulative tokens per shard (reachable at corpus scale) the
    # rounding diverges from the oracle's exact integer division
    seq_len = int(seq_len)
    spans = (
        sized.withColumn("end", F.sum("n_tokens").over(w))
        .withColumn("start", F.col("end") - F.col("n_tokens"))
        .withColumn("first_seq", F.expr(f"start div {seq_len}").cast("bigint"))
        .withColumn(
            "last_seq", F.expr(f"(end - 1) div {seq_len}").cast("bigint")
        )
    )
    return spans.select(
        "shard",
        "doc_id",
        "n_tokens",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
        "start",
        "end",
        (F.col("first_seq") != F.col("last_seq")).alias("crosses"),
    ).select(
        "shard",
        "doc_id",
        "seq_id",
        (
            F.least(F.col("end"), (F.col("seq_id") + 1) * seq_len)
            - F.greatest(F.col("start"), F.col("seq_id") * seq_len)
        ).alias("tokens_in_seq"),
        "crosses",
    )


def pack_sequences_bestfit(
    df: DataFrame,
    seq_len: int,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Whole-document packing by best-fit-decreasing bin packing —
    the padding-minimizing alternative to :func:`pack_sequences` when
    boundary-crossing documents are unacceptable (no attention-mask
    support, or contrastive objectives where a split document poisons
    the batch).

    Each document lands WHOLE in exactly one ``seq_len``-capacity
    sequence; documents longer than ``seq_len`` get a dedicated
    sequence flagged ``oversize=true`` (the caller truncates or
    re-chunks those — silently splitting would defeat the contract).
    BFD is the classic 11/9·OPT+1 guarantee; concat-and-chunk has
    near-zero padding but crossings, BFD has zero crossings and
    bounded padding — the two ends of the packing trade-off.

    The fit loop is inherently sequential per shard, so it runs as
    ``applyInPandas`` over the shard key (bisect-based best-fit,
    O(n log n) per shard) — the SAME one-shuffle-then-pack-in-
    parallel layout as ``pack_sequences``; shards must individually
    fit a task's memory, which is the operator family's standing
    sizing contract. Assignment is deterministic: docs descend by
    (n_tokens, doc_id asc), best-fit ties break to the lowest
    remaining capacity then lowest sequence id.

    Returns (shard, doc_id, n_tokens, seq_id, oversize).
    """
    count_expr = (
        F.when(
            F.col(n_tokens_col).isNull(),
            F.raise_error(
                F.lit(
                    f"pack_sequences_bestfit: NULL {n_tokens_col} — count "
                    "every document or filter explicitly upstream"
                )
            ).cast("bigint"),
        ).otherwise(F.col(n_tokens_col).cast("bigint"))
        if n_tokens_col is not None
        else token_count("text")
    )
    sized = df.select(
        F.col("source").alias("shard"),
        F.col("doc_id"),
        count_expr.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    shard_type = sized.schema["shard"].dataType.simpleString()
    out_schema = (
        f"shard {shard_type}, doc_id bigint, n_tokens bigint, "
        "seq_id bigint, oversize boolean"
    )
    cap = int(seq_len)

    def _pack(pdf):
        import bisect

        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        bins: list[tuple[int, int]] = []  # sorted (remaining, seq_id)
        next_id = 0
        seq_ids, oversize = [], []
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > cap:
                seq_ids.append(next_id)
                oversize.append(True)
                next_id += 1
                continue
            oversize.append(False)
            i = bisect.bisect_left(bins, (n, -1))
            if i < len(bins):
                rem, sid = bins.pop(i)
                rem -= n
                if rem > 0:
                    bisect.insort(bins, (rem, sid))
                seq_ids.append(sid)
            else:
                sid = next_id
                next_id += 1
                rem = cap - n
                if rem > 0:
                    bisect.insort(bins, (rem, sid))
                seq_ids.append(sid)
        return pd.DataFrame(
            {
                "shard": pdf["shard"].values,
                "doc_id": pdf["doc_id"].values,
                "n_tokens": pdf["n_tokens"].values,
                "seq_id": seq_ids,
                "oversize": oversize,
            }
        )

    return sized.groupBy("shard").applyInPandas(_pack, out_schema)


def bestfit_packing_stats(
    packed: DataFrame, seq_len: int
) -> DataFrame:
    """Per-shard accounting for a :func:`pack_sequences_bestfit`
    result: documents, sequences, oversize count, and total padding
    (empty capacity across non-oversize sequences). One groupBy over
    the packed relation."""
    cap = int(seq_len)
    per_seq = packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("fill"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    return (
        per_seq.groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("over").cast("bigint").alias("n_oversize"),
            F.sum(
                F.when(
                    F.col("over") == 0, F.lit(cap) - F.col("fill")
                ).otherwise(F.lit(0))
            ).alias("total_padding"),
        )
    )


def sequence_stats(
    df: DataFrame,
    seq_len: int,
) -> DataFrame:
    """Per-sequence packing summary: document count, boundary-crossing
    document count, and fill level of every packed sequence.

    ``fill`` < 1 only for a shard's final sequence (the stream's tail);
    a low average fill across shards means the shard key is too fine.
    """
    packed = pack_sequences(df, seq_len)
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("crosses"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_crossing_docs"),
        F.sum("tokens_in_seq").cast("bigint").alias("n_tokens"),
        (F.sum("tokens_in_seq") / F.lit(seq_len)).alias("fill"),
    )


#: Lehmer / MINSTD constants — prime modulus so low bits are as well
#: mixed as high bits (a power-of-two modulus LCG has short-period low
#: bits, which would stripe consecutive ids across shards)
_SHUFFLE_M = 2147483647  # 2^31 - 1, prime
_SHUFFLE_A = 48271


def shuffle_key(id_col, seed: int = 1):
    """Deterministic pseudo-random permutation key for a bigint id:
    TWO Lehmer steps, ``g(g((id + seed) mod M))`` with
    ``g(x) = x·A mod M``.

    Two steps, not one: for ids below M/A ≈ 44k a single step never
    wraps the modulus, so the "key" is just ``(id+seed)·A`` —
    monotonic in id (no shuffle at all) and tiny relative to M (every
    id passes any fractional threshold). The second multiplication
    wraps thousands of times and scrambles; the order/uniformity
    properties are pinned in tests/test_packing.py.

    Every intermediate stays far below int64 overflow for ANY bigint
    id: the id is reduced mod M BEFORE the seed is added (adding
    first would ANSI-overflow for ids within ``seed`` of 2^63-1),
    then each pmod caps at 2^31 and ×48271 ≈ 1e14. The expression is
    ANSI-safe, and DuckDB computes it bit-identically — the
    permutation is cross-engine reproducible, which is the whole
    point: a training run restarted on different infrastructure must
    see the same data order. For ids that never wrap (id + seed <
    2^63) the two forms agree exactly, so the reduction changes no
    existing permutation."""
    x = F.pmod(F.pmod(id_col, F.lit(_SHUFFLE_M)) + F.lit(seed), F.lit(_SHUFFLE_M))
    for _ in range(2):
        x = F.pmod(x * F.lit(_SHUFFLE_A), F.lit(_SHUFFLE_M))
    return x


def training_shuffle(
    df: DataFrame,
    num_shards: int = 8,
    seed: int = 1,
) -> DataFrame:
    """Reproducible global shuffle of a corpus into training shards:
    each row gets (shard, pos) — its shard and its position within the
    shard's read order — forming a deterministic pseudo-random
    permutation of the whole corpus without a global sort.

    Scale shape: ONE hash exchange on ``shard`` plus a per-shard local
    sort (that is all `row_number over (partition by shard)` plans).
    With ``num_shards`` at or above cluster parallelism each task
    sorts ~n/num_shards rows; no single-partition window exists at any
    corpus size. Epoch reshuffles are a seed change, not a data move:
    the manifest is tiny (id, shard, pos) and the heavy rows are
    joined to it lazily by the reader."""
    key = shuffle_key(F.col("doc_id"), seed)
    keyed = df.select(
        F.col("doc_id"),
        key.alias("_key"),
    ).withColumn("shard", F.pmod(F.col("_key"), F.lit(num_shards)))
    w = Window.partitionBy("shard").orderBy("_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    seed: int = 1,
) -> int:
    """Materialize the :func:`training_shuffle` as a physical layout:
    one parquet partition directory per shard, rows stored in shard
    read order (``pos`` ascending) so a trainer streams each shard
    sequentially with zero seek-time shuffling at read time, over 4
    shards. Returns the shard count.

    Scale shape — the write IS the shuffle: ``repartition(4,
    shard)`` is the single exchange and all of a shard's rows land in
    ONE task (same key → same partition), so each shard directory
    gets exactly one file and its parquet row order is the manifest
    order. Hash partitioning can COLLIDE shard values — a task may
    hold 2-3 shards while another sits empty — so writer parallelism
    is less than the shard count at small shard counts; at corpus scale
    runs use thousands of shards over hundreds of executors and the
    collisions average out (the per-directory file layout is
    unaffected either way). Epoch re-shuffles rewrite only (id,
    shard, pos) ordering — the seed is the epoch number."""
    manifest = training_shuffle(df, 4, seed)
    (
        df.join(manifest, "doc_id")
        .repartition(4, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy("shard")
        .parquet(path)
    )
    return 4


def holdout_split(
    df: DataFrame,
    fractions: dict[str, float],
) -> DataFrame:
    """Deterministic train/val/test assignment by the document's own
    Lehmer key — membership is a pure function of (id, seed 3), so the
    split survives reprocessing, corpus growth (existing docs never
    change split), and engine changes (bit-identical in SQL).

    ``fractions`` maps split name → target fraction, in priority
    order; thresholds are cumulative integer cut-points on the key
    space. Map-side only — no shuffle, no sampling state."""
    key = shuffle_key(F.col("doc_id"), 3)
    return df.select(
        F.col("doc_id"), _split_case(key, fractions).alias("split")
    )


def _split_case(key, fractions: dict[str, float]):
    """Cumulative integer cut-points on the Lehmer key space as a
    CASE column — shared by the per-doc and per-cluster splits."""
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fractions}")
    out = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        edge = F.lit(int(round(acc * _SHUFFLE_M)))
        branch = F.when(key < edge, F.lit(name))
        out = branch if out is None else out.when(key < edge, F.lit(name))
    return (
        out.otherwise(F.lit(names[-1]))
        if out is not None
        else F.lit(names[-1])
    )


def cluster_holdout_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
) -> DataFrame:
    """Leakage-safe train/val/test split: the split unit is the
    NEAR-DUP CLUSTER, not the document — the split key is the cluster
    representative's Lehmer key, so two (near-)identical documents can
    never straddle train and test. That straddle is the classic eval-
    contamination failure of per-doc hashing splits: a test document's
    twin sits in train and the eval leaks (the reason decontamination
    pipelines split after clustering, cf. Lee et al. 2022 §6).

    ``pairs`` is any duplicate-pair edge set (exact-fingerprint stars,
    MinHash/SimHash LSH candidates, semantic-dedup pairs). Returns
    ``(doc_id, cluster_id, split)``.

    Scale shape: connected components run over the EDGE relation
    (llm/cluster.py — edge-sized hash-min iterations, never the
    corpus); singleton closure is one anti-join on ids; the split
    itself is a map-side expression on cluster_id. Unpaired docs keep
    their own id as cluster_id, so their assignment is bit-identical
    to :func:`holdout_split` — adding dedup information only ever
    MOVES a duplicate's twin into its representative's split."""
    from .cluster import duplicate_clusters

    clusters = duplicate_clusters(
        pairs, all_ids=df
    )
    key = shuffle_key(F.col("cluster_id"), 3)
    return clusters.select(
        F.col("doc_id"),
        F.col("cluster_id"),
        _split_case(key, fractions).alias("split"),
    )
