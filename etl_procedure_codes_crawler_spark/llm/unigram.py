"""Unigram-LM tokenizer (Kudo 2018, "Subword Regularization" — the
SentencePiece unigram model): the SECOND tokenizer family next to
:mod:`.bpe`, trained by expectation-maximization instead of greedy
pair merging. BPE grows a vocabulary bottom-up (most frequent adjacent
pair wins); the unigram model starts from an over-complete seed
vocabulary and PRUNES it top-down, keeping the pieces a maximum-
likelihood segmentation actually uses. The two families segment
differently ("internationalization" → BPE merges pairs greedily;
unigram picks the globally best piece decomposition), which is why
production pipelines benchmark both before committing a corpus run.

This implementation uses hard EM (Viterbi counts) — the documented
deterministic variant: the E-step segments each distinct word with
the CURRENT piece scores and counts the pieces on the winning path
(ties broken toward fewer pieces, then lexicographically smaller
piece at the split point, so the lattice argmax is total and
reproducible); the M-step renormalizes counts into scores. Pruning
drops the lowest-count multi-char pieces between EM rounds until the
target vocabulary remains. Single characters are never pruned
(segmentation closure — every word must stay representable).

Distributed shape (the same contract as the BPE trainer):

- ONE corpus scan builds the (word, freq) table
  (:func:`.bpe.word_frequencies`); everything after runs on this
  vocabulary-sized relation, never the corpus.
- Each E-step is ONE Arrow-vectorized pass over the distinct words
  with the current piece-score table riding the UDF closure
  (model-as-data, broadcast by closure capture — piece tables are
  thousands of entries, not millions), followed by one
  map-side-combinable groupBy over (piece, count) rows.
- The M-step and pruning run on the driver over the piece table
  (vocabulary-sized, metadata).

Scores are driver-side ``math.log`` floats → the query family is
rows-only (libm, the lm_perplexity/doremi precedent); determinism,
closure, the learns-the-repeated-piece case, and round-trip
(concatenated pieces == word) are pinned in tests/test_unigram.py.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .bpe import word_frequencies
from .text import bpe_pretokens

#: the longest piece, in characters, the seed vocabulary and Viterbi
#: segmentation consider
MAX_PIECE_LEN = 8

def seed_pieces(
    words: DataFrame, seed_size: int = 2048
) -> DataFrame:
    """(piece, freq) — the over-complete seed vocabulary: every
    substring of every word up to ``MAX_PIECE_LEN``, weighted by word
    frequency, truncated to the ``seed_size`` heaviest multi-char
    pieces PLUS every single character seen (closure; never truncated
    and never pruned later). One explode over the word table — the
    substring fan-out is bounded by MAX_PIECE_LEN · word length per
    DISTINCT word, not per corpus token."""
    subs = F.expr(
        """
        flatten(transform(sequence(1, length(word)), i ->
            transform(sequence(i, least(length(word),
                                        i + {L} - 1)), j ->
                substring(word, i, j - i + 1))))
        """.format(L=MAX_PIECE_LEN)
    )
    exploded = (
        words.select(F.col("freq"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("freq"))
    )
    chars = exploded.filter(F.length("piece") == 1)
    multi = (
        exploded.filter(F.length("piece") > 1)
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(int(seed_size))
    )
    return chars.unionByName(multi)


def _viterbi(word: str, scores: dict[str, float]):
    """Best segmentation of ``word`` under piece log-scores.

    Deterministic tie-breaks: higher score wins; at equal score the
    segmentation with FEWER pieces wins; still equal → the
    lexicographically smaller last piece. Returns the piece list
    (always succeeds: single chars are in the vocab; a character
    missing entirely — unseen at train time — becomes its own piece
    with floor score, the standard UNK-as-byte fallback)."""
    n = len(word)
    FLOOR = -1e9
    best_score: list[float | None] = [None] * (n + 1)
    best_np = [0] * (n + 1)
    back = [0] * (n + 1)
    best_score[0] = 0.0
    for i in range(1, n + 1):
        cand = None  # (score, -n_pieces, neg_str(piece)); max wins
        cand_j = 0
        for j in range(max(0, i - MAX_PIECE_LEN), i):
            if best_score[j] is None:
                continue
            piece = word[j:i]
            s = scores.get(piece)
            if s is None:
                if i - j > 1:
                    continue
                s = FLOOR  # unseen single char: representable, floored
            key = (best_score[j] + s, -(best_np[j] + 1), _neg_str(piece))
            if cand is None or key > cand:
                cand = key
                cand_j = j
        best_score[i] = cand[0]
        best_np[i] = -cand[1]
        back[i] = cand_j
    pieces = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces


class _neg_str(str):
    """Inverts comparison so 'smaller piece wins' composes with the
    max-style tuple comparison above."""

    def __lt__(self, other):  # noqa: D105
        return str.__gt__(self, other)

    def __gt__(self, other):  # noqa: D105
        return str.__lt__(self, other)


def _estep_counts(
    words: DataFrame, scores: dict[str, float]
) -> DataFrame:
    """(piece, count) expected piece counts under the current model —
    hard-EM: Viterbi path counts weighted by word frequency. One Arrow
    pass over the distinct-word table; the score dict rides the
    closure."""
    sc = dict(scores)

    @pandas_udf("array<string>")
    def seg(ws: pd.Series) -> pd.Series:
        return pd.Series(
            [None if w is None else _viterbi(w, sc) for w in ws]
        )

    return (
        words.select("freq", F.explode(seg(F.col("word"))).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("count"))
    )


def train_unigram(
    df: DataFrame,
    vocab_size: int = 512,
    seed_size: int = 2048,
) -> dict[str, float]:
    """Train; returns {piece: log-score} of exactly ``vocab_size``
    entries (or fewer if the corpus cannot fill it — single chars +
    surviving multi-char pieces).

    Loop: (EM × 2) → prune to 75% of the current
    multi-char pieces (by ascending count, lexicographic tiebreak) →
    repeat until vocab_size remains. Each EM round costs one
    distributed E-step job; everything else is driver math on the
    piece table."""
    words = word_frequencies(df, "text").localCheckpoint(eager=True)
    seed = seed_pieces(words, seed_size).collect()
    counts = {r["piece"]: int(r["freq"]) for r in seed}
    chars = {p for p in counts if len(p) == 1}

    def to_scores(c: dict[str, int]) -> dict[str, float]:
        total = sum(c.values()) or 1
        return {p: math.log(v / total) if v > 0 else -1e9
                for p, v in c.items()}

    scores = to_scores(counts)
    while True:
        for _ in range(2):
            rows = _estep_counts(words, scores).collect()
            counts = {p: 0 for p in scores}
            for r in rows:
                counts[r["piece"]] = int(r["count"])
            scores = to_scores(counts)
        multi = [p for p in scores if len(p) > 1]
        n_target_multi = max(0, vocab_size - len(chars))
        if len(multi) <= n_target_multi:
            break
        keep_n = max(n_target_multi, int(len(multi) * 0.75))
        if keep_n == len(multi):
            keep_n = n_target_multi
        survivors = sorted(
            multi, key=lambda p: (-counts.get(p, 0), p)
        )[:keep_n]
        scores = {
            p: s
            for p, s in scores.items()
            if len(p) == 1 or p in set(survivors)
        }
    # final renormalization over the surviving vocab
    final_counts = {p: counts.get(p, 0) for p in scores}
    return to_scores(final_counts)


def unigram_encode(
    df: DataFrame,
    scores: dict[str, float],
) -> DataFrame:
    """(id, tokens) — Viterbi-tokenize the corpus with a trained
    piece table. Same distinct-word economics as bpe_encode: the
    lattice runs ONCE PER DISTINCT WORD (a corpus is billions of
    occurrences of millions of words — segmenting per occurrence
    would multiply the Python lattice work by the repetition factor),
    and the occurrence relation joins the vocabulary-sized segment
    table on the word string (AQE broadcasts it when it fits). The
    segmenter is the trainer's own E-step Viterbi, so encode matches
    training bit-for-bit."""
    sc = dict(scores)

    @pandas_udf("array<string>")
    def seg(ws: pd.Series) -> pd.Series:
        return pd.Series(
            [None if w is None else _viterbi(w, sc) for w in ws]
        )

    words = df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(bpe_pretokens("text")).alias("pos", "word"),
    ).where(F.length("word") > 0)
    segment_table = (
        words.select("word")
        .distinct()
        .select("word", seg(F.col("word")).alias("tokens"))
    )
    grouped = (
        words.join(segment_table, "word")
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
