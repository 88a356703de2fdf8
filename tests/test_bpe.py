"""Distributed BPE training (llm/bpe.py) vs a pure-Python Sennrich
reference — merges, tie-breaks, greedy merge semantics, vocab."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import bpe as B


def _ref_bpe(word_freqs: dict[str, int], num_merges: int, min_pair_freq: int):
    """Sennrich et al. 2016 reference: pair counts over symbol
    sequences, merge the most frequent pair greedy left-to-right,
    ties broken by (freq desc, left asc, right asc)."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        top = max(pairs.values())
        if top < min_pair_freq:
            break
        best = min(p for p, c in pairs.items() if c == top)
        merges.append((best[0], best[1], top))
        merged = best[0] + best[1]
        new_vocab: dict = {}
        for syms, f in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    final: Counter = Counter()
    for syms, f in vocab.items():
        for s in syms:
            final[s] += f
    return merges, dict(final)


CORPUS = [
    (1, "low lower lowest low low"),
    (2, "newer newest new news"),
    (3, "the lowest newest low"),
    (4, "widest wider wide wide the the"),
]


def _spark_word_freqs(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    return {
        r.word: r.freq for r in B.word_frequencies(df).collect()
    }


def test_merges_match_reference_exactly(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    got = [
        (r.left, r.right, r.pair_freq)
        for r in B.train_bpe_merges(df, num_merges=12)
        .orderBy("rank")
        .collect()
    ]
    ref_merges, _ = _ref_bpe(_spark_word_freqs(spark), 12, 2)
    assert got == ref_merges


def _vocab(df, num_merges, **kwargs):
    """(token -> freq) of the trainer's final symbol table: the
    characters plus every learned merge, with corpus frequencies."""
    _, syms = B._train(df, "text", num_merges, 2, "stop", **kwargs)
    return {
        r.token: r.freq
        for r in syms.select("freq", F.explode("sym").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("freq"))
        .collect()
    }


def test_vocab_matches_reference(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    got = _vocab(df, num_merges=8)
    _, ref_vocab = _ref_bpe(_spark_word_freqs(spark), 8, 2)
    assert got == ref_vocab


def test_distributed_loop_matches_driver_loop(spark):
    """The two merge-loop homes — driver (small vocab) and distributed
    (incremental delta jobs) — must learn the identical merge table,
    and both must match the Sennrich replica."""
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    via_driver = [
        (r.left, r.right, r.pair_freq)
        for r in B.train_bpe_merges(df, num_merges=12).orderBy("rank").collect()
    ]
    via_cluster = [
        (r.left, r.right, r.pair_freq)
        for r in B.train_bpe_merges(df, num_merges=12, max_driver_words=0)
        .orderBy("rank")
        .collect()
    ]
    ref_merges, _ = _ref_bpe(_spark_word_freqs(spark), 12, 2)
    assert via_driver == via_cluster == ref_merges
    # the segment tables agree too (via the vocab they induce)
    assert _vocab(df, num_merges=8) == _vocab(df, num_merges=8, max_driver_words=0)


def test_incremental_counts_keep_job_count_flat(spark):
    """The distributed merge loop maintains pair counts in a driver
    dict, so merges cost delta jobs over the changed words — never a
    full pair-recount + sort-limit per merge. Round 6's recount loop
    scheduled 63 jobs at num_merges=20; round 7's incremental loop 28;
    the batched loop here schedules ceil(merges/_MERGE_BATCH) delta
    jobs plus periodic checkpoints. On this chain-heavy tiny corpus
    batching mostly truncates (each merge mints the next argmax pair),
    so the ceiling pins the WORST case at ~1 job per merge — a
    recount/argmax job creeping back in still fails loudly.
    (max_driver_words=0 forces the distributed path — the default
    would train this tiny vocab on the driver with ~3 jobs total.)"""
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    sc = spark.sparkContext
    num_merges = 12
    sc.setJobGroup("bpe_job_ceiling", "job-count pin")
    try:
        merges = B.train_bpe_merges(
            df, num_merges=num_merges, max_driver_words=0
        ).collect()
    finally:
        sc.setJobGroup("bpe_job_ceiling_done", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("bpe_job_ceiling"))
    assert len(merges) == num_merges
    # budget: ~3 setup jobs (syms checkpoint + count + initial pair
    # collect) + at worst 1 delta job per merge + checkpoints
    ceiling = 4 + int(num_merges * 1.5)
    assert jobs <= ceiling, f"{jobs} jobs for {num_merges} merges"


def test_batched_merges_cut_jobs_on_diverse_vocab(spark):
    """Round-8 batching win: when the top pairs live in UNRELATED
    words (the realistic shape of a web-scale vocabulary, where at any
    rank many independent words compete), the loop applies
    _MERGE_BATCH symbol-disjoint merges per job. 64 single-merge word
    families over disjoint alphabets with distinct frequencies → the
    LOOP portion runs ceil(64/8)=8 delta jobs + 4 checkpoints = 12,
    vs 64 + 4 = 68 for round 7's one-job-per-merge loop — 5.7× fewer
    (measured totals incl. the fixed ~9 setup/teardown jobs AQE
    splits: 21 here vs ~77 before; at a production 32k-merge vocab the
    fixed part vanishes and the ratio approaches the batch size).
    The merge table must STILL be bit-identical to the sequential
    semantics (frequency-descending family order)."""
    letters = (
        [chr(c) for c in range(ord("a"), ord("z") + 1)]
        + [chr(c) for c in range(ord("A"), ord("Z") + 1)]
        + [chr(c) for c in range(0x410, 0x450)]  # Cyrillic block
        + [chr(c) for c in range(0x3B1, 0x3C9)]  # Greek lowercase
    )
    n_fam = 64
    rows = []
    doc_id = 0
    expected = []
    for i in range(n_fam):
        l, r = letters[2 * i], letters[2 * i + 1]
        freq = 200 - i  # distinct, descending: argmax order = family order
        expected.append((l, r, freq))
        for _ in range(freq):
            doc_id += 1
            rows.append((doc_id, l + r))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sc = spark.sparkContext
    sc.setJobGroup("bpe_batch_win", "batched job-count pin")
    try:
        merges = (
            B.train_bpe_merges(
                df, num_merges=n_fam, max_driver_words=0
            )
            .orderBy("rank")
            .collect()
        )
    finally:
        sc.setJobGroup("bpe_batch_win_done", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("bpe_batch_win"))
    assert [(m.left, m.right, m.pair_freq) for m in merges] == expected
    # 9 fixed jobs (setup collects split by AQE, final checkpoint pin,
    # result collect) + the batched loop's delta jobs + checkpoints
    loop_jobs = (n_fam + B._MERGE_BATCH - 1) // B._MERGE_BATCH + (
        n_fam // B._CHECKPOINT_EVERY
    )
    ceiling = 9 + loop_jobs
    assert jobs <= ceiling, (
        f"{jobs} jobs for {n_fam} independent merges — batching "
        f"regressed (round-7 sequential loop: ~{n_fam + 13} total)"
    )
    assert loop_jobs * 5 <= n_fam + n_fam // B._CHECKPOINT_EVERY, (
        "the pinned loop-job budget no longer beats the sequential "
        "loop by 5x — batch size or checkpoint cadence regressed"
    )


def test_greedy_merge_is_left_to_right_non_overlapping(spark):
    """'aaaa' under merge (a,a) must become [aa, aa], never [aa, a, a]
    or a re-merged [aaaa] — the scan rule the reference also uses."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(["a"] * 5,)], "sym array<string>")
    out = df.select(B._merge_pair(F.col("sym"), "a", "a").alias("m")).first()
    assert out.m == ["aa", "aa", "a"]


def test_stop_vs_raise_on_exhausted_corpus(spark):
    df = spark.createDataFrame([(1, "ab ab")], "doc_id bigint, text string")
    # only a handful of merges exist at freq >= 2
    short = B.train_bpe_merges(df, num_merges=50).count()
    assert short < 50
    with pytest.raises(B.BpeNotProgressing):
        B._train(df, "text", 50, 2, "raise")


def test_single_char_and_empty_words_are_safe(spark):
    df = spark.createDataFrame(
        [(1, "a b c a b c x")], "doc_id bigint, text string"
    )
    merges = B.train_bpe_merges(df, num_merges=4)
    ref, _ = _ref_bpe(_spark_word_freqs_for(spark, "a b c a b c x"), 4, 2)
    got = [(r.left, r.right, r.pair_freq) for r in merges.orderBy("rank").collect()]
    assert got == ref


def _spark_word_freqs_for(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    return {r.word: r.freq for r in B.word_frequencies(df).collect()}


class TestBpeEncode:
    def test_training_corpus_encodes_to_trainer_segmentation(self, spark):
        """Encoding words the trainer saw must reproduce its final
        symbol state exactly — lookup and replay agree."""
        df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
        merges, seg = B.train_bpe(df, num_merges=10)
        enc = {r.id: r.tokens for r in B.bpe_encode(df, merges, seg).collect()}
        # reconstruct: concatenating tokens per doc gives the pretoken
        # stream back (no characters lost or duplicated)
        from etl_procedure_codes_crawler_spark.llm.text import bpe_pretokens
        from pyspark.sql import functions as F

        pre = {
            r.doc_id: "".join(t for t in r.p if t)
            for r in df.select("doc_id", bpe_pretokens("text").alias("p")).collect()
        }
        for doc_id, toks in enc.items():
            assert "".join(toks) == pre[doc_id]
        # and every in-vocab word matches the trainer's segmentation
        seg_map = {r.word: list(r.tokens) for r in seg.collect()}
        ref_merges, _ = _ref_bpe(_spark_word_freqs(spark), 10, 2)
        for word, toks in seg_map.items():
            # replay reference merges over the word
            syms = list(word)
            for left, right, _c in ref_merges:
                i, res = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            assert toks == syms, (word, toks, syms)

    def test_oov_words_replay_merges(self, spark):
        train = spark.createDataFrame(
            [(1, "low low lower lowest")], "doc_id bigint, text string"
        )
        merges, seg = B.train_bpe(train, num_merges=4)
        # 'slow' was never seen; 'lo' and 'low' merges still apply
        new = spark.createDataFrame([(9, "slow")], "doc_id bigint, text string")
        toks = B.bpe_encode(new, merges, seg).first().tokens
        assert "".join(toks) == "slow"
        assert "low" in toks or "lo" in toks  # learned merges applied


def test_encode_keeps_empty_documents(spark):
    train = spark.createDataFrame(
        [(1, "low lower lowest")], "doc_id bigint, text string"
    )
    merges, seg = B.train_bpe(train, num_merges=3)
    mixed = spark.createDataFrame(
        [(1, "low"), (2, ""), (3, "   "), (4, None)],
        "doc_id bigint, text string",
    )
    got = {r.id: list(r.tokens) for r in B.bpe_encode(mixed, merges, seg).collect()}
    assert set(got) == {1, 2, 3, 4}  # nobody vanishes
    assert got[2] == [] and got[3] == [] and got[4] == []
    assert "".join(got[1]) == "low"
