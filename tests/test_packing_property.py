"""Property tests for sequence packing and the corpus-prep funnel.

Invariants that must hold for ANY corpus, not just the fixtures:

- packing conserves tokens (every token lands in exactly one
  (doc, seq) slot) and never overfills a sequence;
- within a shard, sequence ids are contiguous from 0 and every
  non-final sequence is exactly full;
- the funnel's gate counts are monotonically non-increasing
  (each gate only removes documents) and the dedup survivors are
  bounded by the last gate's count.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import packing as PK

_doc = st.tuples(
    st.integers(min_value=0, max_value=60),  # token count
    st.sampled_from(["a", "b", "c"]),  # shard
)


@st.composite
def _corpus(draw):
    docs = draw(st.lists(_doc, min_size=1, max_size=24))
    return [
        (i, shard, " ".join(f"t{i}x{j}" for j in range(max(n, 1))))
        for i, (n, shard) in enumerate(docs)
    ]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_corpus(), seq_len=st.sampled_from([4, 16, 64]))
def test_packing_invariants(spark, rows, seq_len):
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    packed = PK.pack_sequences(df, seq_len=seq_len).collect()

    # conservation: each doc's slots sum to its token count
    by_doc: dict[int, int] = {}
    for r in packed:
        assert 1 <= r.tokens_in_seq <= seq_len
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.tokens_in_seq
    expected = {i: len(t.split()) for i, s, t in rows}
    assert by_doc == expected

    # per-sequence: never overfull; non-final sequences exactly full;
    # seq ids contiguous from 0 per shard
    fills: dict[tuple, int] = {}
    for r in packed:
        key = next(s for i, s, _ in rows if i == r.doc_id), r.seq_id
        fills[key] = fills.get(key, 0) + r.tokens_in_seq
    for shard in {s for _, s, _ in rows}:
        seqs = sorted(sid for (sh, sid) in fills if sh == shard)
        if not seqs:
            continue
        assert seqs == list(range(len(seqs)))
        for sid in seqs[:-1]:
            assert fills[(shard, sid)] == seq_len
        assert fills[(shard, seqs[-1])] <= seq_len


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_corpus())
def test_funnel_counts_monotonic(spark, rows):
    from etl_procedure_codes_crawler_spark.llm.queries import (  # noqa: PLC0415
        llm_corpus_prep_v2,
    )
    import tempfile, os  # noqa: PLC0415

    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            rows, "doc_id bigint, source string, text string"
        )
        path = os.path.join(tmp, "documents.parquet")
        df.write.parquet(path)
        out = llm_corpus_prep_v2(spark, tmp).collect()
    for r in out:
        chain = [
            r.n_raw,
            r.n_lang_pass,
            r.n_len_pass,
            r.n_rep_pass,
            r.n_pii_pass,
            r.n_docs_final,
        ]
        assert all(a >= b for a, b in zip(chain, chain[1:])), chain
        assert r.total_tokens_final >= 0


# ---------------------------------------------------------------------------
# Lehmer shuffle-key properties (pure expression math — verified via
# numpy replica, no Spark job per example)
# ---------------------------------------------------------------------------

_M = 2147483647
_A = 48271


def _key_py(i: int, seed: int) -> int:
    # id reduced mod M BEFORE the seed add — int64-overflow-safe for
    # ids near 2^63-1 (matches shuffle_key and every SQL oracle twin)
    x = (i % _M + seed) % _M
    for _ in range(2):
        x = (x * _A) % _M
    return x


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=_M - 2),
        min_size=2,
        max_size=200,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=200, deadline=None)
def test_lehmer_key_is_injective_below_modulus(ids, seed):
    """g(x)=xA mod M is a bijection on [0, M) for prime M with A
    coprime — distinct ids below M must get distinct keys (collisions
    would merge shuffle positions and bias shard sizes)."""
    keys = [_key_py(i, seed) for i in ids]
    assert len(set(keys)) == len(ids)


@given(seed=st.integers(min_value=0, max_value=1000))
@settings(max_examples=50, deadline=None)
def test_lehmer_key_spark_matches_python_replica(spark, seed):
    """The Spark expression and the plain-Python replica (the same
    arithmetic every SQL oracle embeds) must agree bit-for-bit."""
    ids = [0, 1, 2, 43_999, 44_000, 44_001, 10**6, 10**9, _M - 1, _M,
           2 * _M + 7, 2**63 - 1]  # the boundary id ANSI-overflowed pre-fix
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r.doc_id: r.k
        for r in df.select(
            "doc_id", PK.shuffle_key(F.col("doc_id"), seed).alias("k")
        ).collect()
    }
    assert got == {i: _key_py(i, seed) for i in ids}


def test_holdout_split_is_order_independent(spark):
    """Membership is a pure function of (id, seed): shuffling the
    input rows or partitioning differently cannot move a doc across
    splits."""
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    ids = list(range(300))
    a = {
        r.doc_id: r.split
        for r in PK.holdout_split(
            spark.createDataFrame([(i,) for i in ids], "doc_id bigint"),
            fr,
        ).collect()
    }
    b = {
        r.doc_id: r.split
        for r in PK.holdout_split(
            spark.createDataFrame(
                [(i,) for i in reversed(ids)], "doc_id bigint"
            ).repartition(7),
            fr,
        ).collect()
    }
    assert a == b
