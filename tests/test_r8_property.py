"""Property tests for the round-8 operators against pure replicas:
perceptual-hash invariances (pure numpy — no Spark per example),
batched-BPE selection safety, budget-gate prefix semantics, and
soft-dedup weight conservation."""

from __future__ import annotations

import numpy as np

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_procedure_codes_crawler_spark.llm import bpe as B
from etl_procedure_codes_crawler_spark.llm import multimodal as M

_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_SPARK_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --------------------------------------------------------------------------
# dHash (pure numpy)
# --------------------------------------------------------------------------

_IMG = st.tuples(
    st.integers(min_value=1, max_value=40),   # width
    st.integers(min_value=1, max_value=30),   # height
    st.sampled_from([1, 3]),                  # channels
    st.integers(min_value=0, max_value=2**31 - 1),  # seed
)


def _img(width, height, channels, seed, lo=0, hi=256):
    rng = np.random.RandomState(seed)
    return rng.randint(lo, hi, size=(height, width, channels)).astype(np.uint8)


@settings(**_SETTINGS)
@given(spec=_IMG)
def test_dhash_deterministic_and_in_range(spec):
    w, h, c, seed = spec
    arr = _img(w, h, c, seed)
    v1 = M.dhash64(arr.tobytes(), w, h, c)
    v2 = M.dhash64(arr.tobytes(), w, h, c)
    assert v1 == v2
    assert -(2**63) <= v1 < 2**63  # fits BIGINT (two's complement)


@settings(**_SETTINGS)
@given(spec=_IMG, shift=st.integers(min_value=-25, max_value=25))
def test_dhash_exactly_invariant_to_uniform_brightness(spec, shift):
    """Gradient SIGNS cannot change under a clip-free uniform shift."""
    w, h, c, seed = spec
    arr = _img(w, h, c, seed, lo=30, hi=226)  # headroom: no clipping
    shifted = (arr.astype(np.int16) + shift).astype(np.uint8)
    assert M.dhash64(arr.tobytes(), w, h, c) == M.dhash64(
        shifted.tobytes(), w, h, c
    )


# --------------------------------------------------------------------------
# Audio fingerprint (pure numpy)
# --------------------------------------------------------------------------

_CLIP = st.tuples(
    st.integers(min_value=1, max_value=400),  # n frames
    st.sampled_from([1, 2]),                  # channels
    st.integers(min_value=0, max_value=2**31 - 1),
)


@settings(**_SETTINGS)
@given(spec=_CLIP, gain=st.integers(min_value=1, max_value=7))
def test_audio_fingerprint_exactly_gain_invariant(spec, gain):
    n, ch, seed = spec
    rng = np.random.RandomState(seed)
    sig = rng.randint(-4000, 4000, size=n * ch).astype(np.int16)
    f1 = M.audio_fingerprint64(sig.tobytes(), n, ch)
    f2 = M.audio_fingerprint64((sig * gain).astype(np.int16).tobytes(), n, ch)
    assert f1 == f2
    assert -(2**63) <= f1 < 2**63


# --------------------------------------------------------------------------
# Batched-BPE selection safety (pure python)
# --------------------------------------------------------------------------

_SYM = st.text(alphabet="abcd", min_size=1, max_size=2)


@settings(**_SETTINGS)
@given(
    pairs=st.dictionaries(
        st.tuples(_SYM, _SYM),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=20,
    ),
    k=st.integers(min_value=1, max_value=8),
)
def test_select_batch_is_argmax_headed_and_symbol_disjoint(pairs, k):
    best = B._argmax(pairs)
    batch = B._select_batch(pairs, best[0], k, min_pair_freq=1)
    assert batch[0] == best[0]  # head = exact argmax, always applied
    assert len(batch) <= k
    used = set()
    for left, right in batch:
        merged = left + right
        # no symbol (incl. the freshly-minted merged one) may interact
        # with any OTHER batch member's symbols
        assert left not in used and right not in used and merged not in used
        used.update((left, right, merged))


# --------------------------------------------------------------------------
# Budget gate prefix semantics + soft-dedup conservation (Spark, few
# examples)
# --------------------------------------------------------------------------


def _budget_replica(docs, budgets, consumed):
    """docs: [(doc_id, source, n_tokens)] — per-source id-ordered
    prefix whose cumulative sum fits budget − consumed."""
    accepted = set()
    by_src: dict = {}
    for doc_id, src, n in sorted(docs):
        by_src.setdefault(src, []).append((doc_id, n))
    for src, items in by_src.items():
        cap = budgets.get(src)
        used = consumed.get(src, 0)
        run = 0
        for doc_id, n in items:
            run += n
            if cap is None or used + run <= cap:
                accepted.add(doc_id)
    return accepted


@settings(**_SPARK_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),     # doc_id
            st.sampled_from(["s0", "s1", "s2"]),        # source
            st.integers(min_value=1, max_value=9),      # n tokens
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    caps=st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    used0=st.integers(min_value=0, max_value=10),
)
def test_budget_filter_matches_prefix_replica(spark, docs, caps, used0):
    from etl_procedure_codes_crawler_spark.streaming.incremental import (
        budget_filter,
    )

    budgets = {"s0": caps[0], "s1": caps[1]}  # s2 uncapped
    consumed = {"s0": used0}
    rows = [(i, src, "tok " * n) for i, src, n in docs]
    df = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows],
        "doc_id long, source string, text string",
    )
    consumed_df = spark.createDataFrame(
        [("s0", used0)], "source string, _used long"
    )
    got = {
        r.doc_id
        for r in budget_filter(df, consumed_df, budgets).collect()
    }
    want = _budget_replica(docs, budgets, consumed)
    assert got == want, (docs, budgets, consumed, got, want)
    # hard invariant: a capped source never ACCEPTS more than its
    # remaining budget (consumed may already exceed the cap — e.g. a
    # budget lowered mid-stream — in which case remaining is zero)
    per_src: dict = {}
    for doc_id, src, n in docs:
        if doc_id in got:
            per_src[src] = per_src.get(src, 0) + n
    for src, cap in budgets.items():
        remaining = max(0, cap - consumed.get(src, 0))
        assert per_src.get(src, 0) <= remaining


@settings(**_SPARK_SETTINGS)
@given(
    n_ids=st.integers(min_value=2, max_value=12),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=1, max_value=12),
        ),
        max_size=10,
    ),
)
def test_soft_dedup_weights_sum_to_cluster_count(spark, n_ids, edges):
    from etl_procedure_codes_crawler_spark.llm import cluster as CL

    edges = [(a, b) for a, b in edges if a != b and a <= n_ids and b <= n_ids]
    ids = spark.createDataFrame([(i,) for i in range(1, n_ids + 1)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(1, 1)], "doc_a long, doc_b long"
    ).filter("doc_a <> doc_b")
    out = CL.soft_dedup_weights(
        CL.duplicate_clusters(pairs, all_ids=ids)
    ).collect()
    assert len(out) == n_ids  # every doc weighted exactly once
    n_clusters = len({r.cluster_id for r in out})
    assert abs(sum(r.weight for r in out) - n_clusters) < 1e-9
    for r in out:
        assert r.weight == 1.0 / r.cluster_size
