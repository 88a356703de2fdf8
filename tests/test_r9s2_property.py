"""Property tests for the round-9 session-2 operators — pure-Python
replicas where possible (no Spark per hypothesis example), Spark only
for the laws that need the engine."""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# KMV sketch laws (pure-Python replica of the md5-60 bottom-k)
# ---------------------------------------------------------------------------

def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _sketch(items: set[str], k: int) -> list[int]:
    return sorted({_h60(x) for x in items})[:k]


@given(
    a=st.sets(st.text(min_size=1, max_size=6), max_size=60),
    b=st.sets(st.text(min_size=1, max_size=6), max_size=60),
    k=st.integers(min_value=4, max_value=32),
)
@settings(**_SETTINGS)
def test_kmv_merge_law(a, b, k):
    """sketch(A ∪ B) == bottom-k(sketch(A) ∪ sketch(B)) — the exact
    closure the persisted store's read-side merge relies on (the
    reason incremental == batch bit-for-bit)."""
    merged = sorted(set(_sketch(a, k)) | set(_sketch(b, k)))[:k]
    assert merged == _sketch(a | b, k)


@given(
    a=st.sets(st.text(min_size=1, max_size=6), max_size=40),
    k=st.integers(min_value=4, max_value=64),
)
@settings(**_SETTINGS)
def test_kmv_exact_mode(a, k):
    """Below k distinct hashes the sketch IS the set: the estimator's
    exact branch must count it exactly."""
    sk = _sketch(a, k)
    n_hashes = len({_h60(x) for x in a})
    if n_hashes < k:
        assert len(sk) == n_hashes


@given(
    a=st.sets(st.text(min_size=1, max_size=6), min_size=1, max_size=80),
    b=st.sets(st.text(min_size=1, max_size=6), max_size=80),
)
@settings(**_SETTINGS)
def test_kmv_replay_idempotent(a, b):
    """Re-offering any batch changes nothing — the zero-bookkeeping
    crash contract of the streaming gate."""
    k = 16
    once = sorted(set(_sketch(a, k)) | set(_sketch(b, k)))[:k]
    twice = sorted(
        set(_sketch(a, k)) | set(_sketch(b, k)) | set(_sketch(a, k))
    )[:k]
    assert once == twice


# ---------------------------------------------------------------------------
# containment identities (pure-set replica)
# ---------------------------------------------------------------------------

@given(
    a=st.sets(st.integers(0, 50), min_size=1, max_size=30),
    b=st.sets(st.integers(0, 50), min_size=1, max_size=30),
)
@settings(**_SETTINGS)
def test_containment_identities(a, b):
    """c_ab·|A| == c_ba·|B| == |A∩B|; containment bounds jaccard:
    J <= min(c_ab, c_ba) <= max(c_ab, c_ba), and a subset relation
    forces containment 1 in that direction."""
    inter = len(a & b)
    c_ab = inter / len(a)
    c_ba = inter / len(b)
    j = inter / len(a | b)
    assert abs(c_ab * len(a) - inter) < 1e-9
    assert abs(c_ba * len(b) - inter) < 1e-9
    assert j <= min(c_ab, c_ba) + 1e-12
    if a <= b:
        assert c_ab == 1.0


# ---------------------------------------------------------------------------
# systematic PPS conservation (pure-integer replica)
# ---------------------------------------------------------------------------

@given(
    ws=st.lists(st.integers(0, 500), min_size=1, max_size=60),
    n=st.integers(min_value=1, max_value=40),
)
@settings(**_SETTINGS)
def test_pps_pin_conservation(ws, n):
    """Σ n_hits == n_picks exactly, for ANY weights (zero-weight rows
    get zero pins), and every doc's hits are ⌊w·n/W⌋ ± 1."""
    total = sum(ws)
    if total == 0:
        return
    cum = 0
    hits = []
    for w in ws:
        prev = cum
        cum += w
        hits.append((cum * n) // total - (prev * n) // total)
    assert sum(hits) == n
    for w, h in zip(ws, hits):
        ideal = w * n / total
        assert math.floor(ideal) - 1 <= h <= math.floor(ideal) + 1
        if w == 0:
            assert h == 0


# ---------------------------------------------------------------------------
# Poisson(1) weight function (the literal-threshold inverse CDF)
# ---------------------------------------------------------------------------

@given(u=st.floats(min_value=0.0, max_value=1.0, exclude_max=True))
@settings(**_SETTINGS)
def test_poisson_weight_matches_cdf_inversion(u):
    from etl_procedure_codes_crawler_spark.llm.bootstrap import POISSON1_CUM

    w = sum(u > t for t in POISSON1_CUM)
    # inverse-CDF definition: w is the smallest k with u <= F(k),
    # capped at 7
    expected = 7
    for k, c in enumerate(POISSON1_CUM):
        if u <= c:
            expected = k
            break
    assert w == expected
    assert 0 <= w <= 7


def test_poisson_thresholds_are_the_cdf():
    from etl_procedure_codes_crawler_spark.llm.bootstrap import POISSON1_CUM

    acc, p = 0.0, math.exp(-1.0)
    for k, c in enumerate(POISSON1_CUM):
        acc += p
        assert abs(c - acc) < 1e-15, k
        p /= k + 1


# ---------------------------------------------------------------------------
# unigram Viterbi laws (pure-Python segmenter)
# ---------------------------------------------------------------------------

@given(
    word=st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=102),
        min_size=1,
        max_size=12,
    ),
    pieces=st.dictionaries(
        st.text(
            alphabet=st.characters(min_codepoint=97, max_codepoint=102),
            min_size=2,
            max_size=4,
        ),
        st.floats(min_value=-8.0, max_value=-0.5),
        max_size=10,
    ),
)
@settings(**_SETTINGS)
def test_viterbi_roundtrip_and_score_dominance(word, pieces):
    from etl_procedure_codes_crawler_spark.llm.unigram import _viterbi

    scores = dict(pieces)
    for ch in "abcdef":
        scores.setdefault(ch, -6.0)
    segs = _viterbi(word, scores)
    # round-trip: pieces concatenate back to the word
    assert "".join(segs) == word
    # optimality against the all-singletons baseline
    viterbi_score = sum(scores[p] for p in segs)
    singleton_score = sum(scores[c] for c in word)
    assert viterbi_score >= singleton_score - 1e-9
