"""Property tests for the round-7 session-2 operators against pure
replicas: intra-doc block dedup, TV drift, cluster-aware holdout
invariants, and Bloom no-false-negative — random small inputs from a
tiny vocabulary (the heavy-collision adversarial case)."""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_procedure_codes_crawler_spark.llm import bloom as B
from etl_procedure_codes_crawler_spark.llm import dedup as D
from etl_procedure_codes_crawler_spark.llm import drift as DR
from etl_procedure_codes_crawler_spark.llm import packing as PK

_WORDS = ["a", "b", "c"]
_DOC = st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12).map(
    " ".join
)
_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _block_replica(text: str, block: int):
    toks = text.split()
    blocks = [
        " ".join(toks[i : i + block]) for i in range(0, len(toks), block)
    ]
    kept, seen = [], set()
    for b in blocks:
        if b not in seen:
            seen.add(b)
            kept.append(b)
    return len(blocks), len(kept), " ".join(kept)


@settings(**_SETTINGS)
@given(texts=st.lists(_DOC, min_size=1, max_size=6),
       block=st.integers(min_value=1, max_value=4))
def test_intra_doc_repeats_match_replica(spark, texts, block):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    n_blocks, kept = D.intra_doc_kept_blocks(block)
    got = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_clean)
        for r in df.select(
            "doc_id",
            n_blocks.alias("n_blocks"),
            F.size(kept).alias("n_kept"),
            F.array_join(kept, " ").alias("text_clean"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _block_replica(t, block), (t, block, got[i])


@settings(**_SETTINGS)
@given(
    corpus=st.lists(
        st.tuples(_DOC, st.sampled_from(["s1", "s2", "s3"])),
        min_size=1,
        max_size=8,
    )
)
def test_token_drift_matches_fraction_replica(spark, corpus):
    rows = [(i, t, s) for i, (t, s) in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    per_src: dict = {}
    total: Counter = Counter()
    for _, t, s in rows:
        per_src.setdefault(s, Counter()).update(t.split())
        total.update(t.split())
    n_c = sum(total.values())
    got = {
        r.source: r.tv_distance
        for r in DR.token_drift_by_source(df).collect()
    }
    assert set(got) == set(per_src)
    for s, cnt in per_src.items():
        n_s = sum(cnt.values())
        tv = sum(
            abs(Fraction(cnt.get(t, 0), n_s) - Fraction(total[t], n_c))
            for t in total
        ) / 2
        assert abs(got[s] - float(tv)) < 1e-15, (s, got[s], float(tv))


@settings(**_SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=30),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=29),
            st.integers(min_value=0, max_value=29),
        ),
        max_size=10,
    ),
)
def test_cluster_holdout_never_straddles(spark, n, edges):
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b and a < n and b < n]
        or [(0, 0)],  # placeholder self-loop: harmless (filtered to singleton)
        "doc_a bigint, doc_b bigint",
    )
    out = PK.cluster_holdout_split(
        docs, pairs, {"train": 0.8, "test": 0.2}
    ).collect()
    assert sorted(r.doc_id for r in out) == list(range(n))
    splits_per_cluster: dict = {}
    for r in out:
        splits_per_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(v) == 1 for v in splits_per_cluster.values())
    # union-find replica for the cluster labels
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b and a < n and b < n:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}
    got = {r.doc_id: r.cluster_id for r in out}
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(items=st.sets(st.text(min_size=1, max_size=8), min_size=1, max_size=40))
def test_bloom_never_false_negative(spark, items):
    df = spark.createDataFrame([(x,) for x in items], "fp string")
    m, k = B.bloom_parameters(len(items), 0.01)
    flt = B.build_bloom(df, m, k).localCheckpoint(eager=True)
    probed = B.probe_bloom(df, flt, m, k)
    assert probed.filter("NOT maybe_seen").count() == 0
