"""Rolling-hash document fingerprints: winnowing (MOSS-style).

The sha256 fingerprint (:func:`.text.fingerprint_sha256`) detects only
whole-document duplicates; contamination and plagiarism checks need
LOCAL fingerprints that survive edits around them. This module
implements the standard winnowing scheme (Schleimer, Wilkerson &
Aiken, SIGMOD 2003): polynomial rolling hashes over every character
k-gram, then the minimum hash per sliding window of ``window``
consecutive k-grams — guaranteeing any shared substring of length
``k + window - 1`` yields at least one shared fingerprint, while
storing only ~2/(window+1) of the k-gram hashes.

Hash: Horner's rule with per-step modulus, ``h = (h*B + codepoint)
mod M`` over each k-gram, with B=257 and M=1e9+7 — small enough that
every intermediate fits int64 (ANSI-safe) and simple enough that
DuckDB computes it bit-identically (``list_reduce`` oracle in
llm/queries.py), so fingerprints are CROSS-ENGINE reproducible: a
contamination check between corpora fingerprinted by different
engines still works.

Execution shape: hashing is an Arrow-batched pandas UDF (k vectorized
numpy passes per batch — a per-position nested HOF would be ~2 µs per
interpreted lambda eval, the same pathology the round-5 PQ encode fix
removed), normalization and the length cap stay JVM-side so the UDF
sees bounded input. The overlap join shuffles (8-byte fingerprint,
id) pairs only — text never enters the wide stage — and fingerprints
shared by more than ``max_df`` documents are dropped as
stop-fingerprints (boilerplate headers/footers), which both removes
noise matches and bounds every posting list, exactly as
:func:`.dedup.ngram_jaccard_pairs`'s df-cap does for shingles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: polynomial base / modulus — shared with the DuckDB oracle spelling
HASH_BASE = 257
HASH_MOD = 1_000_000_007

#: default geometry: any shared run of K + WINDOW - 1 = 23 normalized
#: characters guarantees a shared fingerprint
KGRAM = 8
WINDOW = 16

#: normalized-length cap so one pathological document cannot dominate
#: a task; plenty for matching (a cap'd doc still yields ~cap/8
#: fingerprints)
MAX_CHARS = 4096


def _winnow_udf(k: int, window: int):
    @pandas_udf("array<bigint>")
    def winnow(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            if txt is None:
                out.append(None)
                continue
            n = len(txt)
            if n < k:
                out.append([])
                continue
            # utf-32-le bytes ARE the codepoint array — fully
            # vectorized, no per-char Python ord() loop
            codes = np.frombuffer(
                txt.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            m = n - k + 1
            acc = np.zeros(m, dtype=np.int64)
            # Horner with per-step mod: k vectorized passes, every
            # intermediate < M*B + 2^21 << 2^63
            for j in range(k):
                acc = (acc * HASH_BASE + codes[j : j + m]) % HASH_MOD
            if m <= window:
                mins = acc.min(keepdims=True)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(
                    acc, window
                ).min(axis=1)
            out.append([int(x) for x in np.unique(mins)])
        return pd.Series(out)

    return winnow


def _normalized_capped(max_chars: int):
    from .text import normalized_text

    return F.substring(normalized_text("text"), 1, max_chars)


def winnow_fingerprints(
    df: DataFrame,
    max_chars: int = MAX_CHARS,
) -> DataFrame:
    """(id, fingerprint) — one row per selected k-gram hash per doc,
    ascending-distinct within a doc. Documents shorter than ``KGRAM``
    normalized characters yield no rows."""
    winnow = _winnow_udf(KGRAM, WINDOW)
    # explode_outer + null filter on the GENERATED column: a plain
    # explode adds an implicit size>0 predicate on the UDF output,
    # which splits the plan into two ArrowEvalPython stages — the
    # winnow hash pass ran twice per document. Fingerprint elements
    # are never NULL, so only the outer rows from empty arrays (docs
    # too short to fingerprint) are filtered — the same rows plain
    # explode dropped.
    return (
        df.select(
            F.col("doc_id").alias("id"),
            winnow(_normalized_capped(max_chars)).alias("_fps"),
        )
        .select("id", F.explode_outer("_fps").alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )


def winnow_overlap_pairs(
    df: DataFrame,
    max_chars: int = MAX_CHARS,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """(doc_a, doc_b, shared_fps) for document pairs sharing at least
    ``min_shared`` winnowing fingerprints — local-overlap detection
    (contamination, quoting, templated rewrites) that exact and
    shingle-Jaccard dedup both miss when the shared region is a small
    part of each document.

    Scale shape: one fingerprint exchange; fingerprints in more than
    ``max_df`` documents are dropped before the self-join (stop
    fingerprints = boilerplate), so a posting list is at most
    ``max_df`` long and the pair blow-up per fingerprint is bounded at
    max_df·(max_df-1)/2 regardless of corpus shape."""
    # materialize the fingerprints ONCE: four consumers follow (the
    # df-cap groupBy and both self-join sides through the semi filter)
    # and without the checkpoint each re-runs the hashing UDF over the
    # full corpus text — measured 8 ArrowEvalPython stages in the plan
    # vs 1 after (AQE blocks ReusedExchange across the UDF subtree, so
    # a pinned repartition does NOT deduplicate it). The checkpointed
    # relation is (id, 8-byte fingerprint) rows — the cheap thing —
    # while the text scan happens exactly once.
    fps = winnow_fingerprints(
        df, max_chars
    ).localCheckpoint(eager=True)
    df_ok = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fingerprint")
    )
    kept = fps.join(df_ok, "fingerprint")
    a = kept.select(F.col("id").alias("doc_a"), "fingerprint")
    b = kept.select(F.col("id").alias("doc_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
