"""Distributed Bloom-filter membership prefilter.

The ingest gate's exact dedup anti-joins every batch against the full
warehouse id/fingerprint set — correct, but at 100 TB the warehouse
side of that join is billions of rows re-shuffled per batch. A Bloom
filter is the standard prefilter: a bit array sized for the corpus
(m = −n·ln(fpr)/ln(2)², k = m/n·ln 2 hash probes) that answers
"definitely new" with zero error and "maybe seen" with a bounded
false-positive rate, so the expensive exact anti-join only runs over
the tiny maybe-seen slice.

Spark shape — both paths stay fully JVM-side:

- **build**: each item contributes k positions via Kirsch–Mitzenmacher
  double hashing (pos_i = (h1 + i·h2) mod m with two xxhash64 seeds —
  2 hash evaluations, not k); positions fold to (word_idx, bitmask)
  rows and ONE ``bit_or`` groupBy produces the filter as an
  (word_idx, bits) relation of m/64 rows. Partial aggregation ORs
  map-side, so the shuffle carries at most partitions×m/64 rows.
- **merge**: union + the same bit_or — Bloom filters of the same
  (m, k) are closed under OR, so per-batch filters fold without
  rereading data (the HLL-store pattern).
- **probe**: the filter relation is small by construction (m/64 rows;
  ~1.5 M rows ≈ 12 MB for 10⁸ items at 1 % fpr), so each of the k bit
  tests is a BROADCAST join — the probed corpus never shuffles and no
  Python runs.

Not DuckDB-oracled: positions come from JVM xxhash64, which other
engines don't reproduce — the gate entry is rows-only and correctness
is pinned by the no-false-negative / FPR-bound / merge-equivalence
tests in tests/test_bloom.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORD = 64


def bloom_parameters(n_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """Standard sizing: bits m = ceil(−n·ln p / ln²2) rounded up to a
    whole word, probes k = round(m/n·ln 2), both ≥ 1."""
    if n_items <= 0:
        raise ValueError(f"n_items must be positive, got {n_items}")
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    m = math.ceil(-n_items * math.log(fpr) / (math.log(2) ** 2))
    m = ((m + _WORD - 1) // _WORD) * _WORD
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _positions(col, m_bits: int, k: int) -> list:
    """k probe positions by double hashing: two xxhash64 draws, then
    pos_i = (h1 + i·h2) mod m — non-negative via pmod."""
    # reduce both draws mod m BEFORE the i·h2 products: xxhash64 spans
    # the full long range and i·h2 would overflow ANSI arithmetic;
    # after reduction every intermediate is ≤ k·m.
    # h2 is forced into [1, m−1]: a zero step would collapse all k
    # probes onto one bit for that key (~1/m of keys), locally
    # inflating the false-positive rate past the designed bound (no
    # false negatives either way — build and probe share the step).
    h1 = F.pmod(F.xxhash64(col, F.lit(0x5EED1)), F.lit(m_bits))
    h2 = F.lit(1) + F.pmod(F.xxhash64(col, F.lit(0x5EED2)), F.lit(m_bits - 1))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)).alias(f"_pos{i}")
        for i in range(k)
    ]


def build_bloom(
    df: DataFrame, m_bits: int, k: int
) -> DataFrame:
    """(word_idx, bits) filter relation over ``df.fp`` (NULLs are
    skipped — NULL is not a member). One corpus-sized explode + one
    bit_or groupBy; output is m/64 rows regardless of input size."""
    if m_bits % _WORD:
        raise ValueError(f"m_bits must be a multiple of {_WORD}")
    pos = F.explode(F.array(*_positions(F.col("fp"), m_bits, k))).alias(
        "_pos"
    )
    return (
        df.where(F.col("fp").isNotNull())
        .select(pos)
        .select(
            F.expr(f"_pos div {_WORD}").alias("word_idx"),
            # DataFrame-API shiftleft takes only literal shift amounts;
            # the SQL form accepts a column
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_WORD} AS INT))"
            ).alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-fold two filters built with the same (m, k) — the mergeable-
    sketch property that lets per-batch filters accrete without
    rereading any batch."""
    return (
        a.unionByName(b)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


def probe_bloom(
    df: DataFrame, bloom: DataFrame, m_bits: int, k: int
) -> DataFrame:
    """``df`` plus a ``maybe_seen`` column: true iff all k bits probed
    for ``df.fp`` are set. False
 means DEFINITELY not inserted (the dedup-safe
    direction); NULL values probe to false. k broadcast joins against
    the m/64-row filter — the probed relation never shuffles."""
    out = df.withColumn("_b_val", F.col("fp"))
    checks = []
    for i, p in enumerate(_positions(F.col("_b_val"), m_bits, k)):
        out = out.withColumn(f"_p{i}", p)
        side = bloom.select(
            F.col("word_idx").alias(f"_w{i}"),
            F.col("bits").alias(f"_bits{i}"),
        )
        out = out.join(
            F.broadcast(side),
            F.expr(f"_p{i} div {_WORD}") == F.col(f"_w{i}"),
            "left",
        )
        checks.append(
            F.coalesce(
                F.expr(
                    f"shiftright(_bits{i}, CAST(_p{i} % {_WORD} AS INT))"
                    " & CAST(1 AS BIGINT)"
                )
                == F.lit(1),
                F.lit(False),
            )
        )
    seen = checks[0]
    for c in checks[1:]:
        seen = seen & c
    seen = F.when(F.col("_b_val").isNull(), F.lit(False)).otherwise(seen)
    keep = [c for c in df.columns]
    return out.select(*keep, seen.alias("maybe_seen"))
