"""Skew-safe grouped top-k: two salted, spillable window passes.

The textbook per-key top-k (``row_number() OVER (PARTITION BY key
ORDER BY ...) <= k``) shuffles every row to its key's partition and
sorts there — at 100 TB a hot key (one customer with 10⁹ orders)
lands its entire row set in ONE task's sort. This operator splits
that task:

- phase 1 ranks within (key, salt) — the hot key's rows spread over
  ``salt_buckets`` partitions, each ranked by a *spillable* external
  sort (a window sort spills; a collect_list aggregation buffer does
  not, which is why this is two windows and not a sorted-slice
  aggregation) — and keeps each group's top ``k``;
- phase 2 re-ranks the surviving ≤ ``salt_buckets × k`` rows per key
  and keeps the global top ``k``.

Both phases shuffle, but phase 1's shuffle is salt-spread (no single
hot partition) and phase 2 moves at most ``keys × salt_buckets × k``
rows. Per-task memory is bounded by the external sort's spill
threshold, not by group size. The salt comes from
``operators/skew.py:with_salt`` — deterministic over the tie-break
column, so task retries re-derive identical placement.

Semantics match ``ROW_NUMBER() OVER (PARTITION BY keys ORDER BY
order_col DESC, tiebreak_col ASC) <= k`` exactly; ``tiebreak_col``
must be unique per row within a key (the usual primary key), which
makes ranks deterministic. Gate query
`grouped_topk_orders_per_customer` pins agreement with the window
form's DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .skew import SALT_COLUMN, with_salt


def grouped_topk(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_col: str,
    k: int,
) -> DataFrame:
    """Top-``k`` rows per key by (``order_col`` DESC, ``tiebreak_col``
    ASC) via two salted window passes (see module docstring).

    Returns ``keys + [tiebreak_col, order_col, rn]`` with ``rn`` the
    1-based rank.
    """
    order = [F.desc(order_col), F.asc(tiebreak_col)]
    salted = with_salt(df, 8, from_cols=[tiebreak_col])
    w1 = Window.partitionBy(*keys, SALT_COLUMN).orderBy(*order)
    survivors = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .drop("_rn1", SALT_COLUMN)
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        survivors.withColumn("rn", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(*keys, tiebreak_col, order_col, "rn")
    )
