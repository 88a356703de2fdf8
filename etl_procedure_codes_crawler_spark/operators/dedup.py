"""Incremental-dedup operators (SURVEY §2.4 J1/J2).

Reference semantics (``crawler/src/procedure_code.py:763-772``):
keep only rows of the new batch whose key does not appear in the
existing snapshot — a left anti-join on a single equality key, done
there with an O(n·m) pandas ``isin``.

Spark-first notes:

- the existing side is always broadcast, forcing broadcast-hash-anti:
  the snapshot's key column is usually tiny relative to the fact side
  even at 100 TB, and the static planner never broadcasts on its own
  (``session.py`` turns its size-based broadcast off).
- The reference never dedups *within* the new batch and never dedups
  against rows written earlier in the same run; ``incremental_new_rows``
  fixes both (per-batch ``dropDuplicates`` + caller unions current-run
  output into the snapshot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anti_join_on_key(
    new: DataFrame,
    existing: DataFrame,
    key: str,
) -> DataFrame:
    """Rows of ``new`` whose ``key`` is absent from ``existing``.

    Equality-key left anti-join (J1 at ``procedure_code.py:763-767``,
    J2 at ``:769-772``). Only the key column of ``existing`` is needed:
    projecting it first lets the scan prune every other column and
    makes the broadcast side as small as possible. Duplicate or NULL
    keys there do not change the rows, so deduplicating them (a shuffle)
    would buy nothing; a snapshot's keys are unique anyway.
    """
    return new.join(F.broadcast(existing.select(key)), on=key, how="left_anti")


def incremental_new_rows(
    new: DataFrame,
    existing: DataFrame,
    key: str,
) -> DataFrame:
    """Within-batch distinct + anti-join vs snapshot.

    The shape every incremental append in the pipeline uses: dedup the
    batch on its key, then drop keys already present. NULL keys are
    dropped (a NULL key can never match the snapshot under SQL
    equality, which would re-insert it forever).
    """
    batch = (
        new.filter(F.col(key).isNotNull())
        .dropDuplicates([key])
    )
    return anti_join_on_key(batch, existing, key)
