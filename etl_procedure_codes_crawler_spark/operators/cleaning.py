"""Input-cleaning operators (SURVEY §2.3 P1-P3).

Reference semantics (``crawler/src/procedure_code.py:721-723``):

1. P1 — blank-after-trim strings become NULL;
2. P2 — the literal string ``'false'`` (case-insensitive, trimmed)
   becomes NULL;
3. P3 — rows whose key column is NULL are dropped.

All three are single narrow projections/filters — no shuffle, fully
pushed into the scan stage by Catalyst, and whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def nullify_blank(col: Column | str) -> Column:
    """P1: ``''`` / whitespace-only → NULL (kept otherwise)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(col) == "", F.lit(None)).otherwise(col)


def nullify_literal_false(col: Column | str) -> Column:
    """P2: trimmed, lowercased ``'false'`` → NULL (kept otherwise)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.when(F.lower(F.trim(col)) == "false", F.lit(None)).otherwise(col)


def clean_key_column(df: DataFrame, column: str = "code") -> DataFrame:
    """P1 + P2 + P3 on one key column, preserving all other columns.

    Equivalent of the reference's three pandas statements at
    ``procedure_code.py:721-723`` (blank→NULL, 'false'→NULL, dropna).
    """
    cleaned = nullify_literal_false(nullify_blank(F.col(column)))
    return (
        df.withColumn(column, cleaned)
        .filter(F.col(column).isNotNull())
    )


def clean_codes(df: DataFrame, column: str = "code") -> DataFrame:
    """Full codes-input cleaning: P1-P3 plus within-batch dedup.

    The ``dropDuplicates`` on the key is an intentional improvement over
    the reference, which only dedups against the existing snapshot,
    never within the incoming batch (SURVEY §2.4 note on
    ``procedure_code.py:763-772``).
    """
    return clean_key_column(df, column).dropDuplicates([column])
