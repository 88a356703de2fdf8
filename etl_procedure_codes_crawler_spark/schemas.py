"""Explicit StructType registry for every pipeline table.

The reference declares schemas as Python column-name lists
(``crawler/src/procedure_code.py:41-43``, ``utils/error_handler.py:25-28``)
and lets pandas/pyarrow infer types. Here every table gets a typed
StructType so Spark plans, parquet footers, and the DuckDB oracle all
agree. Array columns are nullable with nullable elements because the
reference distinguishes ``None`` (tab absent) from ``[]`` (tab present,
zero rows) — ``crawler/src/procedure_code.py:317-332``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)


def _s(name: str) -> StructField:
    return StructField(name, StringType(), nullable=True)


def _arr(name: str) -> StructField:
    return StructField(
        name, ArrayType(StringType(), containsNull=True), nullable=True
    )


#: Input: the "codes to crawl" relation (reference: Athena codes query,
#: cleaned at procedure_code.py:721-723).
CODES_INPUT_SCHEMA = StructType([_s("code")])

#: Main output — 21 columns, order and names per procedure_code.py:41.
PROCEDURE_CODES_SCHEMA = StructType(
    [
        _s("code"),
        _s("code_type"),            # 'CPT' | 'HCPCS' (procedure_code.py:550)
        _s("main_interval"),        # e.g. '0001U-0005U' (procedure_code.py:165-186)
        _arr("main_interval_name"),  # breadcrumb names (procedure_code.py:138-163)
        _arr("modifiers"),          # modifier codes (procedure_code.py:188-205)
        _s("short_description"),
        _s("long_description"),
        _s("description"),
        _s("summary"),
        _s("date_deleted"),         # free-text alert, not a date (procedure_code.py:60-111)
        _s("betos_code"),
        _s("betos_description"),
        _s("guidelines"),
        _s("advice"),
        _s("lay_term"),
        _s("report"),
        _arr("revenue_lookup"),     # None=tab absent, []=no rows (procedure_code.py:317-332)
        _arr("icd10_cm"),           # '.'-stripped codes (procedure_code.py:397)
        _arr("ndc_alternate_id"),
        _arr("icd_10_pcs_x"),
        _arr("cpt_code_symbols"),
    ]
)

#: Output 2 — procedure_code.py:42; dedup key 'modifier' (:769-772).
PROCEDURE_MODIFIERS_SCHEMA = StructType([_s("modifier"), _s("description")])

#: Output 3 — procedure_code.py:43; dedup key 'ndc_alternate_id' (:763-767).
PROCEDURE_NDC_SCHEMA = StructType(
    [
        _s("ndc_alternate_id"),
        _s("drug_name"),
        _s("labeler_name"),
        _s("hcpcs_dosage"),
        _s("bill_unit"),
    ]
)

#: Audit sink — utils/error_handler.py:25-28.
AIRFLOW_ERRORS_SCHEMA = StructType(
    [_s("dag_id"), _s("task_id"), _s("run_id"), _s("error")]
)


#: Flat output of the mapInPandas extraction operator (SURVEY §2.7):
#: one row per code; the three relations split out of it afterwards.
#: modifier/ndc rows ride along as arrays of structs and are exploded
#: into PROCEDURE_MODIFIERS_SCHEMA / PROCEDURE_NDC_SCHEMA.
EXTRACT_RESULT_SCHEMA = StructType(
    list(PROCEDURE_CODES_SCHEMA.fields)
    + [
        StructField(
            "modifier_rows",
            ArrayType(
                StructType([_s("modifier"), _s("description")]),
                containsNull=False,
            ),
            nullable=True,
        ),
        StructField(
            "ndc_rows",
            ArrayType(
                StructType(
                    [
                        _s("ndc_alternate_id"),
                        _s("drug_name"),
                        _s("labeler_name"),
                        _s("hcpcs_dosage"),
                        _s("bill_unit"),
                    ]
                ),
                containsNull=False,
            ),
            nullable=True,
        ),
        _s("status"),  # 'ok'|'deleted'|'error_404'|'deleted_listing'|'parse_error'|'fetch_error'
        _s("error"),
    ]
)

PROCEDURE_CODES_COLUMNS = [f.name for f in PROCEDURE_CODES_SCHEMA.fields]

#: Driver-provided TPC-H-ish testdata tables (TESTDATA.md / FIXTURES.md §B).
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
