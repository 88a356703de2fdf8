"""The per-code extraction operator (SURVEY §2.7) as ``mapInPandas``.

Reference shape: ``extracted_procedure_modifiers_v2``
(``crawler/src/procedure_code.py:540-651``) — one code → three pandas
frames, run serially against one global browser. Spark-first shape:

    codes DF ── mapInPandas(extract) ──► flat DF (21 cols + modifier_rows
                                          + ndc_rows + status + error)
               ── select / explode ────► three typed relations

Design points for 100 TB scale:

- one fetcher per *fetch thread*, at most N = ``FETCH_CONCURRENCY`` per
  partition: each partition's :class:`FetchPool` overlaps the network
  waits of up to N codes, builds each thread's fetcher lazily and
  closes them all when the iterator ends (connection/login reuse
  without driver state; N concurrent logins per partition on a
  login-gated site). Results come back in input order, so each
  batch's rows are in the order of its codes;
- Arrow-batched both directions; the parse layer is pure Python per
  page (inherently row-wise work — the page is the row);
- failures become ``status``/``error`` columns, not exceptions, so one
  bad page costs one row, not a task retry storm;
- fan-out to the three output relations is ``select``/``explode`` —
  Catalyst handles it JVM-side; the pipeline checkpoints the wide
  frame once, so the three outputs do not fetch again.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.html_extract import parse_procedure_page
from ..schemas import (
    EXTRACT_RESULT_SCHEMA,
    PROCEDURE_CODES_COLUMNS,
)
from ..sources.fetcher import FETCH_CONCURRENCY, FetcherFactory, FetchPool

_RESULT_COLUMNS = [f.name for f in EXTRACT_RESULT_SCHEMA.fields]


def extract_procedure_pages(
    codes: DataFrame,
    fetcher_factory: FetcherFactory,
    batch_partitions: int | None = None,
    concurrency: int = FETCH_CONCURRENCY,
) -> DataFrame:
    """Fetch+parse every code in the ``code`` column of ``codes``;
    returns the flat extraction relation.

    ``batch_partitions`` repartitions the codes first — the analog of
    the reference's 200-codes-per-chunk scheduling
    (``procedure_code.py:725``), but expressed as partition count so
    the cluster, not a driver loop, owns the parallelism.
    ``concurrency`` bounds the fetches in flight per partition; the
    rows do not depend on it.
    """
    source = codes.select("code")
    if batch_partitions:
        source = source.repartition(batch_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with FetchPool(fetcher_factory, concurrency) as pool:
            for batch in batches:
                batch_codes = batch["code"]
                records = []
                for code, result in zip(batch_codes, pool.map(batch_codes)):
                    # result.url is the final (post-redirect) URL: CPT/HCPCS
                    # classification depends on it (reference:
                    # driver.current_url, procedure_code.py:550)
                    if result.html is None:
                        record = parse_procedure_page(code, result.url, "")
                        record["status"] = "fetch_error"
                        record["error"] = result.error
                    else:
                        record = parse_procedure_page(code, result.url, result.html)
                    records.append(record)
                yield pd.DataFrame(records, columns=_RESULT_COLUMNS)

    return source.mapInPandas(run, schema=EXTRACT_RESULT_SCHEMA)


def split_procedure_outputs(
    extracted: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fan the flat extraction relation out into the three output tables.

    Matches the reference's emission rules (``procedure_code.py:556-599``):
    404 / deleted-listing / fetch-error / parse-error rows contribute to
    NO table; deleted rows contribute a sparse codes row only; ok rows
    contribute to all three.
    """
    codes = extracted.filter(
        F.col("status").isin("ok", "deleted")
    ).select(*PROCEDURE_CODES_COLUMNS)

    ok = extracted.filter(F.col("status") == "ok")

    modifiers = (
        ok.select(F.explode("modifier_rows").alias("m"))
        .select(
            F.col("m.modifier").alias("modifier"),
            F.col("m.description").alias("description"),
        )
    )

    ndc = (
        ok.select(F.explode("ndc_rows").alias("n"))
        .select(
            F.col("n.ndc_alternate_id").alias("ndc_alternate_id"),
            F.col("n.drug_name").alias("drug_name"),
            F.col("n.labeler_name").alias("labeler_name"),
            F.col("n.hcpcs_dosage").alias("hcpcs_dosage"),
            F.col("n.bill_unit").alias("bill_unit"),
        )
    )

    return codes, modifiers, ndc
