"""The assembled crawl pipeline (SURVEY §3 lifecycle, Spark-first).

Reference flow (``crawler/src/procedure_code.py:677-815``): read codes
from Athena → clean → serial chunked crawl with a global browser →
pandas concat accumulation → `isin` anti-join vs the *initial* snapshot
→ per-chunk S3 appends, one output after another. The Spark translation
crosses the driver/executor boundary exactly once (at ``mapInPandas``)
and materializes the crawl exactly once:

    codes ─ clean(P1-P3) ─ anti-join vs existing codes (J3)
          ─ mapInPandas(extract, fetcher/fetch thread)
          ─ localCheckpoint, one partition per core
          ├─ ndc       ─ dedup vs snapshot (J1) ─ checkpoint ─ append ┐ in
          ├─ modifiers ─ dedup vs snapshot (J2) ─ checkpoint ─ append ┘ parallel
          └─ codes ─────────────────────────────────────────── append  last

Improvement over the reference, by design (SURVEY §2.4 note): dedup is
within-batch *and* against the snapshot, so one run never writes a key
twice even when the same modifier appears on many pages.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..operators.cleaning import clean_codes
from ..operators.dedup import anti_join_on_key, incremental_new_rows
from ..operators.extract import extract_procedure_pages, split_procedure_outputs
from ..schemas import (
    PROCEDURE_CODES_SCHEMA,
    PROCEDURE_MODIFIERS_SCHEMA,
    PROCEDURE_NDC_SCHEMA,
)
from ..sources.fetcher import FetcherFactory
from ..sources.parquet import local_relation, read_table_or_empty
from ..sinks.parquet import with_load_date, write_parquet_dataset


@dataclass
class CrawlResult:
    """The three deduplicated new-row relations produced by one run.

    ``observation`` carries extraction health metrics (page counts by
    status) — the in-plan replacement for the reference's 60+ log lines
    (SURVEY §5): metrics ride the extraction job itself, no second pass
    over the data."""

    codes: DataFrame
    modifiers: DataFrame
    ndc: DataFrame
    observation: Observation = field(compare=False)

    @property
    def extract_metrics(self) -> dict:
        """Page counts by outcome; blocks until an action has run."""
        return dict(self.observation.get)


def run_crawl_pipeline(
    spark: SparkSession,
    codes_input: DataFrame,
    fetcher_factory: FetcherFactory,
    existing_codes: DataFrame | None = None,
    existing_modifiers: DataFrame | None = None,
    existing_ndc: DataFrame | None = None,
    batch_partitions: int | None = None,
) -> CrawlResult:
    """Crawl the codes missing from ``existing_codes`` and plan the
    three outputs over that one crawl.

    The fetch runs here: the extraction is checkpointed eagerly in
    ``batch_partitions`` partitions (default: one per core; left to AQE,
    a small batch coalesces into one fetch task). ``modifiers`` and
    ``ndc`` still read their snapshots when they execute.
    ``existing_*`` default to typed empty relations (first run).
    """
    if existing_codes is None:
        existing_codes = local_relation(spark, PROCEDURE_CODES_SCHEMA)
    if existing_modifiers is None:
        existing_modifiers = local_relation(spark, PROCEDURE_MODIFIERS_SCHEMA)
    if existing_ndc is None:
        existing_ndc = local_relation(spark, PROCEDURE_NDC_SCHEMA)

    # P1-P3 + within-batch distinct, then J3: only crawl unseen codes.
    to_crawl = anti_join_on_key(
        clean_codes(codes_input, "code"), existing_codes, "code"
    )

    extracted = extract_procedure_pages(
        to_crawl,
        fetcher_factory,
        batch_partitions=batch_partitions or spark.sparkContext.defaultParallelism,
    )
    observation = Observation("extract")
    extracted = extracted.observe(
        observation,
        F.count(F.lit(1)).alias("n_pages"),
        F.count(F.when(F.col("status") == "ok", 1)).alias("n_ok"),
        F.count(F.when(F.col("status") == "deleted", 1)).alias("n_deleted"),
        F.count(
            F.when(F.col("status").isin("fetch_error", "parse_error"), 1)
        ).alias("n_errors"),
    ).localCheckpoint(eager=True)

    codes, modifiers, ndc = split_procedure_outputs(extracted)
    # codes need no dedup: each extracted row keeps its input code, and
    # the input is distinct and absent from the snapshot (to_crawl)
    return CrawlResult(
        codes=codes,
        modifiers=incremental_new_rows(modifiers, existing_modifiers, "modifier"),
        ndc=incremental_new_rows(ndc, existing_ndc, "ndc_alternate_id"),
        observation=observation,
    )


def run_and_sink(
    spark: SparkSession,
    codes_input: DataFrame,
    fetcher_factory: FetcherFactory,
    warehouse: str,
    load_date: str,
) -> CrawlResult:
    """End-to-end incremental run against a parquet warehouse directory:
    reads the three snapshot tables (empty on first run), crawls, and
    appends new rows to the ``load_date`` partition (K1 semantics; the
    crawl job passes its logical date as yyyyMMdd)."""
    schemas = {
        "codes": PROCEDURE_CODES_SCHEMA,
        "modifiers": PROCEDURE_MODIFIERS_SCHEMA,
        "ndc": PROCEDURE_NDC_SCHEMA,
    }
    paths = {table: f"{warehouse}/procedure_{table}" for table in schemas}
    result = run_crawl_pipeline(
        spark,
        codes_input,
        fetcher_factory,
        **{
            f"existing_{table}": read_table_or_empty(spark, paths[table], schema)
            for table, schema in schemas.items()
        },
    )

    def append(df: DataFrame, table: str) -> None:
        write_parquet_dataset(
            with_load_date(df, load_date),
            path=paths[table],
            mode="append",
            partition_by=["load_date"],
        )

    # Each dedup reads the snapshot its own append extends: checkpoint it
    # first, or the returned relation recomputes against the extended
    # snapshot and comes back empty. No append touches another branch's
    # input, so the branches run side by side, in the caller's job group.
    @inheritable_thread_target(spark)
    def checkpoint_and_append(df: DataFrame, table: str) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        append(df, table)
        return df

    with ThreadPoolExecutor(max_workers=2) as pool:
        ndc = pool.submit(checkpoint_and_append, result.ndc, "ndc")
        modifiers = pool.submit(checkpoint_and_append, result.modifiers, "modifiers")
        ndc, modifiers = ndc.result(), modifiers.result()
    # Codes LAST, after both branches succeed: the codes table is the
    # crawl's progress marker (the next run crawls only codes missing
    # from it), so after a crash before this append the rerun crawls them
    # again, and the NDC and modifier rows it re-derives dedup on their
    # own keys: nothing is appended twice or lost. Codes read only the
    # checkpointed extraction, so they need no checkpoint of their own.
    append(result.codes, "codes")
    return CrawlResult(result.codes, modifiers, ndc, observation=result.observation)
