"""The assembled crawl pipeline (SURVEY §3 lifecycle, Spark-first).

Reference flow (``crawler/src/procedure_code.py:677-815``): read codes
from Athena → clean → serial chunked crawl with a global browser →
pandas concat accumulation → `isin` anti-join vs the *initial* snapshot
→ per-chunk S3 appends. The Spark translation crosses the
driver/executor boundary exactly once (at ``mapInPandas``); everything
else is declarative and Catalyst-planned:

    codes ─ clean(P1-P3) ─ anti-join vs existing codes (J3)
          ─ mapInPandas(extract, fetcher/fetch thread)
          ─ split into 3 relations
          ─ incremental dedup (J1/J2) per relation
          ─ append sinks (K1), partitioned by load_date; codes last

Improvement over the reference, by design (SURVEY §2.4 note): dedup is
within-batch *and* against the snapshot, so one run never writes a key
twice even when the same modifier appears on many pages.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.cleaning import clean_codes
from ..operators.dedup import anti_join_on_key, incremental_new_rows
from ..operators.extract import extract_procedure_pages, split_procedure_outputs
from ..schemas import (
    PROCEDURE_CODES_SCHEMA,
    PROCEDURE_MODIFIERS_SCHEMA,
    PROCEDURE_NDC_SCHEMA,
)
from ..sources.fetcher import FetcherFactory
from ..sources.parquet import read_table_or_empty
from ..sinks.parquet import with_load_date, write_parquet_dataset


@dataclass
class CrawlResult:
    """The three deduplicated new-row relations produced by one run.

    ``observation`` carries extraction health metrics (page counts by
    status) once any action has executed — the in-plan replacement for
    the reference's 60+ log lines (SURVEY §5): metrics ride the job
    itself, no second pass over the data."""

    codes: DataFrame
    modifiers: DataFrame
    ndc: DataFrame
    observation: Observation | None = field(default=None, compare=False)
    #: the shared persisted extraction feeding all three relations —
    #: call :meth:`release` once the outputs are materialized, or the
    #: cached page payloads stay pinned for the session's lifetime
    cached_extraction: DataFrame | None = field(default=None, compare=False)

    def release(self) -> None:
        """Drop the shared extraction cache (safe after the three
        outputs are checkpointed/written; a later collect on
        un-checkpointed outputs would refetch)."""
        if self.cached_extraction is not None:
            self.cached_extraction.unpersist()

    @property
    def extract_metrics(self) -> dict:
        """Page counts by outcome; blocks until an action has run."""
        if self.observation is None:
            return {}
        return dict(self.observation.get)


def run_crawl_pipeline(
    spark: SparkSession,
    codes_input: DataFrame,
    fetcher_factory: FetcherFactory,
    existing_codes: DataFrame | None = None,
    existing_modifiers: DataFrame | None = None,
    existing_ndc: DataFrame | None = None,
    base_url: str = "",
    batch_partitions: int | None = None,
) -> CrawlResult:
    """Plan the full crawl; nothing executes until the result is sunk.

    ``existing_*`` default to typed empty relations (first run).
    """
    if existing_codes is None:
        existing_codes = spark.createDataFrame([], PROCEDURE_CODES_SCHEMA)
    if existing_modifiers is None:
        existing_modifiers = spark.createDataFrame([], PROCEDURE_MODIFIERS_SCHEMA)
    if existing_ndc is None:
        existing_ndc = spark.createDataFrame([], PROCEDURE_NDC_SCHEMA)

    # P1-P3 + within-batch distinct, then J3: only crawl unseen codes.
    to_crawl = anti_join_on_key(
        clean_codes(codes_input, "code"), existing_codes, "code"
    )

    extracted = extract_procedure_pages(
        to_crawl,
        fetcher_factory,
        base_url=base_url,
        batch_partitions=batch_partitions,
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
    )
    # Three sinks consume the same extraction — materialize it once.
    extracted = extracted.persist()

    new_codes, new_modifiers, new_ndc = split_procedure_outputs(extracted)

    return CrawlResult(
        codes=anti_join_on_key(new_codes, existing_codes, "code"),
        modifiers=incremental_new_rows(
            new_modifiers, existing_modifiers, "modifier"
        ),
        ndc=incremental_new_rows(new_ndc, existing_ndc, "ndc_alternate_id"),
        observation=observation,
        cached_extraction=extracted,
    )


def run_and_sink(
    spark: SparkSession,
    codes_input: DataFrame,
    fetcher_factory: FetcherFactory,
    warehouse: str,
    base_url: str = "",
    load_date: str | None = None,
) -> CrawlResult:
    """End-to-end incremental run against a parquet warehouse directory:
    reads the three snapshot tables (empty on first run), crawls, and
    appends new rows partitioned by ``load_date`` (K1 semantics)."""
    paths = {
        "codes": f"{warehouse}/procedure_codes",
        "modifiers": f"{warehouse}/procedure_modifiers",
        "ndc": f"{warehouse}/procedure_ndc",
    }
    result = run_crawl_pipeline(
        spark,
        codes_input,
        fetcher_factory,
        existing_codes=read_table_or_empty(
            spark, paths["codes"], PROCEDURE_CODES_SCHEMA
        ),
        existing_modifiers=read_table_or_empty(
            spark, paths["modifiers"], PROCEDURE_MODIFIERS_SCHEMA
        ),
        existing_ndc=read_table_or_empty(
            spark, paths["ndc"], PROCEDURE_NDC_SCHEMA
        ),
        base_url=base_url,
    )
    # Pin ALL results BEFORE the first append: every result's lineage
    # reads the snapshots the appends are about to extend (the extraction
    # itself anti-joins the codes snapshot), and an append refreshes the
    # path and drops dependent caches — persist() would silently recompute
    # against the new snapshot and lose rows. Checkpointing truncates the
    # lineage so the appended state can't leak back into this run.
    codes, modifiers, ndc = (
        df.localCheckpoint(eager=True)
        for df in (result.codes, result.modifiers, result.ndc)
    )
    # Append NDC, then modifiers, then codes LAST: the codes table is the
    # crawl's progress marker (the next run crawls only codes missing
    # from it). A crash between appends leaves those codes unmarked, so
    # the rerun crawls them again; the NDC and modifier rows it re-derives
    # are already in their tables and dedup on their own keys, so the
    # replay appends nothing twice and loses nothing.
    for df, table in ((ndc, "ndc"), (modifiers, "modifiers"), (codes, "codes")):
        write_parquet_dataset(
            with_load_date(df, load_date),
            path=paths[table],
            mode="append",
            partition_by=["load_date"],
        )
    # outputs are checkpointed and written — the shared extraction
    # cache (full page payloads) is now dead weight; a long-lived
    # session running incremental crawls would otherwise accumulate
    # one pinned extraction per run
    result.release()
    return CrawlResult(codes, modifiers, ndc, observation=result.observation)
