"""The benchmark's workloads.

Each workload drives the package only through its public entry points:
``plans.pipeline.run_and_sink`` for the crawl workloads and the query
registry (``plans.relational.QUERIES``) for the query mix. A workload

- ``prepare(spark)``: one set-up pass — generate the seeded inputs and
  seed the warehouse or compute the oracle digests;
- ``start(spark)``: bind the inputs to the current session;
- ``warm_up(spark)``: one untimed, checked iteration;
- ``iterate(spark, unit, span_dir)``: one timed iteration run to full
  materialization, then its output check (untimed). Returns the timed
  segments ``[(label, start_epoch_s, end_epoch_s)]`` and the check result;
- ``layer_metrics(...)``: the traced run's per-layer numbers, including
  standalone timed calls into single layers on the workload's own inputs.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, tracing
from .server import PageServer, http_fetcher_factory

LOAD_DATE = "20260901"
TABLE_KEYS = {
    "procedure_codes": "code",
    "procedure_modifiers": "modifier",
    "procedure_ndc": "ndc_alternate_id",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dataset_files(path: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(path):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


def _partition_keys(warehouse: str, table: str) -> tuple[int, set]:
    """Row count and key set one load_date partition received."""
    path = os.path.join(warehouse, table, f"load_date={LOAD_DATE}")
    if not os.path.isdir(path):
        return 0, set()
    keys = pq.read_table(path, columns=[TABLE_KEYS[table]]).column(0).to_pylist()
    return len(keys), set(keys)


def _quantile(values, q: float) -> float:
    ordered = sorted(values)
    if not ordered:
        return 0.0
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


class CrawlIncremental:
    """One ``run_and_sink`` per iteration: codes → clean → anti-join vs
    the snapshot → fetch+parse (``mapInPandas``) → split → dedup → three
    appends.

    The warehouse is seeded with a snapshot several times the batch,
    spread over several load_date partitions, and restored before each
    iteration. Most batch codes are known; known codes that stored no
    row (404 and deleted-listing pages) are fetched again. Pages come
    through the production ``HttpFetcher`` from a loopback server with
    per-request latency, code-keyed permanent (HTTP 500) and one-shot
    (one 503, then 200) faults.
    """

    name = "crawl_incremental"
    SNAPSHOT_CODES = 4000
    KNOWN_IN_BATCH = 600
    NEW_IN_BATCH = 400
    LOAD_DATES = ("20260801", "20260802", "20260803", "20260804")
    # Assumed, not measured on the live site. The reference crawler's
    # 0.5-1 s of sleeps per page (BASELINE.md) would not fit a run's time
    # budget; 10 ms keeps the fetch wait a large share of ``run_s``
    # (``fetcher.wait_share``) while parse and sink still show.
    LATENCY_S = 0.010
    # Assumed shares of the codes to crawl: enough that every iteration
    # takes the retry path and writes fetch_error rows.
    PERMANENT_FAULTS = 0.02
    ONE_SHOT_FAULTS = 0.05

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.codes_path = os.path.join(self.inputs, "codes.parquet")
        self.seed_warehouse = os.path.join(self.inputs, "warehouse")
        self.templates = gen.load_templates()
        self.server = None
        #: traced unit -> what the program did in it, as measured
        self.traced: dict[str, dict] = {}
        self.last_result = None

    # -- set-up ---------------------------------------------------------

    def prepare(self, spark) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        os.makedirs(self.inputs)
        rng = random.Random(self.seed)
        pool = (self.SNAPSHOT_CODES + self.NEW_IN_BATCH) // 3
        snapshot = gen.make_pages(rng, 0, self.SNAPSHOT_CODES, pool)
        new = gen.make_pages(rng, self.SNAPSHOT_CODES, self.NEW_IN_BATCH, pool)
        self.stored = gen.seed_warehouse(
            self.seed_warehouse, snapshot, self.LOAD_DATES, self.templates
        )
        # a fixed share of the known codes stored no row and is fetched again
        stored = [p for p in snapshot if p.has_code_row]
        unstored = [p for p in snapshot if not p.has_code_row]
        n_unstored = self.KNOWN_IN_BATCH * len(unstored) // len(snapshot)
        batch_pages = (
            rng.sample(stored, self.KNOWN_IN_BATCH - n_unstored)
            + rng.sample(unstored, n_unstored)
            + new
        )
        self.batch = gen.dirty_batch(rng, [p.code for p in batch_pages])
        pq.write_table(
            pa.table({"code": pa.array(self.batch, pa.string())}), self.codes_path
        )
        self.to_crawl = [p for p in batch_pages if p.code not in self.stored[0]]
        codes = [p.code for p in self.to_crawl]
        self.permanent = set(rng.sample(codes, int(len(codes) * self.PERMANENT_FAULTS)))
        rest = [c for c in codes if c not in self.permanent]
        one_shot = set(rng.sample(rest, int(len(codes) * self.ONE_SHOT_FAULTS)))
        # a permanently failing page becomes a fetch_error row, no output
        self.expected = gen.expected_rows(
            [p for p in batch_pages if p.code not in self.permanent], *self.stored
        )
        # each code is requested once; a permanent fault is retried twice
        # (HttpFetcher.max_retries=3), a one-shot fault once
        self.expected_requests = len(codes) + 2 * len(self.permanent) + len(one_shot)
        served = {
            p.code: (404 if p.status == "error_404" else 200, gen.render(p, self.templates))
            for p in self.to_crawl
        }
        self.close()
        self.server = PageServer(served, self.LATENCY_S, self.permanent, one_shot).start()

    def start(self, spark) -> None:
        self.codes_df = spark.read.parquet(self.codes_path)

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None

    # -- iterations -----------------------------------------------------

    def warm_up(self, spark) -> bool:
        return self.iterate(spark, "warm-up")[1]

    def iterate(self, spark, unit: str, span_dir: str | None = None):
        from etl_procedure_codes_crawler_spark.plans.pipeline import run_and_sink

        warehouse = os.path.join(self.work, "warehouse", unit)
        shutil.rmtree(warehouse, ignore_errors=True)
        shutil.copytree(self.seed_warehouse, warehouse)
        self.server.reset()
        factory = http_fetcher_factory(self.server.port)
        if span_dir is not None:
            factory = functools.partial(tracing.SpanFetcher, factory, span_dir, unit)
        spark.sparkContext.setLocalProperty(tracing.UNIT_PROPERTY, unit)
        start = time.time()
        try:
            result = run_and_sink(spark, self.codes_df, factory, warehouse, load_date=LOAD_DATE)
            end = time.time()
        finally:
            spark.sparkContext.setLocalProperty(tracing.UNIT_PROPERTY, None)
        ok, rows = self._check(warehouse, result)
        if span_dir is not None:
            new = [f for f in _dataset_files(warehouse) if f"load_date={LOAD_DATE}" in f]
            self.traced[unit] = {
                "requests": sum(self.server.requests.values()),
                "pages": result.extract_metrics.get("n_pages", 0),
                "sink_files": len(new),
                "sink_bytes": sum(map(os.path.getsize, new)),
                "sink_rows": rows,
            }
            self.last_result = result
        shutil.rmtree(warehouse)
        return [(unit, start, end)], ok

    def _check(self, warehouse, result) -> tuple[bool, int]:
        """Each table's new partition holds exactly the generator's key
        set, every code was fetched once, and the fetch errors are the
        seeded permanent faults. Also returns the rows appended."""
        ok, rows = True, 0
        for table, expected in zip(TABLE_KEYS, self.expected):
            n_rows, keys = _partition_keys(warehouse, table)
            ok &= keys == expected and n_rows == len(expected)
            rows += n_rows
        metrics = result.extract_metrics
        ok &= metrics.get("n_pages") == len(self.to_crawl)
        ok &= metrics.get("n_errors") == len(self.permanent)
        ok &= sum(self.server.requests.values()) == self.expected_requests
        return ok, rows

    # -- traced run -----------------------------------------------------

    def layer_metrics(self, spark, units, spans) -> dict:
        """Per-layer numbers for the traced iterations ``units``."""
        from etl_procedure_codes_crawler_spark.functions.html_extract import (
            parse_procedure_page,
        )

        m: dict[str, float] = {}
        by_unit: dict[str, list] = {u: [] for u in units}
        for span in spans:
            by_unit.setdefault(span["unit"], []).append(span)
        waits = [s for u in units for span in by_unit[u] for s in span["fetch_s"]]
        calls = {u: sum(len(s["fetch_s"]) for s in by_unit[u]) for u in units}
        m["fetcher.calls"] = _mean(calls.values())
        m["fetcher.calls_per_code"] = m["fetcher.calls"] / len(self.to_crawl)
        m["fetcher.instances"] = _mean(len(by_unit[u]) for u in units)
        m["fetcher.wait_s"] = sum(waits) / len(units)
        m["fetcher.wait_ms_p50"] = _quantile(waits, 0.50) * 1e3
        m["fetcher.wait_ms_p99"] = _quantile(waits, 0.99) * 1e3
        m["fetcher.errors"] = _mean(sum(s["errors"] for s in by_unit[u]) for u in units)
        # requests the server answered beyond one per fetch call
        m["fetcher.retries"] = _mean(self.traced[u]["requests"] - calls[u] for u in units)

        pages = [(p.code, p.url, gen.render(p, self.templates)) for p in self.to_crawl]
        parse_s = _timed(lambda: [parse_procedure_page(*page) for page in pages])
        m["parse.pages"] = _mean(self.traced[u]["pages"] for u in units)
        m["parse.s"] = parse_s
        m["parse.ms_per_page"] = parse_s / len(pages) * 1e3

        extract_s = _mean(
            tracing.union_length((s["start"], s["end"]) for s in by_unit[u]) for u in units
        )
        m["extract.s"] = extract_s
        cores = spark.sparkContext.defaultParallelism
        m["extract.busy_ratio"] = (m["fetcher.wait_s"] + parse_s) / (extract_s * cores)

        m.update(self._dedup_metrics(spark))
        m.update(self._snapshot_metrics(spark))
        m.update(self._sink_metrics(units))
        return m

    def _snapshot_tables(self, spark):
        from etl_procedure_codes_crawler_spark.schemas import (
            PROCEDURE_CODES_SCHEMA,
            PROCEDURE_MODIFIERS_SCHEMA,
            PROCEDURE_NDC_SCHEMA,
        )
        from etl_procedure_codes_crawler_spark.sources.parquet import read_table_or_empty

        schemas = (PROCEDURE_CODES_SCHEMA, PROCEDURE_MODIFIERS_SCHEMA, PROCEDURE_NDC_SCHEMA)
        return [
            read_table_or_empty(spark, os.path.join(self.seed_warehouse, table), schema)
            for table, schema in zip(TABLE_KEYS, schemas)
        ]

    def _snapshot_metrics(self, spark) -> dict:
        read_s = _timed(lambda: [_noop(df) for df in self._snapshot_tables(spark)])
        files = _dataset_files(self.seed_warehouse)
        return {
            "snapshot.read_s": read_s,
            "snapshot.files": float(len(files)),
            "snapshot.bytes": float(sum(map(os.path.getsize, files))),
        }

    def _dedup_metrics(self, spark) -> dict:
        from etl_procedure_codes_crawler_spark.operators.cleaning import clean_codes
        from etl_procedure_codes_crawler_spark.operators.dedup import (
            anti_join_on_key,
            incremental_new_rows,
        )
        from etl_procedure_codes_crawler_spark.schemas import (
            PROCEDURE_MODIFIERS_SCHEMA,
            PROCEDURE_NDC_SCHEMA,
        )

        ok_pages = [
            p for p in self.to_crawl if p.status == "ok" and p.code not in self.permanent
        ]
        new_rows = {}
        for name, rows, schema in (
            ("modifiers", [gen.modifier_row(k) for p in ok_pages for k in p.modifiers],
             PROCEDURE_MODIFIERS_SCHEMA),
            ("ndc", [gen.ndc_row(k) for p in ok_pages for k in p.ndc], PROCEDURE_NDC_SCHEMA),
        ):
            path = os.path.join(self.inputs, f"new_{name}.parquet")
            names = schema.fieldNames()
            pq.write_table(pa.Table.from_pylist([dict(zip(names, r)) for r in rows]), path)
            new_rows[name] = spark.read.parquet(path)
        codes, mods, ndc = self._snapshot_tables(spark)
        inputs = (self.codes_df, new_rows["modifiers"], new_rows["ndc"])
        outputs = (
            anti_join_on_key(clean_codes(self.codes_df, "code"), codes, "code"),
            incremental_new_rows(new_rows["modifiers"], mods, "modifier"),
            incremental_new_rows(new_rows["ndc"], ndc, "ndc_alternate_id"),
        )
        dedup_s = _timed(lambda: [_noop(df) for df in outputs])
        return {
            "dedup.s": dedup_s,
            "dedup.rows_in": float(sum(df.count() for df in inputs)),
            "dedup.rows_out": float(sum(df.count() for df in outputs)),
        }

    def _sink_metrics(self, units) -> dict:
        from etl_procedure_codes_crawler_spark.sinks.parquet import (
            with_load_date,
            write_parquet_dataset,
        )

        target = os.path.join(self.work, "sink-probe")
        outputs = (self.last_result.codes, self.last_result.modifiers, self.last_result.ndc)
        sink_s = _timed(lambda: [
            write_parquet_dataset(
                with_load_date(df, LOAD_DATE),
                path=os.path.join(target, table),
                mode="append",
                partition_by=["load_date"],
            )
            for df, table in zip(outputs, TABLE_KEYS)
        ])
        shutil.rmtree(target, ignore_errors=True)
        size = _mean(self.traced[u]["sink_bytes"] for u in units)
        rows = _mean(self.traced[u]["sink_rows"] for u in units)
        return {
            "sink.s": sink_s,
            "sink.files": _mean(self.traced[u]["sink_files"] for u in units),
            "sink.bytes": size,
            "sink.bytes_per_row": size / rows,
        }


# ---------------------------------------------------------------------------
# query mix
# ---------------------------------------------------------------------------

QUERY_MIX = (
    "q5_local_supplier_volume",
    "window_top3_orders_per_customer",
    "blocklist_scan_documents",
    "llm_corpus_prep_v5",
)


def result_digest(table: pa.Table) -> str:
    """Order-insensitive digest of a result: columns by name, values
    canonicalized, rows sorted."""
    names = sorted(table.column_names)
    columns = [table.column(n).to_pylist() for n in names]
    rows = sorted(
        tuple("NULL" if v is None else repr(v) if isinstance(v, float) else str(v) for v in row)
        for row in zip(*columns)
    )
    return hashlib.sha256(repr((names, rows)).encode()).hexdigest()


class QueryMix:
    """One sweep of four registered queries per iteration, each
    materialized through the ``noop`` sink. Results are checked against
    their DuckDB oracles on the warm-up sweep (the oracle digests are
    computed in set-up); the timed sweeps re-run the same plans."""

    name = "query_mix"
    # About sf0.01 (60k lineitem rows, 400 documents), a tenth of the
    # sf0.1 the package's own bench uses, so fixed per-job cost weighs
    # more here than there. Larger scales did not fit the benchmark's
    # time budget (4 cores): one run took over 130 s at sf0.1 (the
    # llm_corpus_prep_v5 DuckDB oracle alone ~26 s), 65-87 s at sf0.04
    # and 73-80 s at sf0.02.
    TABLES = dict(
        n_customers=1500, n_suppliers=100, n_orders=15000, lines_per_order=4,
        n_documents=400,
    )

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.data = os.path.join(work, "data")

    def _registry(self):
        from etl_procedure_codes_crawler_spark.llm import queries  # noqa: F401  registers
        from etl_procedure_codes_crawler_spark.plans.relational import ORACLES, QUERIES

        return QUERIES, ORACLES

    def prepare(self, spark) -> None:
        import duckdb

        shutil.rmtree(self.data, ignore_errors=True)
        self.rows = gen.write_query_tables(self.data, self.seed, **self.TABLES)
        _, oracles = self._registry()
        con = duckdb.connect()
        try:
            for table in self.rows:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            self.digests = {
                q: result_digest(con.execute(oracles[q]).arrow()) for q in QUERY_MIX
            }
        finally:
            con.close()

    def start(self, spark) -> None:
        self.plans = {q: self._registry()[0][q] for q in QUERY_MIX}

    def warm_up(self, spark) -> bool:
        """A sweep collected and checked against the oracle digests."""
        return all(
            result_digest(self.plans[q](spark, self.data).toArrow()) == self.digests[q]
            for q in QUERY_MIX
        )

    def iterate(self, spark, unit: str, span_dir: str | None = None):
        segments = []
        sc = spark.sparkContext
        for q in QUERY_MIX:
            sc.setLocalProperty(tracing.UNIT_PROPERTY, f"{q}@{unit}")
            start = time.time()
            try:
                _noop(self.plans[q](spark, self.data))
            finally:
                sc.setLocalProperty(tracing.UNIT_PROPERTY, None)
            segments.append((f"{q}@{unit}", start, time.time()))
        return segments, True

    def layer_metrics(self, spark, units, spans) -> dict:
        return {}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (CrawlIncremental, QueryMix)}
