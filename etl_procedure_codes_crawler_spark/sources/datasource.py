"""Python DataSource (Spark 4 DataSource V2 API): crawled pages as a
first-class ``spark.read.format("procedure_pages")`` relation.

The reference drives its crawl imperatively — a Selenium session and a
hand-rolled 200-code chunk loop inside ``main`` (reference
``crawler/src/procedure_code.py:725-755``). The engine's primary
re-expression is the `mapInPandas` extraction operator
(``operators/extract.py``); this module is the *source-shaped*
alternative: pages become a table the planner can reason about, with

- **partition planning** — codes are split into fetch partitions of
  ``batch_size`` (default 200, the reference's chunk size), so a 1M-code
  crawl fans out across the cluster instead of one driver loop;
- **filter pushdown** — ``WHERE code = 'X'`` / ``code IN (...)`` prunes
  the fetch set *before any page is fetched* (`pushFilters`): the scan
  fetches two pages for a two-code query, not the whole crawl;
- **one fetcher per fetch thread, at most N per partition** — the same
  :class:`~.fetcher.FetchPool` as the mapInPandas operator, so codes
  are fetched N at a time in input order, each thread reusing its own
  session (cf. SURVEY §4 "session/connection reuse").

Usage::

    spark.dataSource.register(ProcedurePagesDataSource)
    df = (spark.read.format("procedure_pages")
          .option("pages_dir", "/path/to/fixtures")
          .option("codes", "C0001,H0001")
          .load())

``pages_dir`` serves ``<code>.html`` files via FixtureFetcher; when a
``base_url`` option is set instead, pages are fetched over HTTP
(HttpFetcher with bounded retry). Fetch failures become rows with
``status='fetch_error'`` (the engine-wide status vocabulary,
cf. ``operators/extract.py``) — never task failures (the reference
crashed the chunk loop on a bad page, ``procedure_code.py:650-651``).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

#: the relation's schema (DDL form): the raw-page table of SURVEY §7
#: Phase 0, plus the status/error columns the engine standardizes on.
PAGES_SCHEMA_DDL = (
    "code string, url string, html string, status string, error string"
)


@dataclass
class _CodesPartition(InputPartition):
    codes: list[str]


class ProcedurePagesReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.pages_dir = options.get("pages_dir")
        self.base_url = options.get("base_url", "")
        self.batch_size = int(options.get("batch_size", "200"))
        codes_opt = options.get("codes", "")
        self.codes = [c.strip() for c in codes_opt.split(",") if c.strip()]
        if not self.codes and self.pages_dir:
            import os

            self.codes = sorted(
                f[: -len(".html")]
                for f in os.listdir(self.pages_dir)
                if f.endswith(".html")
            )

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Prune the fetch set on code equality/membership — the one
        filter class a crawler can answer without fetching anything.
        Everything else is returned for Spark to evaluate post-scan."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("code",):
                self.codes = [c for c in self.codes if c == f.value]
            elif isinstance(f, In) and f.attribute == ("code",):
                wanted = set(f.value)
                self.codes = [c for c in self.codes if c in wanted]
            else:
                yield f

    def partitions(self) -> list[_CodesPartition]:
        """One fetch partition per ``batch_size`` codes (the reference's
        chunk, reference ``procedure_code.py:725``) — never fewer than
        one, so an empty relation still plans."""
        chunks = [
            self.codes[i : i + self.batch_size]
            for i in range(0, len(self.codes), self.batch_size)
        ] or [[]]
        return [_CodesPartition(c) for c in chunks]

    def read(self, partition: _CodesPartition) -> Iterator[tuple]:
        from .fetcher import FetchPool, FixtureFetcher, HttpFetcher

        if self.pages_dir:
            factory = functools.partial(FixtureFetcher, directory=self.pages_dir)
        else:
            factory = functools.partial(HttpFetcher, base_url=self.base_url)
        with FetchPool(factory) as pool:
            for code, result in zip(partition.codes, pool.map(partition.codes)):
                if result.html is None:
                    # "fetch_error" is the engine-wide status vocabulary
                    # (operators/extract.py classifies the same way)
                    yield (code, result.url, None, "fetch_error", result.error)
                else:
                    yield (code, result.url, result.html, "ok", None)


class CodeListChangedError(RuntimeError):
    """The stream's code list no longer matches the checkpointed one."""


class ProcedurePagesStreamReader(SimpleDataSourceStreamReader):
    """The reference's incremental chunk loop (reference
    ``procedure_code.py:725-755``: crawl 200, flush, repeat) as a
    Structured Streaming source: each micro-batch fetches the next
    ``batch_size`` codes; the offset is the index into the code list.
    Replayed batches (`readBetweenOffsets`) re-fetch deterministically
    from the fixture store, which is what makes the stream's
    exactly-once sink contract testable.

    Index offsets are only replay-safe while the code list is stable,
    so every offset carries a fingerprint of the list it indexed; a
    restart whose re-derived list (e.g. a re-listed ``pages_dir`` that
    gained or lost files) no longer matches fails LOUDLY with
    :class:`CodeListChangedError` instead of silently replaying the
    wrong codes at shifted indexes. For an evolving directory, pass an
    explicit stable ``codes`` option per run.
    """

    def __init__(self, options: dict) -> None:
        self._inner = ProcedurePagesReader(options)

    def _fingerprint(self) -> str:
        import hashlib

        return hashlib.sha256(
            "\x00".join(self._inner.codes).encode()
        ).hexdigest()[:16]

    def _check(self, offset: dict) -> None:
        fp = offset.get("fp")
        if fp is not None and fp != self._fingerprint():
            raise CodeListChangedError(
                "the code list behind this stream changed since the "
                "checkpointed offset was written; index offsets would "
                "replay different codes. Restart with a fresh "
                "checkpoint, or pin an explicit stable `codes` option."
            )

    def initialOffset(self) -> dict:
        return {"index": 0, "fp": self._fingerprint()}

    def _fetch(self, start: int, end: int) -> list[tuple]:
        # materialized, not a generator: the simple-stream API pickles
        # the batch (driver-side prefetch cache), and a batch is at
        # most batch_size rows by construction
        part = _CodesPartition(self._inner.codes[start:end])
        return list(self._inner.read(part))

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        self._check(start)
        lo = start["index"]
        hi = min(lo + self._inner.batch_size, len(self._inner.codes))
        return self._fetch(lo, hi), {"index": hi, "fp": self._fingerprint()}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        self._check(start)
        self._check(end)
        return self._fetch(start["index"], end["index"])

    def commit(self, end: dict) -> None:
        pass


class ProcedurePagesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "procedure_pages"

    def schema(self) -> str:
        return PAGES_SCHEMA_DDL

    def reader(self, schema: StructType) -> ProcedurePagesReader:
        return ProcedurePagesReader(dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> ProcedurePagesStreamReader:
        return ProcedurePagesStreamReader(dict(self.options))
