"""mapInPandas extraction operator + 3-way fan-out (SURVEY §2.7), and
the bounded, order-preserving concurrent fetch inside each partition."""

from __future__ import annotations

import os
import sys
import threading
import time
import uuid
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from etl_procedure_codes_crawler_spark.operators.extract import (
    extract_procedure_pages,
    split_procedure_outputs,
)
from etl_procedure_codes_crawler_spark.schemas import (
    CODES_INPUT_SCHEMA,
    PROCEDURE_CODES_COLUMNS,
)
from etl_procedure_codes_crawler_spark.sources.fetcher import (
    FETCH_CONCURRENCY,
    FetchPool,
    FetchResult,
    FixtureFetcher,
    HttpFetcher,
)

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _load_pages():
    pages = {}
    for code, name in {
        "99213": "cpt_normal.html",
        "J0120": "hcpcs_normal.html",
        "XXXXX": "page_404.html",
        "J9999": "deleted_hcpcs_listing.html",
        "0001M": "deleted_code.html",
        "0042T": "cpt_empty_tabs.html",
    }.items():
        with open(os.path.join(FIXDIR, name)) as handle:
            pages[code] = handle.read()
    return pages


# partial(FixtureFetcher, pages=...) pickles the class by reference and
# the page dict by value — importable on executors.
import functools

# per-code final URLs, as the live site's redirects would produce them
_URLS = {
    "99213": "https://example.test/cpt-codes/99213",
    "0042T": "https://example.test/cpt-codes/0042T",
    "0001M": "https://example.test/cpt-codes/0001M",
    "J0120": "https://example.test/hcpcs-codes/J0120",
    "J9999": "https://example.test/hcpcs-codes/J9999",
}

_PAGES = _load_pages()
# NOHTML fetches a result with neither html nor error, which the Fetcher
# contract makes a fetch error
# the cpt-codes base URL keeps code-type classification meaningful for
# CPT fixtures; HCPCS fixtures carry their own hcpcs URLs in tests of the
# parse layer
_factory = functools.partial(
    FixtureFetcher,
    pages={**_PAGES, "NOHTML": None},
    urls=_URLS,
    base_url="https://example.test/cpt-codes/",
)


CODES = ["99213", "J0120", "XXXXX", "J9999", "0001M", "0042T", "NOFIX", "NOHTML"]


@pytest.fixture(scope="module")
def extracted(spark):
    codes = spark.createDataFrame([(c,) for c in CODES], CODES_INPUT_SCHEMA)
    df = extract_procedure_pages(codes, _factory).persist()
    yield df
    df.unpersist()


def test_statuses(extracted):
    status = {r.code: r.status for r in extracted.collect()}
    assert status == {
        "99213": "ok",
        "J0120": "ok",
        "XXXXX": "error_404",
        "J9999": "deleted_listing",
        "0001M": "deleted",
        "0042T": "ok",
        "NOFIX": "fetch_error",
        "NOHTML": "fetch_error",
    }


def test_fetch_error_carries_message(extracted):
    row = extracted.filter("code = 'NOFIX'").collect()[0]
    assert "no fixture" in row.error


def test_ok_row_fields(extracted):
    row = extracted.filter("code = '99213'").collect()[0]
    assert row.code_type == "CPT"
    assert row.main_interval == "99202-99215"
    assert list(row.modifiers) == ["25", "59"]
    assert list(row.revenue_lookup) == ["0510", "0982"]
    assert row.modifier_rows[0].modifier == "25"
    assert row.ndc_rows[1].drug_name == "DrugB"


def test_hcpcs_classification_from_final_url(extracted):
    # the fetcher's post-redirect URL, not its base_url, drives CPT/HCPCS
    row = extracted.filter("code = 'J0120'").collect()[0]
    assert row.code_type == "HCPCS"
    assert row.main_interval == "J0120-J8999"
    assert list(row.cpt_code_symbols) == [
        "Carrier judgment",
        "Special coverage instructions apply",
    ]


def test_none_vs_empty_array_survives_arrow(extracted):
    row = extracted.filter("code = '0042T'").collect()[0]
    assert list(row.revenue_lookup) == []   # present-but-empty
    assert row.icd10_cm is None             # absent


def test_split_outputs(extracted):
    codes, modifiers, ndc = split_procedure_outputs(extracted)
    assert codes.columns == PROCEDURE_CODES_COLUMNS
    # ok(3) + deleted(1); 404/listing/fetch-error excluded
    assert codes.count() == 4
    assert sorted(r.modifier for r in modifiers.collect()) == ["25", "59"]
    assert ndc.count() == 3  # 2 from 99213 + 1 from J0120
    deleted = codes.filter("code = '0001M'").collect()[0]
    assert deleted.date_deleted is not None and deleted.main_interval is None


# ---------------------------------------------------------------------------
# concurrent fetch inside a partition
# ---------------------------------------------------------------------------


class _PageHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive: one connection per fetcher
    # with Nagle on, each keep-alive response waits ~40 ms on the client's
    # delayed ACK, which would swamp the injected latency
    disable_nagle_algorithm = True

    def log_message(self, *args):
        pass

    def do_GET(self):
        self.server.serve(self)


class _PageServer(ThreadingHTTPServer):
    """Loopback page server: a fixed latency per request and code-keyed
    faults (``permanent`` codes answer 500, ``one_shot`` codes 503 on
    their first request after :meth:`reset`, ``forbidden`` codes 403).
    Records request counts, request spans and the most requests in
    flight at once."""

    daemon_threads = True

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _PageHandler)
        self.pages: dict[str, str] = {}
        self.latency_s = 0.0
        self.permanent: set = set()
        self.one_shot: set = set()
        self.forbidden: set = set()
        self._lock = threading.Lock()
        self.reset()

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}/cpt-codes/"

    def reset(self):
        with self._lock:
            self.requests: Counter = Counter()
            self.spans: list = []
            self._in_flight = 0
            self.max_in_flight = 0

    def serve(self, request):
        code = request.path.rsplit("/", 1)[-1]
        with self._lock:
            self.requests[code] += 1
            seen = self.requests[code]
            self._in_flight += 1
            self.max_in_flight = max(self.max_in_flight, self._in_flight)
        start = time.monotonic()
        time.sleep(self.latency_s)
        if code in self.permanent:
            status, body = 500, "injected permanent fault"
        elif code in self.one_shot and seen == 1:
            status, body = 503, "injected transient fault"
        elif code in self.forbidden:
            status, body = 403, "forbidden"
        elif code in self.pages:
            status, body = 200, self.pages[code]
        else:
            status, body = 404, _PAGES["XXXXX"]
        data = body.encode()
        request.send_response(status)
        request.send_header("Content-Type", "text/html; charset=utf-8")
        request.send_header("Content-Length", str(len(data)))
        request.end_headers()
        request.wfile.write(data)
        with self._lock:
            self._in_flight -= 1
            self.spans.append((start, time.monotonic()))


@pytest.fixture()
def page_server():
    server = _PageServer()
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield server
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)
    assert not thread.is_alive()


def _http_factory(server):
    return functools.partial(
        HttpFetcher, base_url=server.base_url, timeout=10.0, backoff=0.001
    )


def _one_partition(spark, codes):
    return spark.createDataFrame([(c,) for c in codes], CODES_INPUT_SCHEMA).coalesce(1)


def test_rows_in_order_independent_of_concurrency_fixture(spark):
    codes = spark.createDataFrame([(c,) for c in CODES * 5], CODES_INPUT_SCHEMA)

    def rows(concurrency):
        return extract_procedure_pages(
            codes, _factory, concurrency=concurrency
        ).collect()

    serial = rows(1)
    assert [r.code for r in serial] == CODES * 5
    assert rows(FETCH_CONCURRENCY) == serial


def test_rows_in_order_independent_of_concurrency_http(spark, page_server):
    templates = list(_PAGES.values())
    codes = [f"P{i:02d}" for i in range(48)]
    page_server.pages = {c: templates[i % len(templates)] for i, c in enumerate(codes)}
    page_server.latency_s = 0.005
    page_server.permanent = {"P05", "P17"}
    page_server.one_shot = {"P03", "P11", "P29"}
    page_server.forbidden = {"P23"}
    df = spark.createDataFrame([(c,) for c in codes], CODES_INPUT_SCHEMA)

    def run(concurrency):
        page_server.reset()
        rows = extract_procedure_pages(
            df, _http_factory(page_server), concurrency=concurrency
        ).collect()
        return rows, dict(page_server.requests)

    serial, serial_requests = run(1)
    assert [r.code for r in serial] == codes
    statuses = {r.code: r.status for r in serial}
    assert {c for c, s in statuses.items() if s == "fetch_error"} == {"P05", "P17", "P23"}
    # 3 tries per permanent fault, 2 per one-shot fault, 1 for the 403
    assert sum(serial_requests.values()) == len(codes) + 2 * 2 + 3
    concurrent, concurrent_requests = run(FETCH_CONCURRENCY)
    assert concurrent == serial
    assert concurrent_requests == serial_requests


def test_fetch_waits_overlap_within_one_partition(spark, page_server):
    codes = [f"W{i:02d}" for i in range(32)]
    page_server.pages = {c: _PAGES["99213"] for c in codes}
    page_server.latency_s = 0.050  # serially: 32 x 50 ms = 1.6 s
    rows = extract_procedure_pages(
        _one_partition(spark, codes), _http_factory(page_server)
    ).collect()
    assert [r.status for r in rows] == ["ok"] * 32
    # first request in to last response out, on the server's clock: the
    # Spark job around it adds a varying second of its own
    fetch_span = max(e for _, e in page_server.spans) - min(s for s, _ in page_server.spans)
    assert fetch_span < 0.8
    assert 1 < page_server.max_in_flight <= FETCH_CONCURRENCY


class _MarkedFetcher:
    """Leaves a marker file when built and when closed; fetching the code
    ``RAISE`` raises. Pickled by value (see ``marker_dir``), so executors
    can rebuild it without importing this test module."""

    def __init__(self, marker_dir):
        self._dir = marker_dir
        self._id = uuid.uuid4().hex
        self._mark("built")

    def _mark(self, kind):
        open(os.path.join(self._dir, f"{kind}-{self._id}"), "w").close()

    def fetch(self, code):
        if code == "RAISE":
            raise RuntimeError("fetch exploded")
        time.sleep(0.005)
        return FetchResult(html="<html></html>")

    def close(self):
        self._mark("closed")


@pytest.fixture()
def marker_dir(tmp_path, module_pickled_by_value):
    return str(tmp_path)


def _markers(marker_dir, kind):
    return {n.split("-", 1)[1] for n in os.listdir(marker_dir) if n.startswith(kind)}


@pytest.mark.parametrize("raises", [False, True], ids=["clean", "fetch_raises"])
def test_every_fetcher_built_is_closed(spark, marker_dir, raises):
    codes = [f"M{i:02d}" for i in range(40)]
    if raises:
        codes[10] = "RAISE"
    df = extract_procedure_pages(
        _one_partition(spark, codes), functools.partial(_MarkedFetcher, marker_dir)
    )
    if raises:
        with pytest.raises(Exception, match="fetch exploded"):
            df.collect()
    else:
        assert len(df.collect()) == len(codes)
    built = _markers(marker_dir, "built")
    assert 1 <= len(built) <= FETCH_CONCURRENCY
    assert _markers(marker_dir, "closed") == built


def test_pool_results_keep_input_order():
    class LaterCodesFaster:
        def fetch(self, code):
            time.sleep(0.002 * (20 - int(code)))
            return FetchResult(html=code)

        def close(self):
            pass

    codes = [str(i) for i in range(20)]
    with FetchPool(LaterCodesFaster, concurrency=4) as pool:
        assert [r.html for r in pool.map(codes)] == codes


def test_pool_stress_one_fetcher_per_thread_all_closed():
    """More threads than cores and a tiny switch interval: every fetcher
    is used by one thread only, and none escapes the pool's close."""
    built = []

    class Recording:
        def __init__(self):
            self.threads = set()
            self.closed = False
            built.append(self)

        def fetch(self, code):
            self.threads.add(threading.get_ident())
            return FetchResult(html=code)

        def close(self):
            self.closed = True

    codes = [str(i) for i in range(2000)]
    previous = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with FetchPool(Recording, concurrency=16) as pool:
            assert [r.html for r in pool.map(codes)] == codes
    finally:
        sys.setswitchinterval(previous)
    assert 1 <= len(built) <= 16
    assert all(len(f.threads) == 1 and f.closed for f in built)


def test_closing_the_pool_cancels_fetches_not_started():
    fetched = []

    class Slow:
        def fetch(self, code):
            time.sleep(0.02)
            fetched.append(code)
            return FetchResult(html="")

        def close(self):
            pass

    pool = FetchPool(Slow, concurrency=2)
    results = pool.map([str(i) for i in range(100)])
    next(results)
    pool.close()
    # the first result, plus at most one fetch running on each thread
    assert len(fetched) <= 1 + 2 * 2


def test_limit_stops_fetching_before_the_partition_is_done(spark, page_server):
    """``limit(1)`` over one partition of many small Arrow batches: the
    Python worker buffers its output, so the JVM sees the first row only
    after some batches, but then stops the partition, and the fetch
    threads do not go on through the rest of its codes."""
    codes = [f"L{i:03d}" for i in range(512)]
    page_server.pages = {c: _PAGES["99213"] for c in codes}
    page_server.latency_s = 0.050
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        rows = (
            extract_procedure_pages(_one_partition(spark, codes), _http_factory(page_server))
            .limit(1)
            .collect()
        )
    finally:
        spark.conf.set(key, previous)
    assert len(rows) == 1
    time.sleep(0.5)  # let a worker that kept fetching show it
    assert sum(page_server.requests.values()) < len(codes) // 2
