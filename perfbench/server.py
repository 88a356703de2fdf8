"""Loopback page server for the fetch-bound workload.

Serves generated pages at ``/cpt-codes/<code>`` on 127.0.0.1 so the
crawl can use the production :class:`HttpFetcher` unchanged. Per-request
latency is a ``time.sleep`` (a wait that uses no CPU). Faults are keyed
by code, never by arrival order, so which codes fail does not depend on
how Spark partitions the batch:

- a *permanent* code answers HTTP 500 to every request;
- a *one-shot* code answers 503 to its first request after each
  :meth:`PageServer.reset`, then 200.

Nagle's algorithm is off: with it on, the header and body writes of a
keep-alive response wait on the client's delayed ACK (~40 ms a request).
"""

from __future__ import annotations

import functools
import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from etl_procedure_codes_crawler_spark.sources.fetcher import HttpFetcher


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive: one connection per fetcher
    disable_nagle_algorithm = True

    def do_GET(self) -> None:  # noqa: N802 - http.server naming
        self.server.page_server.handle(self)

    def log_message(self, *args) -> None:
        pass


class PageServer:
    """``pages`` maps code -> (status, html). Start with :meth:`start`,
    stop with :meth:`close` (joins the serving thread)."""

    def __init__(self, pages, latency_s=0.0, permanent=(), one_shot=()):
        self.pages = pages
        self.latency_s = latency_s
        self.permanent = frozenset(permanent)
        self.one_shot = frozenset(one_shot)
        self._lock = threading.Lock()
        self.requests: Counter = Counter()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.daemon_threads = True
        self._httpd.page_server = self
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "PageServer":
        self._thread.start()
        return self

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        """Forget request history: one-shot faults fire again."""
        with self._lock:
            self.requests.clear()

    def handle(self, request: BaseHTTPRequestHandler) -> None:
        code = request.path.rsplit("/", 1)[-1]
        with self._lock:
            self.requests[code] += 1
            seen = self.requests[code]
        if self.latency_s:
            time.sleep(self.latency_s)
        if code in self.permanent:
            status, body = 500, "injected permanent fault"
        elif code in self.one_shot and seen == 1:
            status, body = 503, "injected transient fault"
        elif code in self.pages:
            status, body = self.pages[code]
        else:
            status, body = 404, "unknown code"
        data = body.encode("utf-8")
        request.send_response(status)
        request.send_header("Content-Type", "text/html; charset=utf-8")
        request.send_header("Content-Length", str(len(data)))
        request.end_headers()
        request.wfile.write(data)


def http_fetcher_factory(port: int, backoff: float = 0.002):
    """A picklable factory for the production fetcher pointed at the
    loopback server. Short backoff: retries are exercised, not waited."""
    return functools.partial(
        HttpFetcher,
        base_url=f"http://127.0.0.1:{port}/cpt-codes/",
        timeout=10.0,
        max_retries=3,
        backoff=backoff,
    )
