"""HttpFetcher integration against a local stdlib HTTP server:
retry/backoff, 404-body passthrough, redirect final-URL semantics,
and login-hook invocation."""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from etl_procedure_codes_crawler_spark.sources.fetcher import HttpFetcher

FLAKY_FAILURES = 2


class _Handler(BaseHTTPRequestHandler):
    flaky_hits = 0
    status_hits: dict = {}

    def log_message(self, *args):  # silence test output
        pass

    def do_GET(self):
        if self.path == "/ok":
            self._respond(200, "<html><body>page ok</body></html>")
        elif self.path == "/missing":
            self._respond(404, "<html><div class='container404'>gone</div></html>")
        elif self.path == "/flaky":
            type(self).flaky_hits += 1
            if type(self).flaky_hits <= FLAKY_FAILURES:
                self._respond(503, "try later")
            else:
                self._respond(200, "<html>recovered</html>")
        elif self.path.startswith("/status/"):
            # /status/<n>: always answers HTTP <n>
            hits = type(self).status_hits
            hits[self.path] = hits.get(self.path, 0) + 1
            self._respond(int(self.path.rsplit("/", 1)[1]), "status page")
        elif self.path == "/moved":
            self.send_response(302)
            self.send_header("Location", "/ok")
            self.end_headers()
        else:
            self._respond(500, "boom")

    def _respond(self, status: int, body: str):
        payload = body.encode()
        self.send_response(status)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


@pytest.fixture(scope="module")
def server():
    httpd = HTTPServer(("127.0.0.1", 0), _Handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}/"
    httpd.shutdown()


def test_fetch_success_carries_final_url(server):
    fetcher = HttpFetcher(base_url=server, backoff=0.01)
    result = fetcher.fetch("ok")
    assert "page ok" in result.html and result.error is None
    assert result.url.endswith("/ok")
    fetcher.close()


def test_404_body_passes_through_for_parsing(server):
    # the reference parses 404 pages (container404 guard) — the fetch
    # layer must hand the body over, not raise
    fetcher = HttpFetcher(base_url=server, backoff=0.01)
    result = fetcher.fetch("missing")
    assert result.error is None and "container404" in result.html
    fetcher.close()


def test_bounded_retries_recover_from_transient_errors(server):
    _Handler.flaky_hits = 0
    fetcher = HttpFetcher(base_url=server, max_retries=3, backoff=0.01)
    result = fetcher.fetch("flaky")
    assert result.error is None and "recovered" in result.html
    assert _Handler.flaky_hits == FLAKY_FAILURES + 1  # 2 failures + success
    fetcher.close()


def test_retries_exhausted_returns_error_not_raise(server):
    fetcher = HttpFetcher(base_url=server, max_retries=2, backoff=0.01)
    result = fetcher.fetch("always-500")
    assert result.html is None and "500" in result.error
    fetcher.close()


@pytest.mark.parametrize("status", [400, 401, 403, 410])
def test_permanent_client_error_is_not_retried(server, status):
    fetcher = HttpFetcher(base_url=server, max_retries=3, backoff=0.01)
    result = fetcher.fetch(f"status/{status}")
    assert result.html is None and str(status) in result.error
    assert _Handler.status_hits[f"/status/{status}"] == 1
    fetcher.close()


@pytest.mark.parametrize("status", [408, 429, 502])
def test_transient_status_is_retried(server, status):
    fetcher = HttpFetcher(base_url=server, max_retries=3, backoff=0.001)
    result = fetcher.fetch(f"status/{status}")
    assert result.html is None and str(status) in result.error
    assert _Handler.status_hits[f"/status/{status}"] == 3
    fetcher.close()


def test_redirect_reports_post_redirect_url(server):
    # CPT/HCPCS classification reads the FINAL url (SURVEY F21 /
    # procedure_code.py:550) — a fetcher hiding redirects breaks it
    fetcher = HttpFetcher(base_url=server, backoff=0.01)
    result = fetcher.fetch("moved")
    assert result.url.endswith("/ok") and "page ok" in result.html
    fetcher.close()


def test_login_hook_runs_once_at_construction(server):
    calls = []
    fetcher = HttpFetcher(base_url=server, login=lambda s: calls.append(s), backoff=0.01)
    fetcher.fetch("ok")
    fetcher.fetch("ok")
    assert len(calls) == 1  # session-scoped, not per-fetch
    fetcher.close()


# ---------------------------------------------------------------------------
# multi-step login (reference utils/login.py:12-88)
# ---------------------------------------------------------------------------

class _LoginHandler(BaseHTTPRequestHandler):
    """Stateful login wizard: only the full ordered sequence earns the
    session cookie that /codify/<code> pages require."""

    requests_seen: list = []
    EXPECTED = [
        ("GET", "/login"),
        ("POST", "/login"),
        ("POST", "/password"),
        ("POST", "/reconfirm"),
        ("POST", "/reconfirm"),
        ("POST", "/login"),
        ("POST", "/password"),
        ("GET", "/subscription"),
    ]

    def log_message(self, *args):
        pass

    def _record(self):
        type(self).requests_seen.append((self.command, self.path))

    def _respond(self, status, body, cookie=None):
        payload = body.encode()
        self.send_response(status)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(payload)))
        if cookie:
            self.send_header("Set-Cookie", cookie)
        self.end_headers()
        self.wfile.write(payload)

    def _sequence_complete(self):
        seen = type(self).requests_seen
        return seen[: len(self.EXPECTED)] == self.EXPECTED

    def do_GET(self):
        self._record()
        if self.path == "/login":
            self._respond(200, "<form id='username'></form>")
        elif self.path == "/subscription":
            if self._sequence_complete():
                self._respond(200, "subscribed", cookie="session=ok; Path=/")
            else:
                self._respond(403, "login sequence not completed")
        elif self.path.startswith("/codify/"):
            if "session=ok" in (self.headers.get("Cookie") or ""):
                self._respond(200, "<html><body>code page</body></html>")
            else:
                self._respond(401, "not logged in")
        else:
            self._respond(500, "boom")

    def do_POST(self):
        self._record()
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length).decode()
        if self.path == "/login":
            ok = "username=crawler%40example.com" in body
            self._respond(200 if ok else 400, "password screen")
        elif self.path == "/password":
            ok = "password=hunter2" in body
            self._respond(200 if ok else 400, "reconfirm screen")
        elif self.path == "/reconfirm":
            self._respond(200, "confirmed")
        else:
            self._respond(500, "boom")


@pytest.fixture()
def login_server():
    _LoginHandler.requests_seen = []
    httpd = HTTPServer(("127.0.0.1", 0), _LoginHandler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}/"
    httpd.shutdown()


class TestMultiStepLogin:
    def _steps(self):
        from etl_procedure_codes_crawler_spark.sources.login import (
            reference_login_steps,
        )

        return reference_login_steps("crawler@example.com", "hunter2")

    def test_sequence_runs_in_reference_order(self, login_server):
        from etl_procedure_codes_crawler_spark.sources.login import scripted_login

        import requests

        with requests.Session() as session:
            scripted_login(login_server, self._steps())(session)
        assert _LoginHandler.requests_seen == [
            ("GET", "/login"),
            ("POST", "/login"),
            ("POST", "/password"),
            ("POST", "/reconfirm"),
            ("POST", "/reconfirm"),
            ("POST", "/login"),
            ("POST", "/password"),
            ("GET", "/subscription"),
        ]

    def test_fetcher_with_login_reaches_protected_pages(self, login_server):
        from etl_procedure_codes_crawler_spark.sources.login import scripted_login

        fetcher = HttpFetcher(
            base_url=login_server + "codify/",
            login=scripted_login(login_server, self._steps()),
            backoff=0.01,
            max_retries=1,
        )
        result = fetcher.fetch("99213")
        assert result.error is None and "code page" in result.html
        fetcher.close()

    def test_skipping_steps_is_rejected(self, login_server):
        from etl_procedure_codes_crawler_spark.sources.login import (
            LoginError,
            LoginStep,
            scripted_login,
        )

        import requests

        # jump straight to the subscription menu: server refuses
        with requests.Session() as session:
            with pytest.raises(LoginError, match="subscription.*403"):
                scripted_login(
                    login_server, [LoginStep("subscription")]
                )(session)

    def test_wrong_password_fails_at_that_step(self, login_server):
        from etl_procedure_codes_crawler_spark.sources.login import (
            LoginError,
            reference_login_steps,
            scripted_login,
        )

        import requests

        steps = reference_login_steps("crawler@example.com", "wrong")
        with requests.Session() as session:
            with pytest.raises(LoginError, match="password.*400"):
                scripted_login(login_server, steps)(session)
