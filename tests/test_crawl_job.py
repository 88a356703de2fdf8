"""The crawl job (``scripts/crawl.py``) end to end, with no network: the
codes come from an embedded Derby database (its jars ship with Spark),
the site is a loopback server behind the reference's multi-step login,
and the pages are ``tests/fixtures/*.html``."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import pytest
from test_http_fetcher import _LoginHandler
from test_io_surface import DERBY_DRIVER, DictSecrets

from etl_procedure_codes_crawler_spark.functions.html_extract import (
    parse_procedure_page,
)
from etl_procedure_codes_crawler_spark.sinks.jdbc import write_jdbc
from etl_procedure_codes_crawler_spark.sources.jdbc import (
    JdbcConnection,
    read_jdbc_query,
)

ROOT = Path(__file__).resolve().parent.parent
FIXDIR = ROOT / "tests" / "fixtures"

#: code -> (fixture page, the site section its page redirects to)
_SITE = {
    "99213": ("cpt_normal.html", "cpt-codes"),
    "J0120": ("hcpcs_normal.html", "hcpcs-codes"),
    "J9999": ("deleted_hcpcs_listing.html", "hcpcs-codes"),
    "0001M": ("deleted_code.html", "cpt-codes"),
    "0042T": ("cpt_empty_tabs.html", "cpt-codes"),
}
_PAGES = {code: (FIXDIR / page).read_text() for code, (page, _) in _SITE.items()}
_NOT_FOUND = (FIXDIR / "page_404.html").read_text()

DAY1, DAY2 = "2026-08-13", "2026-08-14"
#: the codes table holds two dates; a run reads only its own
_CODES = {DAY1: ["99213", "J0120", "XXXXX", "J9999", "0001M"], DAY2: ["99213", "0042T"]}
RUN_SPEC = {"dag_id": "procedure_codes", "task_id": "crawl", "run_id": "manual__1"}


def _load_job():
    spec = importlib.util.spec_from_file_location("crawl_job", ROOT / "scripts" / "crawl.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class _SiteHandler(BaseHTTPRequestHandler):
    """The login wizard of ``_LoginHandler``, tracked per visitor, so the
    concurrent logins of several fetch threads each complete; behind it,
    ``/codes/<code>`` redirects to the code's section page, and a code
    the site does not know answers its 404 page."""

    def log_message(self, *args):
        pass

    def _cookie(self, name):
        for part in (self.headers.get("Cookie") or "").split(";"):
            key, _, value = part.strip().partition("=")
            if key == name:
                return value
        return None

    def _respond(self, status, body, headers=()):
        payload = body.encode()
        self.send_response(status)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(payload)))
        for header in headers:
            self.send_header(*header)
        self.end_headers()
        self.wfile.write(payload)

    def _login_step(self, body=""):
        site = self.server
        visitor = self._cookie("visitor") or uuid.uuid4().hex
        with site.lock:
            seen = site.logins.setdefault(visitor, [])
            seen.append((self.command, self.path))
            complete = seen == _LoginHandler.EXPECTED
        headers = [("Set-Cookie", f"visitor={visitor}; Path=/")]
        if self.path == "/subscription":
            if not complete:
                return self._respond(403, "login sequence not completed")
            with site.lock:
                site.sessions.add(visitor)
            return self._respond(200, "subscribed", headers)
        ok = {
            "/login": self.command == "GET" or "username=crawler%40example.com" in body,
            "/password": "password=hunter2" in body,
            "/reconfirm": True,
        }.get(self.path, False)
        self._respond(200 if ok else 400, "next screen", headers)

    def do_POST(self):
        length = int(self.headers.get("Content-Length") or 0)
        self._login_step(self.rfile.read(length).decode())

    def do_GET(self):
        if not self.path.startswith(("/codes/", "/cpt-codes/", "/hcpcs-codes/")):
            return self._login_step()
        site = self.server
        with site.lock:
            logged_in = self._cookie("visitor") in site.sessions
        if not logged_in:
            return self._respond(401, "not logged in")
        section, code = self.path.strip("/").split("/")
        if section == "codes":
            with site.lock:
                site.fetched.append(code)
            if code in _SITE:
                location = f"/{_SITE[code][1]}/{code}"
                return self._respond(302, "", [("Location", location)])
            return self._respond(404, _NOT_FOUND)
        self._respond(200, _PAGES[code])


class _Site(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _SiteHandler)
        self.lock = threading.Lock()
        self.logins: dict[str, list] = {}
        self.sessions: set[str] = set()
        self.fetched: list[str] = []

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}/"


@pytest.fixture()
def site():
    server = _Site()
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield server
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)


def _expected_keys():
    """Each table's keys after crawling DAY1, from the parse layer."""
    records = {
        code: parse_procedure_page(code, f"https://x/{_SITE[code][1]}/{code}", _PAGES[code])
        for code in _CODES[DAY1]
        if code in _SITE
    }
    ok = [r for r in records.values() if r["status"] == "ok"]
    return {
        "codes": {c for c, r in records.items() if r["status"] in ("ok", "deleted")},
        # (modifier, description) and (ndc_alternate_id, ...) tuples
        "modifiers": {m[0] for r in ok for m in r["modifier_rows"] or []},
        "ndc": {n[0] for r in ok for n in r["ndc_rows"] or []},
    }


def test_dated_crawl_fills_then_skips_then_audits_a_failure(spark, site, tmp_path):
    job = _load_job()
    warehouse = str(tmp_path / "warehouse")
    db_url = f"jdbc:derby:{tmp_path / 'db'};create=true"
    db = JdbcConnection(url=db_url, user="", password="", driver=DERBY_DRIVER)
    write_jdbc(
        spark.createDataFrame(
            [(code, day) for day, codes in _CODES.items() for code in codes],
            "code string, dt string",
        ).selectExpr("code", "CAST(dt AS DATE) AS dt"),
        db,
        "codes_input",
    )

    def run(day, password="hunter2"):
        secrets = DictSecrets(
            {
                "site": json.dumps({"email": "crawler@example.com", "password": password}),
                "db": json.dumps({"url": db_url, "driver": DERBY_DRIVER}),
            }
        )
        config = job.PipelineConfig.from_env(
            env={
                "LOGICAL_DATE": day,
                "BASE_SITE": site.url + "codes/",
                "LOGIN_SITE": site.url,
                "WAREHOUSE_PATH": warehouse,
                "SITE_SECRET_ID": "site",
                "DB_SECRET_ID": "db",
                "CODES_QUERY": (
                    'SELECT "code" FROM codes_input WHERE "dt" = DATE(\'{logical_date}\')'
                ),
                "RUN_SPEC": json.dumps(RUN_SPEC),
            }
        )
        site.fetched.clear()
        return job.crawl(spark, config, secrets)

    def table(name):
        return spark.read.parquet(os.path.join(warehouse, f"procedure_{name}")).collect()

    def keys():
        return {
            "codes": {r.code for r in table("codes")},
            "modifiers": {r.modifier for r in table("modifiers")},
            "ndc": {r.ndc_alternate_id for r in table("ndc")},
        }

    # run 1 crawls DAY1's codes, logged in, and fills the warehouse
    run(DAY1)
    assert sorted(site.fetched) == sorted(_CODES[DAY1])
    assert keys() == _expected_keys()
    assert {r.code: r.code_type for r in table("codes")} == {
        "99213": "CPT",
        "J0120": "HCPCS",
        "0001M": "CPT",
    }
    assert {r.load_date for n in ("codes", "modifiers", "ndc") for r in table(n)} == {
        20260813
    }
    snapshot = {n: sorted(map(tuple, table(n))) for n in ("codes", "modifiers", "ndc")}

    # run 2, the same date again: it fetches only the codes the warehouse
    # does not hold (the 404 and the deleted listing) and appends nothing
    second = run(DAY1)
    assert sorted(site.fetched) == sorted(set(_CODES[DAY1]) - keys()["codes"])
    assert [second.codes.count(), second.modifiers.count(), second.ndc.count()] == [0, 0, 0]
    assert {n: sorted(map(tuple, table(n))) for n in snapshot} == snapshot

    # run 3, DAY2 with a login the site refuses: every fetcher the factory
    # builds raises, so the job writes one audit row and raises again
    with pytest.raises(Exception, match="LoginError"):
        run(DAY2, password="wrong")
    errors = read_jdbc_query(spark, db, "SELECT * FROM airflow_errors").collect()
    assert len(errors) == 1
    assert (errors[0].dag_id, errors[0].task_id, errors[0].run_id) == (
        "procedure_codes",
        "crawl",
        "manual__1",
    )
    assert "LoginError" in errors[0].error and "password" in errors[0].error
    assert {n: sorted(map(tuple, table(n))) for n in snapshot} == snapshot


def test_documented_command_fails_fast_without_settings(tmp_path):
    """``python scripts/crawl.py`` with an empty environment names every
    missing setting in one error, before it starts a JVM."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "crawl.py")],
        env={},
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    last = proc.stderr.strip().splitlines()[-1]
    assert last.startswith("etl_procedure_codes_crawler_spark.config.MissingConfigError:")
    for name in (
        "LOGICAL_DATE",
        "BASE_SITE",
        "LOGIN_SITE",
        "WAREHOUSE_PATH",
        "SITE_SECRET_ID",
        "DB_SECRET_ID",
        "CODES_QUERY",
        "RUN_SPEC",
    ):
        assert name in last
    # a JVM start prints Spark's "Using Spark's default log4j profile"
    assert "log4j" not in proc.stderr, proc.stderr
