"""Pluggable page fetchers for the extraction operator (SURVEY §2.1 S6).

The reference drives one global logged-in headless Chrome on the driver
process (``crawler/src/utils/chrome_config.py:3-17`` +
``utils/login.py:12-88``) and fetches pages serially. That cannot
distribute; here fetching happens inside ``mapInPandas`` partitions.
Each partition runs a :class:`FetchPool` of at most
:data:`FETCH_CONCURRENCY` threads, and each thread builds its own
fetcher from a picklable *factory* — one fetcher per fetch thread, at
most N = ``FETCH_CONCURRENCY`` per partition:

- :class:`FixtureFetcher` — serves HTML from an in-memory dict; used
  in tests and the correctness harness (no network, no browser).
- :class:`HttpFetcher` — ``requests``-based with bounded retries and an
  optional login hook; one authenticated session per fetch thread
  replaces the reference's global browser session (SURVEY §7 "what's
  hard"). A login-gated site therefore sees up to N logins per
  partition, run concurrently, so the factory must be safe to call
  from several threads at once.

A fetch returns a :class:`FetchResult` carrying the html, the FINAL
url (post-redirect — the reference classifies CPT vs HCPCS from
``driver.current_url`` at ``procedure_code.py:550``, which reflects
redirects; a fetcher that hides the final URL breaks that), and an
error. Failures become ``status='fetch_error'`` rows instead of
crashing the partition (the reference's bare ``return None`` at
``procedure_code.py:650-651`` crashed the chunk loop).
"""

from __future__ import annotations

import contextlib
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator, Protocol


@dataclass
class FetchResult:
    html: str | None = None
    url: str | None = None  # the page's final URL, after redirects
    error: str | None = None


class Fetcher(Protocol):
    def fetch(self, code: str) -> FetchResult:
        """html set on success, error set on failure, url always: the
        page's final address (the one asked for, when nothing answered).
        A result without html is a fetch error, whatever ``error`` says."""
        ...

    def close(self) -> None: ...


#: A picklable zero-arg callable building a Fetcher inside the executor.
FetcherFactory = Callable[[], Fetcher]

#: Fetch threads (and so fetchers) per partition. Fetching is a network
#: wait, so threads overlap it despite the GIL. In a sweep of 1/2/4/8/16
#: on the crawl benchmark (CHANGES.md), 4 was fastest: past it the page
#: server's per-request wait grew by more than the extra overlap saved.
#: Each thread holds one open session and, for a login-gated site, one
#: login.
FETCH_CONCURRENCY = 4


class FetchPool:
    """Up to ``concurrency`` threads fetching codes in input order.

    Each thread lazily builds its own fetcher from ``factory`` on its
    first fetch (``requests.Session`` is not documented as thread-safe,
    and a login belongs to one session), so a partition builds at most
    ``concurrency`` fetchers and an empty one builds none. :meth:`close`
    cancels fetches not yet started, waits for the running ones, then
    closes every fetcher built: a partition that stops mid-batch (a
    fetch or a parse raising, the iterator closed) does not go on
    fetching the rest of its batch.
    """

    def __init__(self, factory: FetcherFactory, concurrency: int = FETCH_CONCURRENCY):
        self._factory = factory
        self._local = threading.local()
        self._lock = threading.Lock()
        self._fetchers: list[Fetcher] = []
        self._executor = ThreadPoolExecutor(concurrency, thread_name_prefix="fetch")

    def _fetch(self, code: str) -> FetchResult:
        fetcher = getattr(self._local, "fetcher", None)
        if fetcher is None:
            fetcher = self._local.fetcher = self._factory()
            with self._lock:
                self._fetchers.append(fetcher)
        return fetcher.fetch(code)

    def map(self, codes: Iterable[str]) -> Iterator[FetchResult]:
        """One result per code, in the order of ``codes``; a fetch that
        raises re-raises here, at its position."""
        return self._executor.map(self._fetch, codes)

    def close(self) -> None:
        self._executor.shutdown(wait=True, cancel_futures=True)
        # ExitStack closes every fetcher even if one close raises
        with contextlib.ExitStack() as stack:
            for fetcher in self._fetchers:
                stack.callback(fetcher.close)

    def __enter__(self) -> "FetchPool":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


@dataclass
class FixtureFetcher:
    """Serves canned HTML from ``pages`` (code → html). ``urls``
    optionally maps a code to the final URL the live site would land on
    (drives CPT/HCPCS classification in tests); any other code's URL is
    ``base_url + code``, as :class:`HttpFetcher` asks for it. Unknown
    codes are a fetch error (covers the network-failure path)."""

    pages: dict[str, str] = field(default_factory=dict)
    urls: dict[str, str] = field(default_factory=dict)
    base_url: str = ""

    def fetch(self, code: str) -> FetchResult:
        code = (code or "").strip()
        url = self.urls.get(code, self.base_url + code)
        if code in self.pages:
            return FetchResult(html=self.pages[code], url=url)
        return FetchResult(error=f"no fixture for code {code!r}", url=url)

    def close(self) -> None:
        pass


def _transient_status(status: int) -> bool:
    return status in (408, 429) or status >= 500


@dataclass
class HttpFetcher:
    """HTTP fetcher with bounded retry/backoff; one per fetch thread.

    Only transient failures are retried: connection errors, timeouts,
    HTTP 408, 429 and 5xx. Other client errors fail on the first answer.

    ``login`` runs once against the session before the first fetch,
    replacing the reference's driver-global Selenium login flow
    (``utils/login.py:12-88``). The multi-step form dance is a site
    concern injected by the caller, not engine logic.
    """

    base_url: str
    login: Callable[[object], None] | None = None
    timeout: float = 30.0
    max_retries: int = 3
    backoff: float = 1.0

    def __post_init__(self) -> None:
        import requests

        self._session = requests.Session()
        if self.login is not None:
            self.login(self._session)

    def fetch(self, code: str) -> FetchResult:
        import requests

        url = self.base_url + (code or "").strip()
        last_error = "no attempts made"
        for attempt in range(self.max_retries):
            if attempt:
                # back off only BETWEEN attempts: a sleep after the final
                # one would be dead time spent just before returning the
                # error (hours across a partition of failing codes)
                time.sleep(self.backoff * 2 ** (attempt - 1))
            try:
                response = self._session.get(url, timeout=self.timeout)
                if response.status_code == 404:
                    # 404 bodies are parseable (container404 page): pass through
                    return FetchResult(html=response.text, url=str(response.url))
                response.raise_for_status()
                # response.url is the post-redirect URL — the analog of the
                # reference's driver.current_url (procedure_code.py:550).
                return FetchResult(html=response.text, url=str(response.url))
            except requests.HTTPError as exc:
                last_error = repr(exc)
                if not _transient_status(exc.response.status_code):
                    break  # 400/401/403/410...: asking again gets the same answer
            except (
                requests.ConnectionError,
                requests.Timeout,
                requests.exceptions.ChunkedEncodingError,
            ) as exc:
                last_error = repr(exc)
            except Exception as exc:
                # any other failure is permanent for this code; it becomes
                # a fetch_error row, never a failed task
                last_error = repr(exc)
                break
        return FetchResult(error=last_error, url=url)

    def close(self) -> None:
        self._session.close()
