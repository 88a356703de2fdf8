"""Scripted multi-step form login for :class:`.fetcher.HttpFetcher`.

Reference: ``crawler/src/utils/login.py:12-88`` (``aapc_login``) — a
Selenium dance: enter email → click continue → enter password → click
sign-in → click the re-confirm button twice → repeat the full
email/password sequence → open the subscription menu. The engine keeps
the *session* concern (one authenticated session per fetch thread, up
to ``FETCH_CONCURRENCY`` logging in concurrently per partition,
``fetcher.py``) separate from the *sequence* concern: this module
expresses the sequence as data (a list of :class:`LoginStep`) and
returns a ``login(session)`` callable the fetcher runs once at
construction.

Selenium's DOM interactions (find field by id, click button) map to
their HTTP substance: each screen of the wizard is one form
submission, so ``send_keys + click`` becomes one POST with the form
payload; the waits become response-status checks. The ordering and
repetition of the reference's flow — including the odd double
re-confirm and the full second login pass — are reproduced verbatim
by :func:`reference_login_steps` and pinned by an ordered-request
test against a live local HTTP server
(``tests/test_http_fetcher.py::TestMultiStepLogin``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


#: the reference wizard's screens and form fields (``utils/login.py``),
#: paths relative to the login site
LOGIN_PATH = "login"
PASSWORD_PATH = "password"
RECONFIRM_PATH = "reconfirm"
SUBSCRIPTION_PATH = "subscription"
USERNAME_FIELD = "username"
PASSWORD_FIELD = "password"

#: seconds each login request may take
LOGIN_TIMEOUT_S = 30.0


@dataclass(frozen=True)
class LoginStep:
    """One wizard screen: GET when ``data`` is None, else a form POST;
    anything but HTTP 200 fails the login."""

    path: str
    data: dict[str, str] | None = None


class LoginError(RuntimeError):
    """A step of the login sequence returned an unexpected status."""


def scripted_login(base_url: str, steps: list[LoginStep]) -> Callable[[object], None]:
    """Build a ``login(session)`` hook executing ``steps`` in order
    against the session; step paths resolve against ``base_url``."""

    def login(session) -> None:
        for step in steps:
            url = base_url + step.path
            if step.data is None:
                response = session.get(url, timeout=LOGIN_TIMEOUT_S)
            else:
                response = session.post(url, data=step.data, timeout=LOGIN_TIMEOUT_S)
            if response.status_code != 200:
                raise LoginError(
                    f"login step {step.path!r} returned "
                    f"{response.status_code}, expected 200"
                )

    return login


def reference_login_steps(email: str, password: str) -> list[LoginStep]:
    """The reference's exact sequence (``utils/login.py:12-88``):

    1. open the login page, submit the email (continue button)
    2. submit the password (sign-in button)
    3. click the re-confirm button — twice (``login2``/``login3``)
    4. the site bounces back to the login form: submit email and
       password again (the second full pass in the reference)
    5. open the subscription menu (``mnuCodifySubscription``)
    """
    email_post = LoginStep(LOGIN_PATH, {USERNAME_FIELD: email})
    password_post = LoginStep(PASSWORD_PATH, {PASSWORD_FIELD: password})
    return [
        LoginStep(LOGIN_PATH),  # driver.get(login_url)
        email_post,
        password_post,
        LoginStep(RECONFIRM_PATH, {}),  # login2.click()
        LoginStep(RECONFIRM_PATH, {}),  # login3.click()
        email_post,  # second full pass
        password_post,
        LoginStep(SUBSCRIPTION_PATH),  # codify_link.click()
    ]
