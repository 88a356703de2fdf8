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

from dataclasses import dataclass, field
from typing import Callable


@dataclass(frozen=True)
class LoginStep:
    """One wizard screen: GET when ``data`` is None, else a form POST."""

    path: str
    data: dict[str, str] | None = None
    expect_status: int = 200


class LoginError(RuntimeError):
    """A step of the login sequence returned an unexpected status."""


def scripted_login(
    base_url: str, steps: list[LoginStep], timeout: float = 30.0
) -> Callable[[object], None]:
    """Build a ``login(session)`` hook executing ``steps`` in order
    against the session; relative step paths resolve against
    ``base_url``, absolute URLs pass through."""

    def login(session) -> None:
        for step in steps:
            url = step.path if "://" in step.path else base_url + step.path
            if step.data is None:
                response = session.get(url, timeout=timeout)
            else:
                response = session.post(url, data=step.data, timeout=timeout)
            if response.status_code != step.expect_status:
                raise LoginError(
                    f"login step {step.path!r} returned "
                    f"{response.status_code}, expected {step.expect_status}"
                )

    return login


def reference_login_steps(
    email: str,
    password: str,
    login_path: str = "login",
    password_path: str = "password",
    reconfirm_path: str = "reconfirm",
    subscription_path: str = "subscription",
    username_field: str = "username",
    password_field: str = "password",
) -> list[LoginStep]:
    """The reference's exact sequence (``utils/login.py:12-88``):

    1. open the login page, submit the email (continue button)
    2. submit the password (sign-in button)
    3. click the re-confirm button — twice (``login2``/``login3``)
    4. the site bounces back to the login form: submit email and
       password again (the second full pass in the reference)
    5. open the subscription menu (``mnuCodifySubscription``)
    """
    email_post = LoginStep(login_path, {username_field: email})
    password_post = LoginStep(password_path, {password_field: password})
    return [
        LoginStep(login_path),  # driver.get(login_url)
        email_post,
        password_post,
        LoginStep(reconfirm_path, {}),  # login2.click()
        LoginStep(reconfirm_path, {}),  # login3.click()
        email_post,  # second full pass
        password_post,
        LoginStep(subscription_path),  # codify_link.click()
    ]
