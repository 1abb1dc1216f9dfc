"""Fetch-tier HTTP retry/rate-limit helper (SURVEY S11) and the
full-sync-interval policy (SURVEY I5).

The reference wraps every provider fetch in configurable-retry GET with
exponential backoff and Retry-After-aware rate-limit handling
(utils/http_wrapper.py:185-290).  Fetching is driver-side by design (the
cluster processes the landing zone); this module gives that tier the same
resilience contract, stdlib-only and with an injectable transport so the
behavior is testable without a network.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable
from datetime import datetime, timedelta


class HTTPStatusError(Exception):
    def __init__(self, status: int, url: str):
        super().__init__(f"HTTP {status} for {url}")
        self.status = status
        self.url = url


#: cap of one backoff sleep (s)
_MAX_BACKOFF_S = 600.0


def backoff_sleep_interval(base: float, attempt: int) -> float:
    """Exponential backoff with full jitter, capped at ``_MAX_BACKOFF_S``."""
    return random.uniform(0, min(_MAX_BACKOFF_S, base * (2**attempt)))


def _default_transport(url: str, timeout: float, headers: dict):
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:
        # urlopen raises for status >= 400; return it as a response so the
        # documented 3-step handling (Retry-After wait, status_handler
        # override, then raise) applies to the default transport too —
        # matching the reference's requests-based http.get, which never
        # raises on status alone (utils/http_wrapper.py:26-120).
        with e:
            return e.code, dict(e.headers), e.read()


def get_with_retry(
    url: str,
    retries: int = 5,
    timeout: float = 30.0,
    headers: dict | None = None,
    status_handler: Callable | None = None,
    transport: Callable | None = None,
    sleep: Callable = time.sleep,
) -> tuple[int, dict, bytes]:
    """GET with retries: at most ``retries + 1`` attempts.

    Semantics match the reference's 3-step response handling:
    1. rate-limit statuses (429, or 503 with Retry-After) always wait the
       Retry-After duration (default 60 s, capped) and retry;
    2. a caller ``status_handler(status, headers, body)`` may raise to
       force a retry, or return to accept the response;
    3. otherwise any status >= 400 raises (and retries).
    Exhausted retries re-raise the last error.  ``transport`` and
    ``sleep`` are injectable for tests.
    """
    transport = transport or _default_transport
    last_exc: Exception | None = None
    skip_backoff = False
    for attempt in range(retries + 1):
        if last_exc is not None and not skip_backoff:
            sleep(backoff_sleep_interval(3.0, attempt - 1))
        skip_backoff = False
        last_exc = None
        try:
            status, resp_headers, body = transport(url, timeout, headers or {})
            retry_after = resp_headers.get("Retry-After")
            if status == 429 or (status == 503 and retry_after is not None):
                if attempt >= retries:
                    raise HTTPStatusError(status, url)
                try:
                    wait = float(retry_after) if retry_after else 60.0
                except ValueError:
                    wait = 60.0
                sleep(min(wait, _MAX_BACKOFF_S))
                last_exc = HTTPStatusError(status, url)
                skip_backoff = True
                continue
            if status_handler is not None:
                status_handler(status, resp_headers, body)
                return status, resp_headers, body
            if status >= 400:
                raise HTTPStatusError(status, url)
            return status, resp_headers, body
        except Exception as e:  # noqa: BLE001
            last_exc = e
            if attempt >= retries:
                raise
    raise last_exc  # pragma: no cover — loop always returns or raises


def should_full_sync(
    metadata: dict,
    interval_days: int,
    now: datetime,
) -> bool:
    """Full-sync-interval policy (reference providers run a full refresh
    every N days on top of incremental deltas, e.g. nvd/manager.py).

    True when no full sync is recorded or the recorded one is older than
    ``interval_days``.  Pairs with KVCache.get_metadata()/set_metadata().
    """
    last = metadata.get("last_full_sync")
    if not last:
        return True
    last_dt = datetime.fromisoformat(last)
    return now - last_dt >= timedelta(days=interval_days)
