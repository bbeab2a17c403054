"""Rate-limited, retrying Notion-sink client (mockable).

:meth:`NotionClient._call` is the sink's one retry loop.  Transports make
a single attempt each (``request(op_key, payload) -> dict``, raising
``HTTPStatusError`` / ``TransportError``), and the loop applies the
reference's HTTP discipline (upload_notion_blocks.py:157-184) on the
schedule of the urllib3 ``Retry`` the reference configures:
- retry only on HTTP status 429/502/503/504
- at most 5 status-retries (6 attempts); no wait before the first
  retry, then backoff 0.2 * 2^(n-1) s (0.4, 0.8, 1.6, 3.2)
- an advertised Retry-After replaces the backoff
- connect/read errors are NOT retried
- client memoized per executor (module global, :51,157-161)

Every 429 also reaches the :class:`RateLimiter`, which widens its pacing
interval until the offered load fits the server's budget.

The transport is injected and must be picklable so the same object rides
into Spark workers; tests use :class:`ScriptedTransport` to inject
429/5xx/connect-error sequences (FIXTURES A7), and
:class:`~mediawiki_to_notion_spark.streaming.http_transport.HttpTransport`
speaks real HTTP.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

RETRYABLE_STATUSES = (429, 502, 503, 504)

# RateLimiter's adaptive pacing: each 429 widens the interval
# _WIDEN_FACTOR-fold, to at least _MIN_THROTTLE_INTERVAL_S (the first
# widen of an unpaced limiter) and at most _MAX_INTERVAL_FACTOR times
# the base or that floor; each success decays the surplus over the base
# by _DECAY_FACTOR (a gentle re-probe)
_WIDEN_FACTOR = 2.0
_DECAY_FACTOR = 0.98
_MIN_THROTTLE_INTERVAL_S = 0.05
_MAX_INTERVAL_FACTOR = 32
MAX_STATUS_RETRIES = 5
BACKOFF_FACTOR = 0.2


class TransportError(Exception):
    """Connect/read-level failure — never retried (the reference's
    declared "don't retry for connection errors")."""


class WorkerCrash(BaseException):
    """Stand-in for upload-worker *process* death (Lambda crash/timeout —
    the ``States.TaskFailed`` catch in upload-state-machine.asl.json:
    203-211).  Deliberately a BaseException so the per-row error handling
    in the upload sink (which models per-block API failures) can never
    swallow it: it kills the Spark task, the job fails, and the driver's
    abort path marks the affected pages ABORTED."""


class HTTPStatusError(Exception):
    def __init__(self, status: int,
                 retry_after_s: float | None = None) -> None:
        super().__init__(f"HTTP {status}")
        self.status = status
        # the reply's advertised Retry-After (seconds), when the server
        # sent one: it replaces the retry backoff, and on a 429 the
        # pacer adopts it as the interval floor
        self.retry_after_s = retry_after_s


@dataclass
class ScriptedTransport:
    """Deterministic fake Notion API.

    ``script`` maps an operation key (e.g. ``"block:<batch>:<idx>"`` or
    ``"page:<batch>"``) to a list of HTTP statuses to emit on successive
    calls; missing keys succeed immediately.  0 means connect-error."""

    script: dict[str, list[int]] = field(default_factory=dict)
    calls: dict[str, int] = field(default_factory=dict)
    sleep: bool = False

    def request(self, op_key: str, payload: dict | None = None) -> dict:
        n = self.calls.get(op_key, 0)
        self.calls[op_key] = n + 1
        statuses = self.script.get(op_key, [])
        status = statuses[n] if n < len(statuses) else 200
        if status == -1:
            raise WorkerCrash(f"worker died at {op_key}")
        if status == 0:
            raise TransportError(f"connect error for {op_key}")
        if status != 200:
            raise HTTPStatusError(status)
        return {"ok": True, "url": f"https://notion.example/{op_key}"}


@dataclass
class RateLimiter:
    """429-responsive token-bucket pacer.  The reference achieves API
    politeness with a 1-wide distributed semaphore
    (upload-state-machine.asl.json:5-68); a single sink partition + this
    pacer gives the same guarantee.

    The reference's Retry policy only survives throttling; its intent is
    kindness to the API.  So every 429 the retry loop sees widens the
    pacing interval (multiplicatively, or straight to an advertised
    Retry-After), and successes decay it geometrically back to the
    configured base.  Without 429s the interval stays at the base.

    ``min_interval_s`` is the configured base and also holds the live
    interval.  ``clock`` is any object with ``monotonic()``/``sleep()``
    (defaults to the ``time`` module) — injected by tests to run pacing
    against a virtual clock."""

    min_interval_s: float = 0.0
    _last: float = field(default=0.0, repr=False)
    clock: object = field(default=time, repr=False)
    _base: float = field(default=0.0, init=False, repr=False)
    _floor: float = field(default=0.0, init=False, repr=False)
    _cap: float = field(default=0.0, init=False, repr=False)

    def __post_init__(self) -> None:
        self._base = self.min_interval_s
        self._floor = _MIN_THROTTLE_INTERVAL_S
        self._cap = _MAX_INTERVAL_FACTOR * max(self._base, self._floor)

    def wait(self) -> None:
        if self.min_interval_s <= 0:
            return
        now = self.clock.monotonic()
        delta = now - self._last
        if delta < self.min_interval_s:
            self.clock.sleep(self.min_interval_s - delta)
        self._last = self.clock.monotonic()

    def on_throttle(self, *, retry_after_s: float | None = None) -> None:
        """The API said 429, optionally advertising a Retry-After."""
        # an advertised recovery interval replaces the multiplicative
        # guess: one 429 instead of several blind doublings.  A hint
        # that does NOT raise the interval (server still throttling
        # at/below the adopted floor) falls through to the widen, so
        # adaptation never stalls on a stale advertisement.
        if retry_after_s and retry_after_s > self.min_interval_s:
            self.min_interval_s = min(
                self._cap, max(retry_after_s, self._floor, self._base))
            return
        self.min_interval_s = min(
            self._cap,
            max(self.min_interval_s * _WIDEN_FACTOR, self._floor, self._base),
        )

    def on_success(self) -> None:
        surplus = (self.min_interval_s - self._base) * _DECAY_FACTOR
        self.min_interval_s = (
            self._base if surplus < 1e-4 else self._base + surplus
        )


class NotionClient:
    """The one retry loop, over any transport."""

    def __init__(self, transport, rate_limiter: RateLimiter | None = None) -> None:
        self.transport = transport
        self.rate = rate_limiter or RateLimiter()

    def _call(self, op_key: str, payload: dict | None = None) -> dict:
        # urllib3's Retry schedule: no wait before the first retry, then
        # factor * 2^(n-1); an advertised Retry-After replaces it.  Sleeps
        # ride the limiter's clock so virtual-clock tests stay coherent;
        # a transport with ``sleep = False`` (ScriptedTransport) skips them
        sleeps = getattr(self.transport, "sleep", True)
        retries = 0
        while True:
            self.rate.wait()
            try:
                result = self.transport.request(op_key, payload)
            except HTTPStatusError as exc:
                if exc.status == 429:
                    self.rate.on_throttle(retry_after_s=exc.retry_after_s)
                if (exc.status not in RETRYABLE_STATUSES
                        or retries == MAX_STATUS_RETRIES):
                    raise
                retries += 1
                delay = exc.retry_after_s or (
                    BACKOFF_FACTOR * 2 ** (retries - 1) if retries > 1 else 0)
                if sleeps:
                    self.rate.clock.sleep(delay)
                continue
            self.rate.on_success()
            return result

    def get_or_create_page(self, batch_id: str, parent_url: str | None,
                           existing_url: str | None,
                           title: str | None = None) -> str:
        """Idempotent remote page (upload_notion_blocks.py:84-154): reuse
        the persisted URL, else create under the parent."""
        if existing_url:
            return existing_url
        if not parent_url:
            raise TransportError(f"no parent url for batch {batch_id}")
        payload = {"parent_url": parent_url, "title": title or batch_id}
        return self._call(f"page:{batch_id}", payload)["url"]

    def upload_block(self, batch_id: str, block_index: int,
                     block_json: str | None = None,
                     page_url: str | None = None) -> None:
        payload = {"block_json": block_json, "page_url": page_url}
        self._call(f"block:{batch_id}:{block_index}", payload)


_CLIENT: NotionClient | None = None


def executor_client(transport, rate_limiter: RateLimiter | None = None) -> NotionClient:
    """Per-executor memoized client (warm-start pattern,
    upload_notion_blocks.py:51)."""
    global _CLIENT
    if _CLIENT is None or _CLIENT.transport is not transport:
        _CLIENT = NotionClient(transport, rate_limiter)
    return _CLIENT
