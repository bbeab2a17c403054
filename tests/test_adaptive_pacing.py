"""429-adaptive politeness pacing (VERDICT r8 brief #6).

The reference's intent is kindness to the API; the verbatim Retry
policy only survives throttling.  RateLimiter must make the
aggregate request rate CONVERGE under the server's advertised budget
when the static pacing estimate overshoots — verified here against a
scripted 429-burst server on a virtual clock (deterministic, no real
sleeps)."""

from __future__ import annotations

from mediawiki_to_notion_spark.streaming import notion_client
from mediawiki_to_notion_spark.streaming.notion_client import (
    NotionClient,
    RateLimiter,
)


class VirtualClock:
    def __init__(self) -> None:
        self.t = 0.0

    def monotonic(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += max(0.0, s)


class BudgetTransport:
    """Token-bucket API server: refills ``budget_rps`` tokens/s against
    the shared virtual clock; a request without a token is a 429."""

    sleep = True  # let the client's backoff advance the virtual clock

    def __init__(self, budget_rps: float, clock: VirtualClock,
                 burst: float = 1.0, advertise: bool = False) -> None:
        self.budget_rps = budget_rps
        self.clock = clock
        self.tokens = burst
        self.burst = burst
        self.advertise = advertise  # send Retry-After on 429s
        self._last = clock.monotonic()
        self.attempts: list[tuple[float, bool]] = []  # (t, throttled)

    def request(self, op_key: str, payload: dict | None = None) -> dict:
        now = self.clock.monotonic()
        self.tokens = min(self.burst,
                          self.tokens + (now - self._last) * self.budget_rps)
        self._last = now
        if self.tokens >= 1.0:
            self.tokens -= 1.0
            self.attempts.append((now, False))
            return {"ok": True, "url": f"https://x/{op_key}"}
        self.attempts.append((now, True))
        from mediawiki_to_notion_spark.streaming.notion_client import (
            HTTPStatusError,
        )
        if self.advertise:
            # precise recovery time: seconds until the next token
            raise HTTPStatusError(
                429, retry_after_s=(1.0 - self.tokens) / self.budget_rps)
        raise HTTPStatusError(429)


def test_widen_and_decay_shape():
    rl = RateLimiter(min_interval_s=0.01)
    assert rl._cap == 32 * 0.05  # floor-derived cap
    rl.on_throttle()
    assert rl.min_interval_s == 0.05  # jumps to the throttle floor
    rl.on_throttle()
    rl.on_throttle()
    assert rl.min_interval_s == 0.2  # 2 doublings
    for _ in range(600):
        rl.on_success()
    assert rl.min_interval_s == 0.01  # decays back to the exact base


def test_unpaced_base_still_widens():
    rl = RateLimiter(min_interval_s=0.0)
    rl.on_throttle()
    assert rl.min_interval_s >= 0.05
    for _ in range(600):
        rl.on_success()
    assert rl.min_interval_s == 0.0


def test_aggregate_rate_converges_under_server_budget(monkeypatch):
    monkeypatch.setattr(notion_client, "_MIN_THROTTLE_INTERVAL_S", 0.005)
    clock = VirtualClock()
    budget = 20.0  # server advertises 20 req/s
    server = BudgetTransport(budget, clock)
    # static pacing says 200 req/s — a 10x overshoot of the budget
    rl = RateLimiter(min_interval_s=0.005, clock=clock)
    client = NotionClient(server, rl)
    n = 400
    for i in range(n):
        client.upload_block("b", i)  # retries absorb early 429s

    # convergence: over the second half of the run the ATTEMPT rate
    # (accepted + throttled) must sit under the advertised budget —
    # pacing, not the retry loop, carries the load
    times = [t for t, _ in server.attempts]
    half = times[len(times) // 2]
    late = [(t, thr) for t, thr in server.attempts if t >= half]
    elapsed = times[-1] - half
    assert elapsed > 0
    attempt_rate = len(late) / elapsed
    assert attempt_rate <= budget * 1.05, attempt_rate
    # and the retry loop is no longer carrying the load: past the
    # settling phase, throttles are rare budget probes (AIMD re-probe
    # by design), not a steady diet
    q3 = times[3 * len(times) // 4]
    late_q = [(t, thr) for t, thr in server.attempts if t >= q3]
    frac = sum(thr for _, thr in late_q) / len(late_q)
    assert frac <= 0.05, frac
    # the interval settled near the budget's implied spacing, not the cap
    assert rl.min_interval_s < rl._cap


def test_retry_after_adoption_jumps_to_the_advertised_floor():
    """A Retry-After hint replaces the multiplicative guess: the
    interval jumps straight to the advertised value; a hint at/below
    the current interval falls through to the blind widen so
    adaptation never stalls on a stale advertisement (VERDICT r9 #5)."""
    rl = RateLimiter(min_interval_s=0.01)
    rl.on_throttle(retry_after_s=0.75)
    assert rl.min_interval_s == 0.75  # one jump, not log2(0.75/0.05) widens
    before = rl.min_interval_s
    rl.on_throttle(retry_after_s=0.5)  # stale hint below current
    assert rl.min_interval_s == before * notion_client._WIDEN_FACTOR  # blind widen
    # decay probes back toward the base as usual
    for _ in range(2000):
        rl.on_success()
    assert rl.min_interval_s == 0.01


def _run_converge(advertise: bool):
    clock = VirtualClock()
    budget = 20.0
    server = BudgetTransport(budget, clock, advertise=advertise)
    rl = RateLimiter(min_interval_s=0.005, clock=clock)
    client = NotionClient(server, rl)
    for i in range(400):
        client.upload_block("b", i)
    times = [t for t, _ in server.attempts]
    half = times[len(times) // 2]
    late = [(t, thr) for t, thr in server.attempts if t >= half]
    attempt_rate = len(late) / (times[-1] - half)
    n_throttles = sum(thr for _, thr in server.attempts)
    return attempt_rate, n_throttles


def test_advertised_retry_after_converges_faster_than_blind_widen(monkeypatch):
    """Same server budget, same base overshoot: with Retry-After
    advertised the pacer reaches a compliant rate with FEWER total
    429s than blind multiplicative widening, and still converges under
    the budget (VERDICT r9 #5 'Done' criterion)."""
    monkeypatch.setattr(notion_client, "_MIN_THROTTLE_INTERVAL_S", 0.005)
    budget = 20.0
    rate_hint, thr_hint = _run_converge(advertise=True)
    rate_blind, thr_blind = _run_converge(advertise=False)
    assert rate_hint <= budget * 1.05
    assert rate_blind <= budget * 1.05
    assert thr_hint < thr_blind, (thr_hint, thr_blind)


def test_http_transport_throttle_counter_pops():
    """Every 429 the urllib3 transport meets is counted by the pacer
    exactly once (unit-level: the transport's pool is stubbed, no
    socket): two 429s widen the interval twice, the success decays it
    once, and pickling never ships the per-process pool."""
    import pickle
    from types import SimpleNamespace

    import pytest

    from mediawiki_to_notion_spark.streaming.http_transport import (
        HAVE_URLLIB3,
        HttpTransport,
    )
    if not HAVE_URLLIB3:
        pytest.skip("urllib3 not available")

    class _Pool:
        def __init__(self, statuses):
            self.statuses, self.calls = list(statuses), 0

        def request(self, method, url, body=None, headers=None,
                    retries=None):
            assert retries is False  # the transport never retries itself
            self.calls += 1
            status = self.statuses.pop(0) if self.statuses else 200
            return SimpleNamespace(status=status, headers={}, data=b"{}")

    t = HttpTransport("http://localhost:1")
    t._pool = pool = _Pool([429, 429])
    rl = RateLimiter(min_interval_s=0.0, clock=VirtualClock())
    NotionClient(t, rl).upload_block("b", 0, block_json="{}", page_url="u")
    assert pool.calls == 3
    assert rl.min_interval_s == pytest.approx(
        0.1 * notion_client._DECAY_FACTOR)
    t2 = pickle.loads(pickle.dumps(t))
    assert t2._pool is None


def test_drain_e2e_with_adaptive_pacing(spark, tmp_path):
    """End-to-end: the upload drain survives a 429 burst (retries absorb
    it, the limiter widens) and every page lands SUCCESS — pacing
    changes timing, never outcomes."""
    import pyspark.sql.functions as F

    from mediawiki_to_notion_spark.streaming import ingest
    from mediawiki_to_notion_spark.streaming.notion_client import (
        ScriptedTransport,
    )
    from mediawiki_to_notion_spark.streaming.upload import (
        UploadConfig,
        drain,
    )

    staged = spark.createDataFrame(
        [(f"wiki/p{i}.md", f"# T{i}\n\nbody {i}\n\n- a\n- b\n")
         for i in range(3)],
        "s3_object_key string, markdown string",
    )
    tables_dir = str(tmp_path / "tables")
    ingest.ingest_batch(spark, staged, tables_dir)
    batch = ingest.blocks_table(spark, tables_dir).read().first().batch_id
    tr = ScriptedTransport(script={f"block:{batch}:1": [429, 429]})
    cfg = UploadConfig(transport=tr, min_interval_s=0.001)
    assert drain(spark, tables_dir, cfg) >= 1
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert {p.status for p in pages} == {"SUCCESS"}
    blocks = ingest.blocks_table(spark, tables_dir).read()
    assert blocks.filter(F.col("uploaded_at").isNull()).count() == 0
