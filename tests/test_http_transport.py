"""Contract tests for the real urllib3 transport (FIXTURES A7 on real HTTP):
the transport makes one attempt per call, and NotionClient's retry loop
must map live 429/5xx/404/connect-error behavior onto exactly the retry
matrix the ScriptedTransport suite pins (upload_notion_blocks.py:157-184
— 5 status retries, backoff 0.2, no connect retries)."""

from __future__ import annotations

import json
import pickle
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from mediawiki_to_notion_spark.streaming.http_transport import (
    HAVE_URLLIB3,
    HttpTransport,
)
from mediawiki_to_notion_spark.streaming import notion_client
from mediawiki_to_notion_spark.streaming.notion_client import (
    HTTPStatusError,
    NotionClient,
    RateLimiter,
    TransportError,
)

pytestmark = pytest.mark.skipif(not HAVE_URLLIB3, reason="urllib3 absent")


class _ScriptedHandler(BaseHTTPRequestHandler):
    """Server-side twin of ScriptedTransport: per-op status scripts."""

    server_version = "notion-fake/0"

    def _op_key(self, body: dict) -> str:
        if self.path.endswith("/v1/pages"):
            return f"page:{body['batch_id']}"
        return f"block:{body['batch_id']}:{body['block_index']}"

    def _handle(self) -> None:
        length = int(self.headers.get("Content-Length", 0))
        body = json.loads(self.rfile.read(length) or b"{}")
        op_key = self._op_key(body)
        srv = self.server
        with srv.lock:
            n = srv.calls.get(op_key, 0)
            srv.calls[op_key] = n + 1
            srv.bodies.setdefault(op_key, []).append(body)
            statuses = srv.script.get(op_key, [])
            status = statuses[n] if n < len(statuses) else 200
        self.send_response(status)
        if status == 429 and getattr(srv, "retry_after", None) is not None:
            self.send_header("Retry-After", str(srv.retry_after))
        payload = json.dumps(
            {"ok": status == 200, "url": f"http://notion.fake/{op_key}"}
        ).encode()
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    do_POST = _handle
    do_PATCH = _handle

    def log_message(self, *args):  # keep pytest output clean
        pass


@pytest.fixture()
def fake_api():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _ScriptedHandler)
    srv.script, srv.calls, srv.bodies = {}, {}, {}
    srv.lock = threading.Lock()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv, f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()


def test_retry_429_then_success_over_http(fake_api):
    srv, base = fake_api
    srv.script["block:b:0"] = [429, 429]
    client = NotionClient(HttpTransport(base), RateLimiter(0))
    client.upload_block("b", 0, block_json="{}", page_url="u")
    assert srv.calls["block:b:0"] == 3


def test_transport_makes_a_single_attempt(fake_api):
    """The transport never retries on its own: a direct 503 is one
    server call, so the client's loop cannot stack on a second one."""
    srv, base = fake_api
    srv.script["block:b:0"] = [503] * 10
    with pytest.raises(HTTPStatusError) as exc:
        HttpTransport(base).request("block:b:0", {"block_json": "{}"})
    assert exc.value.status == 503 and exc.value.retry_after_s is None
    assert srv.calls["block:b:0"] == 1


def test_status_retries_exhausted_over_http(fake_api):
    srv, base = fake_api
    srv.script["block:b:0"] = [502] * 10
    client = NotionClient(HttpTransport(base), RateLimiter(0))
    with pytest.raises(HTTPStatusError) as exc:
        client.upload_block("b", 0)
    assert exc.value.status == 502
    # 1 initial + 5 status retries — identical to the ScriptedTransport matrix
    assert srv.calls["block:b:0"] == 6


def test_retry_after_header_respected(fake_api):
    """A 429 carrying Retry-After must delay the retry by at least that
    long (the API-politeness contract Notion relies on;
    respect_retry_after_header in the reference policy)."""
    import time

    srv, base = fake_api
    srv.script["block:ra:0"] = [429]
    srv.retry_after = 1
    client = NotionClient(HttpTransport(base), RateLimiter(0))
    t0 = time.monotonic()
    client.upload_block("ra", 0)
    assert time.monotonic() - t0 >= 1.0
    assert srv.calls["block:ra:0"] == 2


def test_non_retryable_status_single_attempt(fake_api):
    srv, base = fake_api
    srv.script["page:p1"] = [404]
    client = NotionClient(HttpTransport(base), RateLimiter(0))
    with pytest.raises(HTTPStatusError) as exc:
        client.get_or_create_page("p1", "http://parent", None)
    assert exc.value.status == 404
    assert srv.calls["page:p1"] == 1


def test_connect_error_not_retried():
    # unbound port → connection refused: one TransportError, which the
    # client's loop never retries
    tr = HttpTransport("http://127.0.0.1:1", timeout_s=2)
    with pytest.raises(TransportError):
        tr.request("page:x", {"parent_url": "p", "title": "t"})
    with pytest.raises(TransportError):
        NotionClient(tr, RateLimiter(0)).get_or_create_page(
            "x", "http://parent", None)


def test_retry_after_hint_pops_and_semantics_unchanged(fake_api):
    """A 429 with Retry-After must (a) keep the verbatim retry matrix —
    one absorbed 429, one retry, success — and (b) hand the advertised
    seconds to the client's limiter through the one retry loop: the
    interval jumps to 1.0 s, and the retry's success decays it once."""
    srv, base = fake_api
    srv.script["block:rah:0"] = [429]
    srv.retry_after = 1
    rate = RateLimiter(0)
    client = NotionClient(HttpTransport(base), rate)
    client.upload_block("rah", 0, block_json="{}", page_url="u")
    assert srv.calls["block:rah:0"] == 2
    assert rate.min_interval_s == pytest.approx(
        1.0 * notion_client._DECAY_FACTOR)


def test_transport_pickles_without_pool(fake_api):
    srv, base = fake_api
    tr = HttpTransport(base, token="secret")
    tr.request("page:warm", {"parent_url": "p", "title": "t"})  # build pool
    clone = pickle.loads(pickle.dumps(tr))
    assert clone._pool is None and clone.token == "secret"
    assert clone.request("page:warm2", {"parent_url": "p", "title": "t"})["ok"]


def test_upload_sink_end_to_end_over_http(spark, tmp_path, fake_api):
    """The full Spark sink against a live (local) API: statuses flip to
    SUCCESS and every appended block carried its JSON payload."""
    from mediawiki_to_notion_spark.streaming import ingest
    from mediawiki_to_notion_spark.streaming.upload import UploadConfig, run_upload

    srv, base = fake_api
    staged = spark.createDataFrame(
        [("wiki/H.md", "# H\n\ntext\n")], "s3_object_key string, markdown string"
    )
    tables_dir = str(tmp_path / "tables")
    ingest.ingest_batch(spark, staged, tables_dir)
    results = run_upload(
        spark, tables_dir, UploadConfig(transport=HttpTransport(base))
    )
    assert results.filter("not ok").count() == 0
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert {p.status for p in pages} == {"SUCCESS"}
    block_bodies = [
        b for k, bs in srv.bodies.items() if k.startswith("block:") for b in bs
    ]
    assert block_bodies and all(b["block"] for b in block_bodies)
    assert all(b["page_url"] for b in block_bodies)
