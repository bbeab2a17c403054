"""Real HTTP transport for the Notion sink (urllib3).

``request`` makes one HTTP attempt (``retries=False``): a 200 returns the
decoded body, any other status raises ``HTTPStatusError`` carrying the
reply's ``Retry-After`` in seconds (parsed by urllib3's own
``Retry.parse_retry_after``), and any urllib3 error raises
``TransportError``.  The reference's retry discipline
(upload_notion_blocks.py:157-184) lives in one place,
:meth:`NotionClient._call`, which drives this transport and
:class:`ScriptedTransport` alike.

Op-key → HTTP mapping (the Notion API surface the reference touches via
notion-py / md2notion):

    page:<batch>          POST  {base}/v1/pages            create page
    block:<batch>:<idx>   PATCH {base}/v1/blocks/children  append block

Picklable: the PoolManager is excluded from state and rebuilt lazily in
each Spark worker process (the per-executor warm-start of
upload_notion_blocks.py:51).
"""

from __future__ import annotations

import json

from mediawiki_to_notion_spark.streaming.notion_client import (
    HTTPStatusError,
    TransportError,
)

try:  # urllib3 ships with requests; guard anyway for minimal images
    import urllib3
    from urllib3.exceptions import HTTPError as _U3HTTPError
    from urllib3.util import Retry

    HAVE_URLLIB3 = True
except ImportError:  # pragma: no cover
    urllib3 = None
    _U3HTTPError = None
    Retry = None
    HAVE_URLLIB3 = False


def _retry_after_s(resp) -> float | None:
    header = resp.headers.get("Retry-After")
    if header is None:
        return None
    try:
        return Retry().parse_retry_after(header)
    except _U3HTTPError:  # InvalidHeader: treat as not advertised
        return None


class HttpTransport:
    """urllib3-backed Notion API transport (see module docstring)."""

    def __init__(self, base_url: str, token: str = "",
                 timeout_s: float = 10.0) -> None:
        if not HAVE_URLLIB3:  # pragma: no cover
            raise ImportError("urllib3 is required for HttpTransport")
        self.base_url = base_url.rstrip("/")
        self.token = token
        self.timeout_s = timeout_s
        self._pool = None

    # -- pickling: pool is per-process, never shipped ------------------------

    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        state["_pool"] = None
        return state

    def _http(self):
        if self._pool is None:
            self._pool = urllib3.PoolManager(
                timeout=urllib3.Timeout(total=self.timeout_s),
            )
        return self._pool

    # -- op-key routing ------------------------------------------------------

    def _route(self, op_key: str, payload: dict | None) -> tuple[str, str, bytes]:
        payload = payload or {}
        if op_key.startswith("page:"):
            batch_id = op_key.split(":", 1)[1]
            body = {
                "batch_id": batch_id,
                "parent_url": payload.get("parent_url"),
                "title": payload.get("title"),
            }
            return "POST", f"{self.base_url}/v1/pages", json.dumps(body).encode()
        if op_key.startswith("block:"):
            _, batch_id, idx = op_key.split(":", 2)
            body = {
                "batch_id": batch_id,
                "block_index": int(idx),
                "block": payload.get("block_json"),
                "page_url": payload.get("page_url"),
            }
            return ("PATCH", f"{self.base_url}/v1/blocks/children",
                    json.dumps(body).encode())
        raise ValueError(f"unknown op_key {op_key!r}")

    def request(self, op_key: str, payload: dict | None = None) -> dict:
        method, url, body = self._route(op_key, payload)
        headers = {"Content-Type": "application/json"}
        if self.token:
            headers["Authorization"] = f"Bearer {self.token}"
        try:
            resp = self._http().request(method, url, body=body,
                                        headers=headers, retries=False)
        except _U3HTTPError as exc:
            raise TransportError(str(exc)) from exc
        if resp.status != 200:
            raise HTTPStatusError(resp.status,
                                  retry_after_s=_retry_after_s(resp))
        try:
            data = json.loads(resp.data.decode() or "{}")
        except ValueError:
            data = {}
        data.setdefault("ok", True)
        data.setdefault("url", f"{self.base_url}/{op_key}")
        return data
