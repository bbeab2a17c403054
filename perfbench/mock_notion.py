"""Mock Notion API server, run as its own process.

    python3 perfbench/mock_notion.py --seed N --port-file PATH

It answers ``POST /v1/pages`` and ``PATCH /v1/blocks/children`` the way
the upload sink's ``HttpTransport`` expects, over keep-alive HTTP/1.1
with TCP_NODELAY and no added service time.  The first attempt of a
seeded ~1% of block appends gets a 503, so the client's retry path runs
without sleeping (urllib3 retries a first failure with no backoff).

Every request is logged in memory: connection id, arrival time, reply
time, the page and block it names, and the status sent.  Control
endpoints serve the benchmark:

    GET  /_ctl/log     the log since the last reset, as JSON
    POST /_ctl/reset   clear the log and the seen-attempt set

The port chosen by the OS is written to ``--port-file`` once the server
listens.  SIGTERM stops it.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import signal
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

FAIL_SHARE = 0.01


class _State:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.lock = threading.Lock()
        self.log: list[list] = []
        self.seen: set[tuple[str, int]] = set()
        self.conn_ids = itertools.count()

    def fails_first(self, batch_id: str, block_index: int) -> bool:
        h = hashlib.blake2b(f"{self.seed}:{batch_id}:{block_index}".encode(),
                            digest_size=8).digest()
        return int.from_bytes(h, "big") < FAIL_SHARE * 2**64


def make_handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def setup(self) -> None:
            super().setup()
            self.conn_id = next(state.conn_ids)

        def log_message(self, *args) -> None:
            pass

        def _reply(self, status: int, payload: dict | list) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _api(self) -> None:
            t_in = time.perf_counter()
            body = json.loads(self.rfile.read(
                int(self.headers.get("Content-Length", 0))) or b"{}")
            batch_id = body.get("batch_id")
            if self.path == "/v1/pages":
                kind, idx, status = "page", -1, 200
            elif self.path == "/v1/blocks/children":
                kind, idx = "block", int(body.get("block_index", -1))
                with state.lock:
                    first = (batch_id, idx) not in state.seen
                    state.seen.add((batch_id, idx))
                status = 503 if first and state.fails_first(batch_id, idx) \
                    else 200
            else:
                self._reply(404, {"ok": False})
                return
            self._reply(status, {"ok": status == 200,
                                 "url": f"http://notion.mock/p/{batch_id}"})
            entry = [self.conn_id, t_in, time.perf_counter(), kind,
                     batch_id, idx, status]
            with state.lock:
                state.log.append(entry)

        def do_POST(self) -> None:
            if self.path == "/_ctl/reset":
                with state.lock:
                    state.log.clear()
                    state.seen.clear()
                self._reply(200, {"ok": True})
            else:
                self._api()

        do_PATCH = _api

        def do_GET(self) -> None:
            if self.path == "/_ctl/log":
                with state.lock:
                    log = list(state.log)
                self._reply(200, log)
            else:
                self._reply(404, {"ok": False})

    return Handler


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args()
    server_cls = type("Server", (ThreadingHTTPServer,),
                      {"request_queue_size": 128, "daemon_threads": True})
    server = server_cls(("127.0.0.1", 0), make_handler(_State(args.seed)))
    signal.signal(signal.SIGTERM,
                  lambda *_: threading.Thread(target=server.shutdown).start())
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, args.port_file)
    server.serve_forever()
    server.server_close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
