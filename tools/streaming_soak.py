"""Streaming scale soak (VERDICT r6 brief #7): the r6 soak measured
the BATCH library over a real 10x; this measures the chained
exactly-once STREAMING pipeline (streaming/ingest.py
start_pipeline_stream — file arrival → block ingest → upload drain
through the real urllib3 HttpTransport against a live local HTTP
server) the same way:

- an N-file and a 10N-file markdown tree (N=STREAM_SOAK_N, default
  500), each drained by one availableNow pass: end-to-end wall time,
  blocks/s, state-store and checkpoint sizes, and the
  log10(t_10N / t_N) exponent;
- an injected mid-stream worker kill (a transport that raises
  WorkerCrash exactly once, flag-file keyed so retries/replays
  succeed): the failed micro-batch must NOT commit, the next pass must
  auto-requeue the ABORTED pages, and the final state must be
  EXACTLY-ONCE — every page SUCCESS, every block consumed exactly
  once, no duplicate (batch_id, block_index) rows — which the tool
  verifies and records as booleans.

Output: one JSON line + STREAMING_SOAK.json at the repo root (the
SCALING.md §streaming entry is maintained from it).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools._harness import idle_gate, loadavg  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
N_FILES = int(os.environ.get("STREAM_SOAK_N", "500"))
PARALLELISM = int(os.environ.get("STREAM_SOAK_PARALLELISM", "8"))
# r9 (VERDICT r8 brief #5): the soak is decade-parameterized — pass
# STREAM_SOAK_SCALES=1x,10x,100x for the third decade (100x = 100*N
# files; the kill+exactly-once pass then ALSO runs at the largest
# scale) and STREAM_SOAK_OUT=STREAMING_SOAK100.json to keep the r6/r8
# artifact intact.
SCALES = os.environ.get("STREAM_SOAK_SCALES", "1x,10x").split(",")
KILL_N = int(os.environ.get("STREAM_SOAK_KILL_N", "50"))
SOAK_OUT = os.environ.get("STREAM_SOAK_OUT", "STREAMING_SOAK.json")
_MULT = {"1x": 1, "10x": 10, "100x": 100}


class _OkHandler(BaseHTTPRequestHandler):
    server_version = "notion-soak/0"
    protocol_version = "HTTP/1.1"  # keep-alive; see pipeline_bench

    def _handle(self) -> None:
        length = int(self.headers.get("Content-Length", 0))
        self.rfile.read(length)
        payload = json.dumps(
            {"ok": True, "url": f"http://notion.soak{self.path}"}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    do_POST = _handle
    do_PATCH = _handle

    def log_message(self, *args):  # noqa: D102 - quiet
        pass


def _build_tree(dst: str, n_files: int) -> int:
    """n markdown files from the documents corpus: heading + paragraph
    + bullet list -> >=3 Notion blocks per page."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    recs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    for i in range(n_files):
        doc_id, text = recs[i % len(recs)]
        body = (text or "")[:160]
        md = (
            f"# Doc {i}\n\n{body}\n\n"
            f"- first point of doc {i}\n- second point ({doc_id})\n"
        )
        with open(os.path.join(dst, f"doc_{i:06d}.md"), "w") as f:
            f.write(md)
    return n_files


def _dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


class CrashOnceTransport:
    """Real HTTP transport that raises WorkerCrash the FIRST time it
    sees a block op whose key ends with ``crash_suffix`` (flag-file
    keyed, so Spark task retries and the streaming replay succeed —
    one injected kill, total)."""

    def __init__(self, base_url: str, crash_suffix: str,
                 flag_path: str) -> None:
        from mediawiki_to_notion_spark.streaming.http_transport import (
            HttpTransport,
        )

        self._inner = HttpTransport(base_url)
        self.crash_suffix = crash_suffix
        self.flag_path = flag_path

    def request(self, op_key: str, payload: dict | None = None) -> dict:
        if (op_key.startswith("block:")
                and op_key.endswith(self.crash_suffix)
                and not os.path.exists(self.flag_path)):
            with open(self.flag_path, "w"):
                pass
            from mediawiki_to_notion_spark.streaming.notion_client import (
                WorkerCrash,
            )

            raise WorkerCrash(f"injected kill at {op_key}")
        return self._inner.request(op_key, payload)


def _run_pass(spark, inbox: str, scratch: str, label: str,
              transport) -> dict:
    from mediawiki_to_notion_spark.streaming import ingest
    from mediawiki_to_notion_spark.streaming.upload import UploadConfig

    tables_dir = os.path.join(scratch, f"tables_{label}")
    ckpt = os.path.join(scratch, f"ckpt_{label}")
    cfg = UploadConfig(transport=transport, max_blocks=10_000,
                       upload_parallelism=PARALLELISM)
    t0 = time.time()
    q = ingest.start_pipeline_stream(spark, inbox, tables_dir, ckpt, cfg)
    ok = q.awaitTermination(1800)
    wall = time.time() - t0
    pages = ingest.pages_table(spark, tables_dir).read()
    blocks = ingest.blocks_table(spark, tables_dir).read()
    n_pages = pages.count()
    n_blocks = blocks.count()
    return {
        "terminated": bool(ok),
        "wall_s": round(wall, 3),
        "n_pages": n_pages,
        "n_blocks": n_blocks,
        "blocks_per_s": round(n_blocks / wall, 1),
        "state_store_bytes": _dir_size(tables_dir),
        "checkpoint_bytes": _dir_size(ckpt),
        "tables_dir": tables_dir,
        "ckpt": ckpt,
    }


def main() -> None:
    from pyspark.sql import functions as F

    from mediawiki_to_notion_spark.session import get_spark
    from mediawiki_to_notion_spark.streaming import ingest
    from mediawiki_to_notion_spark.streaming.upload import UploadConfig

    gate = idle_gate()
    loadavg_start = loadavg()
    spark = get_spark("streaming_soak")
    scratch = tempfile.mkdtemp(prefix="streaming_soak_")
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _OkHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    out: dict = {
        "metric": "streaming_pipeline_soak",
        "loadavg_start": loadavg_start,
        **gate,
        "n_files": N_FILES,
        "scales": SCALES,
        "upload_parallelism": PARALLELISM,
    }
    try:
        from mediawiki_to_notion_spark.streaming.http_transport import (
            HttpTransport,
        )

        # warm pass (codegen, Arrow workers, HTTP pools)
        winbox = os.path.join(scratch, "inbox_warm")
        _build_tree(winbox, 20)
        _run_pass(spark, winbox, scratch, "warm", HttpTransport(base))

        for label in SCALES:
            n = N_FILES * _MULT[label]
            inbox = os.path.join(scratch, f"inbox_{label}")
            _build_tree(inbox, n)
            r = _run_pass(spark, inbox, scratch, label, HttpTransport(base))
            r.pop("tables_dir"), r.pop("ckpt")
            out[label] = r
            print(f"{label}: {json.dumps(r)}", file=sys.stderr, flush=True)
        for lo, hi in zip(SCALES, SCALES[1:]):
            out[f"exponent_wall_{lo}_{hi}"] = round(
                math.log(out[hi]["wall_s"] / out[lo]["wall_s"])
                / math.log(_MULT[hi] / _MULT[lo]), 3)
        if "10x" in out and "1x" in out:
            out["exponent_wall"] = round(
                math.log(out["10x"]["wall_s"] / out["1x"]["wall_s"])
                / math.log(10), 3)

        # --- injected mid-stream kill + exactly-once verification ----
        # batch_ids are content-addressed at ingest time, so the kill is
        # keyed by SHAPE, not id: the first `block:<batch>:1` op any
        # worker sees (i.e. a genuinely mid-page, mid-stream call)
        # crashes once; the flag file makes task retries and the
        # streaming replay succeed.
        # the kill pass runs at the LARGEST soaked scale when the
        # third decade is requested (brief #5: exactly-once AT volume),
        # else at the small default
        kill_n = (N_FILES * _MULT[SCALES[-1]]
                  if os.environ.get("STREAM_SOAK_KILL_AT_SCALE") == "1"
                  else KILL_N)
        out["kill_n_files"] = kill_n
        inbox = os.path.join(scratch, "inbox_kill")
        _build_tree(inbox, kill_n)
        tables_dir = os.path.join(scratch, "tables_kill")
        ckpt = os.path.join(scratch, "ckpt_kill")
        kill_tr = CrashOnceTransport(
            base, crash_suffix=":1", flag_path=os.path.join(
                scratch, "crash_flag"))
        cfg = UploadConfig(transport=kill_tr, max_blocks=10_000,
                           upload_parallelism=PARALLELISM)
        q = ingest.start_pipeline_stream(spark, inbox, tables_dir, ckpt, cfg)
        kill_failed = False
        try:
            q.awaitTermination(3600)
        except Exception:
            kill_failed = True
        finally:
            q.stop()
        aborted = {
            p.status
            for p in ingest.pages_table(spark, tables_dir).read().collect()
        }
        # healthy replay: the failed batch was never committed
        q = ingest.start_pipeline_stream(
            spark, inbox, tables_dir, ckpt,
            UploadConfig(transport=kill_tr, max_blocks=10_000,
                         upload_parallelism=PARALLELISM))
        replay_ok = bool(q.awaitTermination(3600))
        pages = ingest.pages_table(spark, tables_dir).read()
        blocks = ingest.blocks_table(spark, tables_dir).read()
        n_pages = pages.count()
        n_blocks = blocks.count()
        n_distinct = blocks.select("batch_id", "block_index").distinct().count()
        n_consumed = blocks.filter(F.col("uploaded_at").isNotNull()).count()
        statuses = {r.status for r in pages.select("status").distinct().collect()}
        out["kill_recovery"] = {
            "stream_failed_on_kill": kill_failed,
            "statuses_after_kill": sorted(aborted),
            "replay_terminated": replay_ok,
            "n_pages": n_pages,
            "all_success": statuses == {"SUCCESS"},
            "blocks_rows": n_blocks,
            "blocks_distinct_keys": n_distinct,
            "blocks_consumed_once": n_consumed,
            "exactly_once": (statuses == {"SUCCESS"}
                             and n_blocks == n_distinct == n_consumed),
        }
        print(f"kill: {json.dumps(out['kill_recovery'])}",
              file=sys.stderr, flush=True)
    finally:
        srv.shutdown()
        srv.server_close()
        shutil.rmtree(scratch, ignore_errors=True)

    with open(os.path.join(ROOT, SOAK_OUT), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
