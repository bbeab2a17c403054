"""End-to-end 3-stage pipeline throughput bench (VERDICT r6 brief #2).

BENCH_r* measures the analytical query library; the reference's
raison d'etre is the document pipeline (process-mw-dump.py:389-398 →
store_notion_blocks.py:75-169 → upload_notion_blocks.py:255-337).
This tool measures that chain end to end:

- **stage 1, process-dump (docs/s)** — a synthesized MediaWiki XML
  dump (one ns-0 page per sf document, the pipeline_prepare_convert
  wikitext construct so the rule chain / fencer / converter all do
  real work) through the FULL Phase-1 plan: split-parallel XML scan →
  namespace router → rule chain + fencer → title/filename projections
  → GFM conversion → markdown written to parquet (the reference
  writes .md files; the write is part of the pipeline).
- **stage 2, ingest (blocks/s)** — stage 1's markdown through the
  md2notion block parser + insert-only upsert into the blocks/pages
  state tables (store_notion_blocks.py semantics).
- **stage 3, upload drain (blocks/s)** — a bounded page slice drained
  through the REAL urllib3 HttpTransport against a live local HTTP
  server, at the reference's 1-wide parallelism
  (ConcurrentAccessLimit=1), then swept over parallelism 1/2/4/8 up to
  the host's core count (the engine's scale path).  Throughput here is RTT-bound and corpus-independent by
  construction; it is measured per SF anyway so the exponent is
  observed, not asserted.

Runs at sf0.1 (/root/testdata) and the synthesized 10x sf1
(tools/make_scale_data.py output) and reports per-stage scaling
exponents log10(t_sf1 / t_sf0.1), the SCALING.md discipline.

Output: one JSON line to stdout + PIPELINE_BENCH.json at the repo
root; bench.py embeds that file as the `pipeline_throughput` section
of its own JSON so the driver's BENCH_r{N}.json carries it.
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
from xml.sax.saxutils import escape

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(ROOT, ".scale", "sf1")
UPLOAD_PAGES = 200  # bounded stage-3 slice (throughput, not volume)


def synth_dump(sf_dir: str, out_path: str, limit: int | None = None) -> int:
    """documents.parquet → one MediaWiki XML dump file; returns pages."""
    import duckdb

    sys.path.insert(0, ROOT)
    from mediawiki_to_notion_spark.operators.pipeline_queries import (
        _synth_wikitext_py,
    )

    con = duckdb.connect()
    src = f"{sf_dir}/documents.parquet"
    if os.path.isdir(src):  # Spark directory-parquet (.scale/sf1 layout)
        src = f"{src}/*.parquet"
    q = (
        "SELECT doc_id, lang, text FROM "
        f"read_parquet('{src}') ORDER BY doc_id"
    )
    if limit:
        q += f" LIMIT {limit}"
    recs = con.execute(q).fetchall()
    con.close()
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(
            '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">\n'
            "  <siteinfo><namespaces>\n"
            '    <namespace key="0" />\n'
            '    <namespace key="14">Category</namespace>\n'
            "  </namespaces></siteinfo>\n"
        )
        for doc_id, lang, text in recs:
            wik = _synth_wikitext_py(doc_id, lang, text) or ""
            f.write(
                "  <page>\n"
                f"    <title>Doc {doc_id}</title>\n"
                "    <ns>0</ns>\n"
                f"    <revision><text>{escape(wik)}</text></revision>\n"
                "  </page>\n"
            )
        f.write("</mediawiki>\n")
    return len(recs)


def stage1_process_dump(spark, dump_dir: str, staged_out: str) -> dict:
    """Timed: XML dump → routed → prepared → converted → parquet."""
    from pyspark.sql import functions as F

    from mediawiki_to_notion_spark.functions.gfm_convert import (
        CONVERT_DDL_SUFFIX,
        convert_batches,
    )
    from mediawiki_to_notion_spark.plans.pipeline import (
        prepare_pages,
        route_pages,
    )
    from mediawiki_to_notion_spark.sources.xml_dump import (
        read_dump,
        split_pages_files,
    )

    t0 = time.time()
    raw = read_dump(spark, dump_dir)
    pages, _files = split_pages_files(raw)
    prepared = prepare_pages(route_pages(pages))
    staged = prepared.select(
        F.concat(F.lit("wiki/"), F.col("filename"), F.lit(".md"))
        .alias("s3_object_key"),
        "cleaned",
    )
    converted = staged.mapInPandas(
        convert_batches,
        f"s3_object_key string, cleaned string, {CONVERT_DDL_SUFFIX}",
    ).select("s3_object_key", "markdown")
    converted.write.mode("overwrite").parquet(staged_out)
    wall = time.time() - t0
    n_docs = spark.read.parquet(staged_out).count()
    return {"n_docs": n_docs, "wall_s": round(wall, 3),
            "docs_per_s": round(n_docs / wall, 1)}


def stage2_ingest(spark, staged_parquet: str, tables_dir: str) -> dict:
    """Timed: markdown → block rows → insert-only upsert state tables."""
    from mediawiki_to_notion_spark.streaming import ingest

    staged = spark.read.parquet(staged_parquet)
    t0 = time.time()
    ingest.ingest_batch(spark, staged, tables_dir)
    wall = time.time() - t0
    n_blocks = ingest.blocks_table(spark, tables_dir).read().count()
    n_pages = ingest.pages_table(spark, tables_dir).read().count()
    return {"n_pages": n_pages, "n_blocks": n_blocks,
            "wall_s": round(wall, 3),
            "blocks_per_s": round(n_blocks / wall, 1)}


class _OkHandler(BaseHTTPRequestHandler):
    server_version = "notion-bench/0"
    # keep-alive (r10): HTTP/1.0's close-per-request forces one TCP
    # accept per API call through the single accept loop — at p16/p32
    # the backlog (default 5) overflows and connect REFUSALS masquerade
    # as API failures (drain soak: 26 of 250k at p32).  Real APIs and
    # the reference's urllib3 both hold keep-alive connections.
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY (r11): the response is two socket writes (the header
    # buffer flushed by end_headers, then the body) — with Nagle on,
    # the body segment waits for the delayed ACK of the header segment,
    # a ~45 ms stall PER REQUEST on loopback (measured: 65.3 → 22.3
    # ms/req at 20 ms injected RTT with this one line).  This is what
    # capped the r10 drain soak at parallel_efficiency ~0.25 flat
    # across p8/p16/p32 — mock-server artifact, not sink overhead.
    # Real APIs disable Nagle on response sockets as a matter of course.
    disable_nagle_algorithm = True
    latency_s = 0.0  # injected per-request service time (class attr,
    # set on a per-server subclass by _make_server)

    def _handle(self) -> None:
        length = int(self.headers.get("Content-Length", 0))
        self.rfile.read(length)
        if self.latency_s:
            time.sleep(self.latency_s)
        payload = json.dumps(
            {"ok": True, "url": f"http://notion.bench{self.path}"}
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


def _make_server(latency_s: float = 0.0) -> ThreadingHTTPServer:
    handler = type("_H", (_OkHandler,), {"latency_s": latency_s})
    server = type("_S", (ThreadingHTTPServer,),
                  {"request_queue_size": 128})
    return server(("127.0.0.1", 0), handler)


def stage3_upload(spark, staged_parquet: str, scratch: str,
                  parallelism: int, n_pages: int = UPLOAD_PAGES,
                  latency_s: float = 0.0,
                  min_interval_s: float = 0.0) -> dict:
    """Timed: drain a bounded page slice through the real HTTP
    transport against a live local server.

    ``latency_s`` injects a per-request service time so parallelism is
    OBSERVABLE (VERDICT r7 brief #4: with a zero-RTT local server the
    per-pass fixed costs dominate and p1 vs p8 measures nothing);
    ``min_interval_s`` paces each shard's client, so the global request
    budget is parallelism / min_interval_s req/s."""
    from pyspark.sql import functions as F

    from mediawiki_to_notion_spark.streaming import ingest
    from mediawiki_to_notion_spark.streaming.http_transport import HttpTransport
    from mediawiki_to_notion_spark.streaming.upload import (
        UploadConfig,
        run_upload,
    )

    tables_dir = os.path.join(
        scratch,
        f"upload_tables_p{parallelism}_n{n_pages}"
        f"_l{int(latency_s * 1000)}_i{int(min_interval_s * 1000)}")
    staged = spark.read.parquet(staged_parquet)
    keys = [r.s3_object_key for r in staged.select("s3_object_key")
            .orderBy("s3_object_key").limit(n_pages).collect()]
    slice_df = staged.filter(F.col("s3_object_key").isin(keys))
    ingest.ingest_batch(spark, slice_df, tables_dir)
    n_blocks = ingest.blocks_table(spark, tables_dir).read().count()

    srv = _make_server(latency_s)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = UploadConfig(
            transport=HttpTransport(base),
            max_blocks=10_000,
            min_interval_s=min_interval_s,
            upload_parallelism=parallelism,
        )
        t0 = time.time()
        results = run_upload(spark, tables_dir, cfg)
        n_ok = results.filter("ok").count()
        wall = time.time() - t0
    finally:
        srv.shutdown()
        srv.server_close()
    assert n_ok == n_blocks, f"upload failed: {n_ok}/{n_blocks}"
    row = {"n_pages": n_pages, "n_blocks": n_blocks,
           "parallelism": parallelism, "wall_s": round(wall, 3),
           "blocks_per_s": round(n_blocks / wall, 1)}
    if latency_s:
        row["latency_ms"] = round(latency_s * 1000, 1)
    if min_interval_s:
        row["min_interval_ms"] = round(min_interval_s * 1000, 1)
        row["global_budget_req_s"] = round(parallelism / min_interval_s, 1)
    return row


def main() -> None:
    sys.path.insert(0, ROOT)
    from mediawiki_to_notion_spark.session import get_spark, host_cpus

    loadavg = list(os.getloadavg())
    cpus = host_cpus()
    spark = get_spark("pipeline_bench")
    scratch = tempfile.mkdtemp(prefix="pipeline_bench_")
    out: dict = {
        "metric": "pipeline_throughput",
        "loadavg_start": [round(x, 2) for x in loadavg],
        "cpus": cpus,
        "upload_pages": UPLOAD_PAGES,
        "sfs": {},
    }
    try:
        # warm-up: tiny dump through all three stages (codegen, Arrow
        # workers, parquet committers, HTTP pool)
        wdir = os.path.join(scratch, "warm")
        os.makedirs(wdir)
        synth_dump(SF01, os.path.join(wdir, "dump.xml"), limit=100)
        sp = os.path.join(scratch, "warm_staged")
        stage1_process_dump(spark, wdir, sp)
        stage2_ingest(spark, sp, os.path.join(scratch, "warm_tables"))

        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            if not os.path.isdir(sf_dir):
                print(f"skip {label}: {sf_dir} missing", file=sys.stderr)
                continue
            ddir = os.path.join(scratch, f"dump_{label}")
            os.makedirs(ddir)
            n = synth_dump(sf_dir, os.path.join(ddir, "dump.xml"))
            staged = os.path.join(scratch, f"staged_{label}")
            s1 = stage1_process_dump(spark, ddir, staged)
            s2 = stage2_ingest(
                spark, staged, os.path.join(scratch, f"tables_{label}"))
            # reference-semantics row only (politeness=1, zero-RTT
            # server): the r7 p1-vs-p8 pair at zero RTT measured
            # nothing but per-pass fixed costs (VERDICT r7 #4) — the
            # real parallel-scaling table runs once below, with an
            # injected per-request service time
            s3 = [stage3_upload(spark, staged,
                                os.path.join(scratch, label), 1)]
            out["sfs"][label] = {
                "n_source_docs": n,
                "process_dump": s1,
                "ingest": s2,
                "upload_drain": s3,
            }
            print(f"{label}: {json.dumps(out['sfs'][label])}",
                  file=sys.stderr, flush=True)

        # Upload-drain parallel scaling (VERDICT r7 brief #4): 10x the
        # page slice, 20 ms injected per-request service time (so wall
        # is request-bound: ~4 requests/page — 1 page-create + ~3 block
        # appends).  Expect wall ~ n_requests * latency / parallelism
        # until the politeness budget binds: each shard's RateLimiter
        # paces ITS OWN client at 1/min_interval_s req/s, so the global
        # budget is parallelism / min_interval_s — the final row pins
        # that bound at the top point p_max with 80 ms pacing (at p8,
        # 100 req/s global caps ~8k requests at >= ~80 s regardless of
        # latency).  Points above the core count are dropped: local[cpus]
        # runs at most cpus sink shards at once, so p > cpus measures
        # the cores, not the sink.
        if "sf0.1" in out["sfs"]:
            staged = os.path.join(scratch, "staged_sf0.1")
            lat = 0.02
            ps = [p for p in (1, 2, 4, 8) if p <= cpus]
            sweep = [
                stage3_upload(spark, staged, os.path.join(scratch, "lat"),
                              p, n_pages=10 * UPLOAD_PAGES, latency_s=lat)
                for p in ps
            ]
            bound = stage3_upload(
                spark, staged, os.path.join(scratch, "lat"), ps[-1],
                n_pages=10 * UPLOAD_PAGES, latency_s=lat,
                min_interval_s=0.08)
            out["upload_parallel_scaling"] = {
                "latency_ms": lat * 1000,
                "n_pages": 10 * UPLOAD_PAGES,
                "sweep": sweep,
                "politeness_bound": bound,
                "p_max": ps[-1],
                "speedup_pmax_over_p1": round(
                    sweep[0]["wall_s"] / sweep[-1]["wall_s"], 2),
            }
            print(f"parallel scaling: "
                  f"{json.dumps(out['upload_parallel_scaling'])}",
                  file=sys.stderr, flush=True)

        if "sf0.1" in out["sfs"] and "sf1" in out["sfs"]:
            a, b = out["sfs"]["sf0.1"], out["sfs"]["sf1"]
            out["exponents"] = {
                "process_dump": round(math.log(
                    b["process_dump"]["wall_s"]
                    / a["process_dump"]["wall_s"]) / math.log(10), 3),
                "ingest": round(math.log(
                    b["ingest"]["wall_s"]
                    / a["ingest"]["wall_s"]) / math.log(10), 3),
                # same bounded slice both SFs: exponent ~0 expected
                "upload_drain_p1": round(math.log(
                    b["upload_drain"][0]["wall_s"]
                    / a["upload_drain"][0]["wall_s"]) / math.log(10), 3),
            }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    with open(os.path.join(ROOT, "PIPELINE_BENCH.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
