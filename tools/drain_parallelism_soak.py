"""Upload-drain parallelism curve at the 100x corpus (VERDICT r9 brief
#4): STREAMING_SOAK100 measured the full pipeline at p8 and plateaued
~402 blocks/s; the politeness-budget math (UploadConfig:
``upload_parallelism / min_interval_s``) PREDICTS where p16/p32
saturate but was unmeasured at volume.  This tool measures it:

- synthesize the 100x block volume directly (DRAIN_SOAK_PAGES pages x
  4 blocks = 200k blocks at the default 50k — the same volume as
  STREAMING_SOAK100) and ingest it ONCE into a template state store;
- for each parallelism in DRAIN_SOAK_PARALLELISMS (8,16,32): copy the
  template tables, drain the whole corpus in one ``run_upload`` pass
  against a live local HTTP server with an injected per-request
  service time (DRAIN_SOAK_LATENCY_MS, default 20 — the r8
  pipeline-bench methodology: with zero RTT the per-pass fixed costs
  dominate and parallelism measures nothing);
- record measured blocks/s vs the RTT-bound prediction
  n_requests * latency / p, plus the parallel efficiency;
- at the HIGHEST parallelism re-verify exactly-once equality:
  every page SUCCESS, blocks_rows == distinct keys == consumed-once.

Output: DRAIN_PARALLELISM_SOAK.json + one JSON line.  UploadConfig's
docstring carries the measured saturation point.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools._harness import idle_gate, loadavg  # noqa: E402
from tools.pipeline_bench import _make_server  # noqa: E402

N_PAGES = int(os.environ.get("DRAIN_SOAK_PAGES", "50000"))
LATENCY_S = float(os.environ.get("DRAIN_SOAK_LATENCY_MS", "20")) / 1000.0
PARALLELISMS = [int(p) for p in os.environ.get(
    "DRAIN_SOAK_PARALLELISMS", "8,16,32").split(",")]


def main() -> None:
    from pyspark.sql import functions as F

    from mediawiki_to_notion_spark.session import get_spark
    from mediawiki_to_notion_spark.streaming import ingest
    from mediawiki_to_notion_spark.streaming.http_transport import (
        HttpTransport,
    )
    from mediawiki_to_notion_spark.streaming.upload import (
        UploadConfig,
        run_upload,
    )

    gate = idle_gate()
    loadavg_start = loadavg()

    spark = get_spark("drain_parallelism_soak")
    scratch = tempfile.mkdtemp(prefix="drain_soak_")
    out: dict = {
        "metric": "drain_parallelism_soak",
        "n_pages": N_PAGES,
        "latency_ms": round(LATENCY_S * 1000, 1),
        "parallelisms": PARALLELISMS,
        "loadavg_start": loadavg_start,
        **gate,
        "rows": [],
    }
    try:
        # staged markdown: 4 blocks per page (heading + paragraph +
        # two bullets) — 200k blocks at the 50k default, the
        # STREAMING_SOAK100 volume
        staged = spark.range(N_PAGES).select(
            F.format_string("inbox/doc%06d.md", F.col("id"))
            .alias("s3_object_key"),
            F.format_string(
                "# Title %06d\n\nBody paragraph for page %06d.\n\n"
                "- first bullet %06d\n- second bullet %06d\n",
                F.col("id"), F.col("id"), F.col("id"), F.col("id"),
            ).alias("markdown"),
        )
        template = os.path.join(scratch, "tables_template")
        t0 = time.time()
        ingest.ingest_batch(spark, staged, template)
        n_blocks = ingest.blocks_table(spark, template).read().count()
        out["ingest_wall_s"] = round(time.time() - t0, 3)
        out["n_blocks"] = n_blocks
        n_requests = n_blocks + N_PAGES  # block appends + page creates
        print(f"ingested {N_PAGES} pages / {n_blocks} blocks in "
              f"{out['ingest_wall_s']}s", file=sys.stderr, flush=True)

        # warm pass: small copy, lowest parallelism (codegen, Arrow
        # workers, HTTP pools)
        warm = os.path.join(scratch, "tables_warm")
        warm_staged = staged.limit(200)
        ingest.ingest_batch(spark, warm_staged, warm)
        srv = _make_server(0.0)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        run_upload(spark, warm, UploadConfig(
            transport=HttpTransport(base), max_blocks=10_000,
            upload_parallelism=PARALLELISMS[0]))
        srv.shutdown(); srv.server_close()

        for p in PARALLELISMS:
            tables = os.path.join(scratch, f"tables_p{p}")
            shutil.copytree(template, tables)
            srv = _make_server(LATENCY_S)
            threading.Thread(target=srv.serve_forever, daemon=True).start()
            base = f"http://127.0.0.1:{srv.server_address[1]}"
            la = loadavg()[0]
            try:
                cfg = UploadConfig(transport=HttpTransport(base),
                                   max_blocks=n_blocks + 1,
                                   upload_parallelism=p)
                t0 = time.time()
                results = run_upload(spark, tables, cfg)
                n_ok = results.filter("ok").count()
                wall = time.time() - t0
            finally:
                srv.shutdown(); srv.server_close()
            predicted = n_requests * LATENCY_S / p
            row = {
                "parallelism": p,
                "wall_s": round(wall, 3),
                "n_ok": n_ok,
                "blocks_per_s": round(n_blocks / wall, 1),
                "predicted_rtt_bound_wall_s": round(predicted, 1),
                "parallel_efficiency": round(predicted / wall, 3),
                "loadavg_1m_at_start": la,
            }
            out["rows"].append(row)
            print(json.dumps(row), file=sys.stderr, flush=True)

            if p == max(PARALLELISMS):
                blocks = ingest.blocks_table(spark, tables).read()
                pages = ingest.pages_table(spark, tables).read()
                n_rows = blocks.count()
                n_distinct = blocks.select(
                    "batch_id", "block_index").distinct().count()
                n_consumed = blocks.filter(
                    F.col("uploaded_at").isNotNull()).count()
                statuses = {r.status for r in
                            pages.select("status").distinct().collect()}
                out["exactly_once_at_max_p"] = {
                    "parallelism": p,
                    "all_success": statuses == {"SUCCESS"},
                    "blocks_rows": n_rows,
                    "blocks_distinct_keys": n_distinct,
                    "blocks_consumed_once": n_consumed,
                    "exactly_once": (statuses == {"SUCCESS"}
                                     and n_rows == n_distinct == n_consumed),
                }
                print(json.dumps(out["exactly_once_at_max_p"]),
                      file=sys.stderr, flush=True)
            shutil.rmtree(tables, ignore_errors=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    with open(os.path.join(ROOT, "DRAIN_PARALLELISM_SOAK.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
