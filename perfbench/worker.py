"""One run of one workload, in a fresh process.

    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --trace 0|1 --work DIR --t0 EPOCH [--port PORT]

Started by ``run.py``, which has already written the inputs under
``DIR/inputs`` and started the mock server on PORT.  The run:

1. builds the Spark session and, unless the workload starts cold, runs
   an untimed warm-up pass; the time from ``--t0`` to the end of this is
   the set-up time;
2. runs timed passes, closed loop, until ``--seconds`` is used up (at
   least one);
3. checks every pass's outputs, outside the timed region;
4. with ``--trace 1``, runs the prefix cuts and one more pass with spans
   and the event log, derives the per-layer metrics, and keeps the spans
   in ``.perfbench-work/spans-WORKLOAD-SEED.json``.

The result goes to ``DIR/result.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import sys
import time
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import tracing as tr  # noqa: E402

WIKI_PAGES = 60
WARM_PAGES = 12
QUERY_SCALE = 0.01
MAX_BLOCKS = 50
UPLOAD_PARALLELISM = 4
STORAGE_SPANS = ("storage.upsert", "storage.append")

# The query_mix set: ROADMAP's layer groups, each query oracled.
QUERY_MIX = (
    # build-bound (eager Spark actions while the frame is built)
    "kmeans_lloyd_refine",
    # executor / shuffle-bound
    "agg_pricing_summary", "fact_dim_join_agg", "window_ordered_replay",
    # Arrow / Python-bound
    "dedup_embedding_cosine_lsh",
    # overhead-bound small queries
    "text_quality_score",
    # the pipeline's functions/ code, from parquet
    "pipeline_prepare_convert",
)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def pctl(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


# --- mock server log ------------------------------------------------------------

class Sink:
    def __init__(self, port: int) -> None:
        self.base = f"http://127.0.0.1:{port}"

    def reset(self) -> None:
        urllib.request.urlopen(urllib.request.Request(
            self.base + "/_ctl/reset", method="POST"), timeout=30).read()

    def log(self) -> list[list]:
        with urllib.request.urlopen(self.base + "/_ctl/log", timeout=30) as r:
            return json.loads(r.read())


def audit(log: list[list]) -> dict:
    """Exactly-once, in-order audit plus the sink.* counts.  Log rows are
    [conn, t_in, t_out, kind, batch_id, block_index, status]."""
    log = sorted(log, key=lambda e: e[1])
    creates: dict[str, int] = {}
    appended: dict[str, list[int]] = {}
    duplicates = out_of_order = 0
    for _c, _ti, _to, kind, batch, idx, status in log:
        if status != 200:
            continue
        if kind == "page":
            creates[batch] = creates.get(batch, 0) + 1
            duplicates += creates[batch] > 1
        else:
            seq = appended.setdefault(batch, [])
            if idx in seq:
                duplicates += 1
            elif idx != (seq[-1] + 1 if seq else 0):
                out_of_order += 1
            seq.append(idx)
    gaps: list[float] = []
    last_out: dict[int, float] = {}
    for conn, t_in, t_out, *_ in log:
        if conn in last_out:
            gaps.append((t_in - last_out[conn]) * 1000.0)
        last_out[conn] = t_out
    busy = 0.0
    cur_s = cur_e = None
    for _c, t_in, t_out, *_ in log:  # union of in-flight intervals
        if cur_e is None or t_in > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = t_in, t_out
        else:
            cur_e = max(cur_e, t_out)
    if cur_e is not None:
        busy += cur_e - cur_s
    return {
        "creates": creates, "appended": appended,
        "requests": len(log),
        "page_creates": sum(1 for e in log if e[3] == "page"),
        "block_appends": sum(1 for e in log if e[3] == "block"),
        "retried": sum(1 for e in log if e[6] != 200),
        "client_gap_ms_p50": pctl(gaps, 0.5),
        "client_gap_ms_p99": pctl(gaps, 0.99),
        "busy_s": busy,
        "duplicates": duplicates, "out_of_order": out_of_order,
    }


# --- wiki_import ---------------------------------------------------------------

class WikiImport:
    """XML dump → ``cli process-dump`` → ``cli ingest`` → ``drain()``.

    The timed pass starts cold: a user runs each command in a fresh
    process and pays the JVM's warm-up every time.  Traced runs warm up
    first, so that the traced pass and the untraced one before it are
    alike and their difference is the tracing overhead."""

    cold_start = True

    def __init__(self, spark, args, tracer: tr.Tracer) -> None:
        from mediawiki_to_notion_spark import cli
        from mediawiki_to_notion_spark.streaming.http_transport import (
            HttpTransport,
        )
        from mediawiki_to_notion_spark.streaming.upload import UploadConfig

        self.spark, self.args, self.tracer = spark, args, tracer
        self.cli = cli
        self.sink = Sink(args.port)
        self.cfg = UploadConfig(transport=HttpTransport(self.sink.base),
                                max_blocks=MAX_BLOCKS,
                                upload_parallelism=UPLOAD_PARALLELISM)
        inputs = os.path.join(args.work, "inputs")
        self.dump = os.path.join(inputs, "wiki.xml")
        self.warm_dump = os.path.join(inputs, "warm.xml")
        self.pages = gen.wiki_pages(args.seed, WIKI_PAGES)
        self.n_passes = 0
        self.stream_queries: list = []

    def op_names(self) -> list[str]:
        return ["process_dump", "ingest", "drain"]

    def _pass(self, dump: str) -> tuple[float, list[float], dict]:
        from mediawiki_to_notion_spark.streaming.upload import drain

        d = os.path.join(self.args.work, f"pass{self.n_passes}")
        self.n_passes += 1
        out, tables = os.path.join(d, "out"), os.path.join(d, "tables")
        self.sink.reset()
        t = [time.perf_counter()]
        with self.tracer.span("process_dump"):
            self.cli.main(["process-dump", "-outdir", out, dump])
        t.append(time.perf_counter())
        with self.tracer.span("ingest"):
            self.cli.main(["ingest", "--input", os.path.join(out, "Main"),
                           "--tables", tables])
        t.append(time.perf_counter())
        with self.tracer.span("upload.drain") as rec:
            rounds = drain(self.spark, tables, self.cfg)
            if rec is not None:
                rec["rounds"] = rounds
        t.append(time.perf_counter())
        # outside the timed region: what the drain left cached, then
        # unpersist so passes stay independent like separate CLI runs
        jsc = self.spark.sparkContext._jsc.sc()
        info = {"out": out, "tables": tables,
                "cached_rdds": jsc.getPersistentRDDs().size(),
                "sink": audit(self.sink.log())}
        self.spark.catalog.clearCache()
        ops = [t[i + 1] - t[i] for i in range(3)]
        return t[-1] - t[0], ops, info

    def warm_up(self) -> None:
        self._pass(self.warm_dump)

    def timed_pass(self) -> tuple[float, list[float], dict]:
        return self._pass(self.dump)

    def check(self, info: dict) -> tuple[int, int, list[str]]:
        """Every page's Markdown, blocks, status and sink trail; every
        upload's decoded bytes.  Returns (attempted, failed, reasons)."""
        from mediawiki_to_notion_spark.functions.gfm_convert import (
            convert_document,
        )
        from mediawiki_to_notion_spark.functions.markdown_blocks import (
            blocks_to_rows,
        )
        from mediawiki_to_notion_spark.functions.wikitext import (
            prepare_wikitext_py,
            safe_filename_py,
        )
        from mediawiki_to_notion_spark.streaming import ingest as ING

        out, sink = info["out"], info["sink"]
        blocks: dict[str, list[tuple]] = {}
        for r in ING.blocks_table(self.spark, info["tables"]).read().collect():
            blocks.setdefault(_base(r.s3_object_key), []).append(r)
        status = {_base(r.s3_object_key): r.status for r in
                  ING.pages_table(self.spark, info["tables"]).read().collect()}
        attempted = failed = 0
        reasons: list[str] = []

        def fail(why: str) -> None:
            nonlocal failed
            failed += 1
            if len(reasons) < 5:
                reasons.append(why)

        for p in self.pages:
            if p["upload"]:
                attempted += 1
                name, data = p["upload"]
                try:
                    with open(os.path.join(out, "File", name), "rb") as f:
                        ok = f.read() == data
                except OSError:
                    ok = False
                if not ok:
                    fail(f"file {name}")
                continue
            text = p["text"]
            if p["ns"] not in (0, 14) or not text \
                    or text.startswith("#REDIRECT"):
                continue
            attempted += 1
            ns_name = "Main" if p["ns"] == 0 else "Category"
            bare = p["title"].split(":", 1)[1] if p["ns"] else p["title"]
            fname = safe_filename_py(bare) + ".md"
            want = convert_document(prepare_wikitext_py(text, ns_name))[0]
            try:
                with open(os.path.join(out, ns_name, fname)) as f:
                    got = f.read()
            except OSError:
                got = None
            if got != want:
                fail(f"markdown {fname}")
                continue
            if ns_name != "Main":
                continue
            rows = sorted(blocks.get(fname, []), key=lambda r: r.block_index)
            if not rows:
                fail(f"no blocks {fname}")
                continue
            key, batch = rows[0].s3_object_key, rows[0].batch_id
            expect = blocks_to_rows(key, batch, got)
            have = [(r.batch_id, r.block_index, r.s3_object_key,
                     r.block_type, r.block_json) for r in rows]
            if have != expect or batch != hashlib.md5(key.encode()).hexdigest():
                fail(f"blocks {fname}")
            elif any(r.uploaded_at is None for r in rows):
                fail(f"not uploaded {fname}")
            elif status.get(fname) != "SUCCESS":
                fail(f"status {status.get(fname)} {fname}")
            elif sink["creates"].get(batch) != 1 or \
                    sink["appended"].get(batch) != list(range(len(rows))):
                fail(f"sink trail {fname}")
        if sink["duplicates"] or sink["out_of_order"]:
            fail(f"sink duplicates={sink['duplicates']} "
                 f"out_of_order={sink['out_of_order']}")
        return attempted, failed, reasons

    # -- traced pass ------------------------------------------------------------

    def install_trace(self) -> None:
        from mediawiki_to_notion_spark.storage import ParquetTable
        from mediawiki_to_notion_spark.streaming import ingest as ING
        from mediawiki_to_notion_spark.streaming import upload as UP

        t = self.tracer
        t.wrap(UP, "run_upload", "upload.round")
        t.wrap(ING, "start_md_stream", "ingest.stream",
               on_exit=lambda rec, a, q: self.stream_queries.append(q))
        for attr in ("upsert", "append"):
            fn = getattr(ParquetTable, attr)

            def traced(table, *a, _fn=fn, _attr=attr, **k):
                if not t.enabled:
                    return _fn(table, *a, **k)
                before = _files(table.path)
                with t.span("storage." + _attr) as rec:
                    result = _fn(table, *a, **k)
                if rec is not None:
                    after = _files(table.path)
                    new = after.keys() - before.keys()
                    rec["files"] = len(new)
                    rec["bytes"] = sum(after[p] for p in new)
                return result

            setattr(ParquetTable, attr, traced)

    def prefix_cuts(self) -> dict:
        """Time the process-dump plan cut after the XML read, after
        prepare, and after convert, each forced with the noop sink."""
        from pyspark.sql import functions as F

        from mediawiki_to_notion_spark.functions.gfm_convert import (
            CONVERT_DDL_SUFFIX,
            convert_batches,
        )
        from mediawiki_to_notion_spark.plans import pipeline as P
        from mediawiki_to_notion_spark.sources.xml_dump import (
            read_dump,
            split_pages_files,
        )

        raw = read_dump(self.spark, self.dump)
        prepared = P.prepare_pages(P.route_pages(split_pages_files(raw)[0]))
        converted = prepared.select("ns_name", "filename", "cleaned") \
            .mapInPandas(convert_batches,
                         f"ns_name string, filename string, cleaned string, "
                         f"{CONVERT_DDL_SUFFIX}")
        cuts = {}
        for name, df in (("xml_dump.read", raw), ("prepare", prepared),
                         ("convert", converted)):
            with self.tracer.span("cut." + name) as rec:
                df.write.format("noop").mode("overwrite").save()
            cuts[name] = rec["end"] - rec["start"]
        errors = converted.filter(F.col("convert_error").isNotNull()).count()
        cuts["convert_error_frac"] = errors / max(converted.count(), 1)
        return cuts

    def per_layer(self, wall: float, info: dict, cuts: dict, log: dict,
                  since: float) -> dict:
        t = self.tracer
        span = {n: t.named(n, since) for n in
                ("process_dump", "ingest", "upload.drain", "cut.xml_dump.read")}
        counts = {n: tr.job_counts(log, tr.job_ids_in(log, s))
                  for n, s in span.items()}
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for q in self.stream_queries[-1:] for p in q.recentProgress]
        dur = [p.get("durationMs", {}) for p in progress]
        n_blocks = sum(len(v) for v in info["sink"]["appended"].values())
        pd_s, ing_s = t.total("process_dump", since), t.total("ingest", since)
        drain_s = t.total("upload.drain", since)
        storage = [s for n in STORAGE_SPANS for s in t.named(n, since)]
        round_s = t.total("upload.round", since)
        sink = info["sink"]
        return {
            "xml_dump.read_s": cuts["xml_dump.read"],
            "xml_dump.tasks": counts["cut.xml_dump.read"]["tasks"],
            "prepare.s": cuts["prepare"] - cuts["xml_dump.read"],
            "convert.s": cuts["convert"] - cuts["prepare"],
            "convert.error_frac": cuts["convert_error_frac"],
            "process_dump.write_s": pd_s - cuts["convert"],
            "process_dump.jobs": counts["process_dump"]["jobs"],
            "process_dump.tasks": counts["process_dump"]["tasks"],
            "process_dump.pages_per_s": len(self.pages) / pd_s,
            "ingest.list_s": sum(d.get("latestOffset", 0) + d.get("getBatch", 0)
                                 for d in dur) / 1000.0,
            "ingest.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000.0,
            "ingest.batches": len(progress),
            "ingest.jobs": counts["ingest"]["jobs"],
            "ingest.tasks": counts["ingest"]["tasks"],
            "ingest.blocks_per_s": n_blocks / ing_s,
            "storage.upsert_s": sum(s["end"] - s["start"] for s in storage),
            "storage.upserts": len(storage),
            "storage.files_written": sum(s.get("files", 0) for s in storage),
            "storage.mb_written": sum(s.get("bytes", 0) for s in storage) / 2**20,
            "upload.rounds": t.named("upload.drain", since)[-1]["rounds"],
            "upload.round_s": round_s,
            "upload.sink_s": t.self_time("upload.round", STORAGE_SPANS,
                                         since),
            "upload.jobs": counts["upload.drain"]["jobs"],
            "upload.cached_rdds": info["cached_rdds"],
            "upload.blocks_per_s": n_blocks / drain_s,
            "sink.requests": sink["requests"],
            "sink.page_creates": sink["page_creates"],
            "sink.block_appends": sink["block_appends"],
            "sink.retried": sink["retried"],
            "sink.client_gap_ms_p50": sink["client_gap_ms_p50"],
            "sink.client_gap_ms_p99": sink["client_gap_ms_p99"],
            "sink.busy_frac": sink["busy_s"] / drain_s,
            "sink.duplicates": sink["duplicates"],
            "sink.out_of_order": sink["out_of_order"],
            "trace.coverage_frac": (pd_s + ing_s + drain_s) / wall,
        }


def _base(uri: str) -> str:
    return os.path.basename(urllib.parse.unquote(uri))


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


# --- query_mix -------------------------------------------------------------------

class QueryMix:
    """Registry queries in a seed-permuted order, each forced with the
    noop sink; checked against their DuckDB oracles.  The queries run in
    one long-lived session, so they are timed warm."""

    cold_start = False

    def __init__(self, spark, args, tracer: tr.Tracer) -> None:
        from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all

        load_all()
        self.spark, self.tracer = spark, tracer
        self.queries, self.oracles = QUERIES, dict(ORACLES)
        self.data = os.path.join(args.work, "inputs", "tables")
        # this oracle is a table of expected digests computed from the
        # data it is registered against; rebuild it for the generated data
        from mediawiki_to_notion_spark.operators.pipeline_queries import (
            _prepare_convert_oracle,
        )
        self.oracles["pipeline_prepare_convert"] = _prepare_convert_oracle(
            (self.data,))
        self.order = gen.query_order(args.seed, list(QUERY_MIX))
        self.results: dict[str, tuple] = {}
        self.errors: dict[str, str] = {}
        self.plan_ms: list[float] = []

    def op_names(self) -> list[str]:
        return [n for n in self.order if n not in self.errors]

    def warm_up(self) -> None:
        """Each query once, collected; the rows are checked later."""
        for name in self.order:
            try:
                df = self.queries[name](self.spark, self.data)
                self.results[name] = (df.schema, df.collect())
            except Exception as exc:  # noqa: BLE001 - counted as failed
                self.errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            self.spark.catalog.clearCache()

    def timed_pass(self) -> tuple[float, list[float], dict]:
        ops = []
        traced = self.tracer.enabled
        plan_s = 0.0
        t0 = time.perf_counter()
        for name in self.order:
            a = time.perf_counter()
            try:
                with self.tracer.span("operators.build", query=name):
                    df = self.queries[name](self.spark, self.data)
                with self.tracer.span("operators.execute", query=name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - counted as failed
                self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:200])
                continue
            ops.append(time.perf_counter() - a)
            if traced:
                p = time.perf_counter()
                self.plan_ms.append(_plan_ms(df))
                plan_s += time.perf_counter() - p
            self.spark.catalog.clearCache()
        return time.perf_counter() - t0 - plan_s, ops, {}

    def check(self, _info: dict) -> tuple[int, int, list[str]]:
        from mediawiki_to_notion_spark.oracle import compare

        reasons = [f"{n}: {e}" for n, e in self.errors.items()][:5]
        failed = len(self.errors)
        for name, (schema, rows) in self.results.items():
            if name in self.errors:
                continue
            try:
                res = compare(self.spark,
                              lambda _s, _d, rows=rows, schema=schema:
                              _Collected(schema, rows),
                              self.oracles[name], self.data)
                ok = res["match"]
            except Exception as exc:  # noqa: BLE001
                ok, res = False, {"error": str(exc)[:200]}
            if not ok:
                failed += 1
                if len(reasons) < 5:
                    reasons.append(f"{name}: oracle mismatch")
        return len(self.order), failed, reasons

    def install_trace(self) -> None:
        pass

    def prefix_cuts(self) -> dict:
        return {}

    def per_layer(self, wall: float, info: dict, cuts: dict, log: dict,
                  since: float) -> dict:
        t = self.tracer
        build, execute = (t.named("operators.build", since),
                          t.named("operators.execute", since))
        b_s = sum(s["end"] - s["start"] for s in build)
        e_s = sum(s["end"] - s["start"] for s in execute)
        counts = tr.job_counts(log, tr.job_ids_in(log, build + execute))
        per_query = [b["end"] - b["start"] + e["end"] - e["start"]
                     for b, e in zip(build, execute)]
        return {
            "operators.build_s": b_s,
            "operators.execute_s": e_s,
            "operators.build_frac": b_s / max(b_s + e_s, 1e-9),
            "operators.plan_ms": sum(self.plan_ms),
            "operators.jobs": counts["jobs"],
            "operators.stages": counts["stages"],
            "operators.tasks": counts["tasks"],
            "operators.query_geomean_s": geomean(per_query) if per_query else 0.0,
            "trace.coverage_frac": (b_s + e_s) / wall,
        }


class _Collected:
    """The part of a DataFrame that ``oracle.compare`` reads, over rows
    already collected, so the check starts no Spark job."""

    def __init__(self, schema, rows: list) -> None:
        self.columns = schema.names
        self.dtypes = [(f.name, f.dataType.simpleString())
                       for f in schema.fields]
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _plan_ms(df) -> float:
    """Analysis + optimization + planning ms from the Catalyst tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


WORKLOADS = {"wiki_import": WikiImport, "query_mix": QueryMix}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--port", type=int, default=0)
    args = ap.parse_args()

    from mediawiki_to_notion_spark.session import get_spark

    tracer = tr.Tracer()
    spark = get_spark("perfbench")
    wl = WORKLOADS[args.workload](spark, args, tracer)
    if args.trace:
        wl.install_trace()
    if args.trace or not wl.cold_start:
        wl.warm_up()
    setup_s = time.time() - args.t0

    walls, op_lists, infos = [], [], []
    start = time.perf_counter()
    while True:
        wall, ops, info = wl.timed_pass()
        walls.append(wall)
        op_lists.append(ops)
        infos.append(info)
        used = time.perf_counter() - start
        if args.trace or used + statistics.median(walls) > args.seconds:
            break

    result = {"setup_s": setup_s, "walls": walls,
              "ops": dict(zip(wl.op_names(), map(statistics.median,
                                                 zip(*op_lists))))}
    layers = None
    if args.trace:
        since = time.time()
        tracer.enabled = True
        cuts = wl.prefix_cuts()
        with tracer.span("pass") as rec:
            wall, ops, info = wl.timed_pass()
        tracer.enabled = False
        infos.append(info)
        log = tr.read_event_log(os.path.join(args.work, "events"))
        pass_jobs = tr.job_ids_in(log, [rec])
        layers = wl.per_layer(wall, info, cuts, log, since)
        eng = tr.engine_totals(log, pass_jobs)
        layers.update({f"spark.{k}": v for k, v in eng.items()})
        cores = os.cpu_count() or 1
        layers["spark.core_util"] = eng["executor_run_s"] / (wall * cores)
        layers["trace.overhead_frac"] = wall / walls[-1] - 1.0
        tracer.dump(os.path.join(os.path.dirname(args.work),
                                 f"spans-{args.workload}-{args.seed}.json"))

    attempted = failed = 0
    reasons: list[str] = []
    for info in infos:
        a, f, r = wl.check(info)
        attempted, failed = attempted + a, failed + f
        reasons += r
        if args.workload == "query_mix":
            break  # one oracle check covers the single set of results
    result.update(attempted=attempted, failed=failed, reasons=reasons[:5],
                  layers=layers)
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    # the JVM exits once its stdin closes; wait, so it does not outlive
    # the run and overlap the next one
    jvm.stdin.close()
    jvm.wait(timeout=60)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
