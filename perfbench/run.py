"""The repository's benchmark: one command per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root.  It

1. writes the workload's inputs from ``--seed`` (``gen.py``);
2. starts the mock Notion server as its own process (``wiki_import``);
3. runs the workload in a fresh process (``worker.py``) with the Spark
   session sized to this host, sampling the memory (PSS) of that
   process tree (the mock server excluded);
4. prints a stamp line (host, load, code and data fingerprints) and,
   as the last line, the JSON result: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

Metric names and units come from ``BENCHMARK.json``.  Everything the
run writes lives under ``.perfbench-work/``; all but the spans of a
traced run are removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import worker  # noqa: E402

PACKAGE = "mediawiki_to_notion_spark"
WORKER_TIMEOUT_S = 150
JVM_HEAP = "2g"


def _tree_pss_kb(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and all its
    descendants.  PSS counts a page shared by forked Python workers once
    across them, where summed RSS would count it in every worker."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, par in parent.items():
            if par == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def _group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is left in group ``pgid``."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen, grace_s: float = 30.0) -> None:
    """Wait for ``proc`` (started in a session of its own) and every
    process it left behind to end: first on their own, then after
    SIGTERM, then after SIGKILL."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0),
                        (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if proc.poll() is not None and not _group_alive(proc.pid):
                return
            time.sleep(0.05)


def _fingerprint(paths: list[str]) -> str:
    h = hashlib.sha256()
    for base in paths:
        for root, dirs, files in os.walk(base):
            dirs.sort()
            for name in sorted(files):
                if name.endswith((".pyc",)):
                    continue
                p = os.path.join(root, name)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return kb / 2**20


def make_inputs(workload: str, seed: int, inputs: str) -> None:
    os.makedirs(inputs)
    if workload == "wiki_import":
        gen.write_wiki_dump(os.path.join(inputs, "wiki.xml"),
                            gen.wiki_pages(seed, worker.WIKI_PAGES))
        gen.write_wiki_dump(os.path.join(inputs, "warm.xml"),
                            gen.wiki_pages(seed + 7919, worker.WARM_PAGES))
    else:
        gen.write_query_tables(os.path.join(inputs, "tables"), seed,
                               worker.QUERY_SCALE)


def start_mock(seed: int, work: str) -> tuple[subprocess.Popen, int]:
    port_file = os.path.join(work, "mock.port")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "mock_notion.py"),
         "--seed", str(seed), "--port-file", port_file],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True)
    deadline = time.time() + 30
    while not os.path.exists(port_file):
        if proc.poll() is not None or time.time() > deadline:
            stop_group(proc, grace_s=0)
            raise RuntimeError("mock server did not start")
        time.sleep(0.02)
    with open(port_file) as f:
        return proc, int(f.read())


def worker_env(root: str, work: str, trace: bool) -> dict:
    cpus = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # The heap is fixed and touched up front, so the peak memory reads the
    # same from run to run instead of following when the JVM grew it.
    java_opts = (f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP} "
                 "-XX:+AlwaysPreTouch")
    submit = ["--driver-java-options", shlex.quote(java_opts)]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        # uncompressed: the worker reads the log while the app still runs
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://{events}"]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": JVM_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "inputs", "tables"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit) + " pyspark-shell",
    })
    return env


def run_worker(args, root: str, work: str, port: int) -> tuple[dict, float]:
    """Run worker.py; return its result and the peak PSS (MB) of its
    process tree."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--port", str(port)]
    log_path = os.path.join(work, "worker.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=work,
                                env=worker_env(root, work, bool(args.trace)),
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
    peak = [0]
    done = threading.Event()

    def sample() -> None:
        prev = 0
        while not done.is_set():
            cur = _tree_pss_kb(proc.pid)
            # Count a level only once two samples in a row reach it: a
            # child the JVM has vforked but not yet exec'd shares its
            # pages and, for that instant, would count them twice.
            peak[0] = max(peak[0], min(prev, cur))
            prev = cur
            done.wait(0.5)

    sampler = threading.Thread(target=sample)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        code = proc.wait()
    finally:
        done.set()
        sampler.join()
        stop_group(proc)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker exited with code {code}")
    with open(result_path) as f:
        return json.load(f), peak[0] / 1024.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"no {PACKAGE}/ package under {root}: nothing to measure",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench-work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    mock = None
    try:
        make_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        port = 0
        if args.workload == "wiki_import":
            mock, port = start_mock(args.seed, work)
        res, peak_mb = run_worker(args, root, work, port)
        stamp = {
            "workload": args.workload, "seed": args.seed,
            "cpus": os.cpu_count(), "mem_gb": round(_mem_total_gb(), 1),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "code": _fingerprint([os.path.join(root, PACKAGE)]),
            "data": _fingerprint([os.path.join(work, "inputs")]),
            "passes": len(res["walls"]), "reasons": res["reasons"],
            "ops_s": {k: round(v, 3) for k, v in res["ops"].items()},
        }
    finally:
        if mock is not None:
            mock.terminate()
            stop_group(mock, grace_s=10)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        layers = res["layers"]
        wanted = spec["per_layer"]
        # a layer a workload never enters reads 0
        values = {m["name"]: layers.get(m["name"], 0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {
            "setup_s": res["setup_s"],
            "wall_s": statistics.median(res["walls"]),
            "peak_pss_mb": peak_mb,
        }
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
