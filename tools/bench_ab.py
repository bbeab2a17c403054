"""Pinned-snapshot A/B bench: drift-proof cross-round comparison
(VERDICT r9 brief #2).

Cross-round per-query deltas have repeatedly been confounded by ambient
box drift (r2 VM variance, r6→r9 1.3-1.5x re-time forensics) because
the box cannot be rewound.  This tool rewinds the CODE instead: it
checks out a frozen earlier-round ref into a git worktree
(`.bench_ab/pin`) and interleaves its captures with HEAD's in the same
idle window — capture k runs both sides back-to-back, HEAD first on
even k and PIN first on odd k, and every side starts only after the
idle gate has seen the box settle (the previous side's Spark process
leaves a 1-min load of ~4 behind it on 4 cores), so both sides start
from the same box state.  Inside each capture every
query is timed ``REPEATS`` times, so each side pools
``captures x REPEATS`` timings per query; the report is their median
(with quartiles), which resolves a 10 % difference where one timing
per capture could not.  A query whose function source is unchanged
between the refs (checked automatically via AST extraction from both
trees, recorded per query) must ratio ≈ 1 on an idle box; a ratio far
from 1 on unchanged code is *measured* box drift, not inference.  The
first two unchanged queries in the name list are the controls: every
query's HEAD/PIN ratio is also reported divided by the geometric mean
of the controls' ratios.

Each side runs in its OWN subprocess (separate Spark session, separate
import tree) with the side's repo root on sys.path — the two code
versions never share a process.

Usage:  python tools/bench_ab.py
Env:    BENCH_AB_REF   pin ref (default 4c041cd = the r7 end-of-session
                       code the BENCH_r07 captures ran on)
        BENCH_AB_NAMES comma list (default: the r9 drift-watch cluster
                       + unchanged anchors across operator families)
        BENCH_AB_CAPTURES (3) / BENCH_AB_SF_DIR (/root/testdata/sf0.1)
        SOAK_IDLE_LOAD / SOAK_IDLE_WAIT as in the soak tools
Output: .bench_ab/BENCH_AB.json (gitignored; copy it to a named file to
        keep it) + one JSON line.
"""

from __future__ import annotations

import ast
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools._harness import idle_gate, loadavg  # noqa: E402

PIN_REF = os.environ.get("BENCH_AB_REF", "4c041cd")
N_CAPTURES = int(os.environ.get("BENCH_AB_CAPTURES", "3"))
SF_DIR = os.environ.get("BENCH_AB_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"
# timings of each query per capture; 3 captures x 5 = 15 per side
REPEATS = 5

# r9 drift-watch cluster (VERDICT r9 "What's wrong" #1) + anchors from
# families whose modules are quiet across rounds.  Names missing from
# either side's registry are skipped by the runner.
DEFAULT_NAMES = [
    # the cluster to exonerate or root-cause
    "embedding_matryoshka_recall",
    "dedup_winnowing_fingerprint",
    "dedup_substring_cut_exact",
    "decontaminate_fuzzy_minhash",
    "dedup_cosine_lsh_recall_adaptive",   # code changed r8 — ratio is
                                          # code+box, flagged by the
                                          # per-query source check
    # anchors
    "agg_pricing_summary",
    "fact_dim_join_agg",
    "orderby_limit_topn",
    "window_ordered_replay",
    "time_bucket_rollup",
    "events_anomaly_zscore",
    "market_basket_part_pairs",
    "stats_moments_lineitem",
    "dedup_minhash_lsh",
    "dedup_exact_hash",
    "similarity_topk_bruteforce",
    "keyword_search_bm25",
    "corpus_filter_agreement",
    "text_zipf_fit",
    "dsir_importance_select",
]

_RUNNER = r'''
import json, os, sys, time
root, sf_dir, warm_dir, names_json, repeats = sys.argv[1:6]
sys.path.insert(0, root)
os.chdir(root)
os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
from mediawiki_to_notion_spark.session import get_spark
from mediawiki_to_notion_spark.operators import QUERIES, load_all
load_all()
spark = get_spark("bench_ab")
names = [n for n in json.loads(names_json) if n in QUERIES]
for n in names:  # warmup: footers, codegen, Arrow workers
    QUERIES[n](spark, warm_dir).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
timings = {}
for n in names:
    timings[n] = []
    for _ in range(int(repeats)):
        t0 = time.time()
        QUERIES[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
        timings[n].append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
print("BENCH_AB_RESULT " + json.dumps(timings), flush=True)
spark.stop()
'''


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args],
                          capture_output=True, text=True, check=True
                          ).stdout.strip()


def _ensure_worktree(ref: str) -> str:
    wt = os.path.join(ROOT, ".bench_ab", "pin")
    want = _git("rev-parse", ref)
    if os.path.isdir(wt):
        try:
            have = subprocess.run(["git", "-C", wt, "rev-parse", "HEAD"],
                                  capture_output=True, text=True,
                                  check=True).stdout.strip()
            if have == want:
                return wt
        except subprocess.CalledProcessError:
            pass
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force",
                        wt], check=False)
    os.makedirs(os.path.dirname(wt), exist_ok=True)
    _git("worktree", "add", "--detach", wt, ref)
    return wt


def _fn_source(tree_root: str | None, relpath: str, fn_name: str):
    """Function source from a checked-out tree (None → HEAD working
    copy) — best-effort, None on any failure."""
    try:
        if tree_root is None:
            src = open(os.path.join(ROOT, relpath)).read()
        else:
            src = open(os.path.join(tree_root, relpath)).read()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == fn_name:
                return ast.get_source_segment(src, node)
    except Exception:
        return None
    return None


def _source_flags(names: list[str], pin_root: str) -> dict:
    """Per-query: is the registered function's source identical between
    HEAD and the pin?  (Shared helpers may still differ — this flags
    the function body only, the strongest cheap signal.)"""
    from mediawiki_to_notion_spark.operators import QUERIES, load_all
    load_all()
    flags = {}
    for n in names:
        fn = QUERIES.get(n)
        if fn is None:
            flags[n] = None
            continue
        mod = sys.modules.get(fn.__module__)
        relpath = os.path.relpath(mod.__file__, ROOT) if mod else None
        if not relpath:
            flags[n] = None
            continue
        a = _fn_source(None, relpath, fn.__name__)
        b = _fn_source(pin_root, relpath, fn.__name__)
        flags[n] = (a is not None and b is not None and a == b)
    return flags


def _run_side(side_root: str, names: list[str]) -> dict | None:
    runner = os.path.join(ROOT, ".bench_ab", "runner.py")
    env = dict(os.environ)
    env["PYTHONPATH"] = side_root
    p = subprocess.run(
        [sys.executable, runner, side_root, SF_DIR, WARM_DIR,
         json.dumps(names), str(REPEATS)],
        capture_output=True, text=True, env=env, timeout=3600)
    for line in p.stdout.splitlines():
        if line.startswith("BENCH_AB_RESULT "):
            return json.loads(line[len("BENCH_AB_RESULT "):])
    print(p.stdout[-2000:], file=sys.stderr)
    print(p.stderr[-4000:], file=sys.stderr)
    return None


def _run_captures(names: list[str], pin_root: str,
                  n_captures: int = N_CAPTURES) -> list[dict]:
    """``n_captures`` rounds of both sides.  The side that goes first
    alternates (HEAD on even rounds, PIN on odd), so neither side always
    inherits the other's warm page cache or decaying load, and each
    side waits for its own idle gate."""
    sides = [("head", ROOT), ("pin", pin_root)]
    captures: list[dict] = []
    for k in range(n_captures):
        for side, root in sides if k % 2 == 0 else sides[::-1]:
            gate = idle_gate()
            la = loadavg()[0]
            t = _run_side(root, names)
            if t is None:
                raise SystemExit(f"capture {k} side {side} failed")
            captures.append({"capture": k, "side": side,
                             "loadavg_1m_at_start": la, **gate,
                             "timings": t})
            print(f"capture {k} {side}: total "
                  f"{sum(map(sum, t.values())):.1f}s over {len(t)} "
                  f"queries (load {la})", file=sys.stderr, flush=True)
    return captures


def summarize(captures: list[dict], names: list[str],
              flags: dict) -> dict:
    """Per query: each side's pooled (q1, median, q3) seconds, the
    HEAD/PIN ratio of the medians, and that ratio divided by the
    geometric mean of the controls' ratios (the first two queries of
    ``names`` whose source is unchanged and that ran on both sides)."""
    pooled: dict[str, dict[str, list[float]]] = {"head": {}, "pin": {}}
    for c in captures:
        for n, ts in c["timings"].items():
            pooled[c["side"]].setdefault(n, []).extend(ts)
    quart = {side: {n: statistics.quantiles(ts, n=4, method="inclusive")
                    for n, ts in by_name.items()}
             for side, by_name in pooled.items()}
    ratios = {n: quart["head"][n][1] / quart["pin"][n][1]
              for n in names if n in quart["head"] and n in quart["pin"]}
    controls = [n for n in names if flags.get(n) and n in ratios][:2]
    control = (math.exp(statistics.fmean(math.log(ratios[n])
                                         for n in controls))
               if controls else None)
    queries = {}
    for n in names:
        r = ratios.get(n)
        queries[n] = {
            "head_q1_median_q3_s": [round(q, 3) for q in
                                    quart["head"].get(n, [])] or None,
            "pin_q1_median_q3_s": [round(q, 3) for q in
                                   quart["pin"].get(n, [])] or None,
            "ratio_head_over_pin": round(r, 3) if r else None,
            "ratio_over_controls": (round(r / control, 3)
                                    if r and control else None),
            "fn_source_unchanged_vs_pin": flags.get(n),
        }
    return {
        "controls": controls,
        "control_ratio_head_over_pin": round(control, 3) if control else None,
        "queries": queries,
        "total_head_median_s": round(
            sum(q[1] for q in quart["head"].values()), 2),
        "total_pin_median_s": round(
            sum(q[1] for q in quart["pin"].values()), 2),
    }


def main() -> None:
    names = [n for n in os.environ.get(
        "BENCH_AB_NAMES", ",".join(DEFAULT_NAMES)).split(",") if n]

    pin_root = _ensure_worktree(PIN_REF)
    os.makedirs(os.path.join(ROOT, ".bench_ab"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_ab", "runner.py"), "w") as f:
        f.write(_RUNNER)
    flags = _source_flags(names, pin_root)

    captures = _run_captures(names, pin_root)

    out = {
        "metric": "bench_ab_pinned_snapshot",
        "pin_ref": _git("rev-parse", PIN_REF),
        "head_ref": _git("rev-parse", "HEAD"),
        "sf_dir": SF_DIR,
        "n_captures_per_side": N_CAPTURES,
        "repeats_per_capture": REPEATS,
        "idle_gate_waited_s": sum(c["idle_gate_waited_s"]
                                  for c in captures),
        "idle_gate_timed_out": any(c["idle_gate_timed_out"]
                                   for c in captures),
        **summarize(captures, names, flags),
        "captures": captures,
    }
    with open(os.path.join(ROOT, ".bench_ab", "BENCH_AB.json"), "w") as f:
        json.dump(out, f, indent=1)
    slim = {k: v for k, v in out.items() if k != "captures"}
    print(json.dumps(slim))


if __name__ == "__main__":
    sys.exit(main())
