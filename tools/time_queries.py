"""Time individual registered queries with the bench methodology.

Usage:  python tools/time_queries.py <query> [<query> ...]
Env:    TQ_RUNS (default 5)  — timed runs per query (min + median printed)
        SPARK_GRAFT_SF_DIR   — data dir (default /root/testdata/sf0.1)

Same forcing as bench.py: noop sink, sf0.001 warm-up pass, clearCache +
GC between runs.  Prints one line per query: min / median / all runs.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mediawiki_to_notion_spark.operators import QUERIES, load_all  # noqa: E402
from mediawiki_to_notion_spark.session import get_spark  # noqa: E402
from tools._harness import timed_noop  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    names = sys.argv[1:]
    load_all()
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    n_runs = int(os.environ.get("TQ_RUNS", "5"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-queries")

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup {name}")
        timed_noop(spark, QUERIES[name], "/root/testdata/sf0.001")
        runs = []
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(f"timed {name} #{i}")
            runs.append(round(timed_noop(spark, QUERIES[name], sf_dir), 3))
        runs_sorted = sorted(runs)
        out[name] = runs_sorted[0]
        print(json.dumps({
            "query": name,
            "min": runs_sorted[0],
            "median": runs_sorted[len(runs) // 2],
            "runs": runs,
        }), flush=True)
    print(json.dumps({"mins": out}))


if __name__ == "__main__":
    main()
