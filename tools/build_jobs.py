"""Split each headline query into building its DataFrame and running it,
and count the Spark jobs each half starts.

Usage:  python tools/build_jobs.py SF_DIR [OUT_JSON]
        (OUT_JSON defaults to BUILD_JOBS.json; the committed one is sf0.01)

Per query, after one untimed warm pass (build + noop write) at SF_DIR:
the build (``QUERIES[name](spark, sf_dir)``) runs in its own job group,
timed, and the group's job ids are its build jobs — every eager
``collect``/``count``/``localCheckpoint`` and every parquet schema
inference; then the noop write runs in a second group through
``_harness.timed_noop``.  Jobs started from threads other than the
caller's are not counted (job groups are thread-local).  Seconds are
one warm sample each; job counts are deterministic for a given plan.
Prints one line per query and writes the totals and per-query rows to
OUT_JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from mediawiki_to_notion_spark.operators import QUERIES, load_all  # noqa: E402
from mediawiki_to_notion_spark.session import get_spark, host_cpus  # noqa: E402
from tools._harness import loadavg, timed_noop  # noqa: E402


def _in_group(sc, group: str, fn):
    """Run ``fn()`` in job group ``group``; return (result, job count)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    sf_dir = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BUILD_JOBS.json"
    load_all()
    names = [n for n in HEADLINE if n in QUERIES]
    loadavg_start = loadavg()
    spark = get_spark("build-jobs")
    sc = spark.sparkContext

    rows = {}
    for name in names:
        query = QUERIES[name]
        timed_noop(spark, query, sf_dir)

        def build():
            t0 = time.time()
            return query(spark, sf_dir), time.time() - t0

        (df, build_s), build_jobs = _in_group(sc, f"build {name}", build)
        write_s, write_jobs = _in_group(
            sc, f"write {name}",
            lambda: timed_noop(spark, lambda _s, _d: df, sf_dir))
        rows[name] = {"build_s": round(build_s, 3), "build_jobs": build_jobs,
                      "write_s": round(write_s, 3), "write_jobs": write_jobs}
        print(json.dumps({"query": name, **rows[name]}), flush=True)

    totals = {
        "n_queries": len(rows),
        "build_jobs": sum(r["build_jobs"] for r in rows.values()),
        "zero_job_builds": sum(r["build_jobs"] == 0 for r in rows.values()),
        "write_jobs": sum(r["write_jobs"] for r in rows.values()),
        "build_s": round(sum(r["build_s"] for r in rows.values()), 2),
        "write_s": round(sum(r["write_s"] for r in rows.values()), 2),
    }
    doc = {"sf_dir": sf_dir, "cpus": host_cpus(),
           "loadavg_start": loadavg_start, "loadavg_end": loadavg(),
           "totals": totals, "queries": rows}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(json.dumps(totals))


if __name__ == "__main__":
    main()
