"""Multi-executor soak for the scale-critical dedup families (VERDICT
r9 brief #3): a `local-cluster` data point for the families whose
100 TB claims rest on single-JVM soaks:

    dedup_substring_cut, dedup_fuzzy_levenshtein,
    dedup_winnowing_fingerprint, dedup_minhash_lsh,
    dedup_connected_components

The r8 multitable-LSH shuffle-regime run (MULTITABLE_CLUSTER_SOAK.json)
is this tool with MO_SOAK_QUERIES=dedup_embedding_cosine_lsh_multitable.

Each family runs at the sf10 and sf100 soak corpora on
``local-cluster[E,C,memMB]`` (separate executor JVMs, their own shuffle
trees and block managers) and the tool records wall times, the decade
exponent, and the per-decade shuffle/spill deltas scraped from the
status REST API (scoped to this run's applicationId, failed stages
counted and flagged — see _harness.stage_totals).

Note on dedup_connected_components: the r10 driver cutover collects
the duplicate-pair edge list when it is under
``iter_local._DRIVER_CAP`` (65,536 edges) — at these corpora the edge
list stays far under the cap, so its row measures the corpus-scale LSH
pipeline plus the union-find replay, exactly what a 100 TB-but-sparse
duplicate graph would run.  Patch the constant to 0 to soak the
distributed propagation loop instead; the artifact records the cap.

Usage:  python tools/multiop_cluster_soak.py
Env:    MT_SOAK_EXECUTORS (4) / MT_SOAK_CORES (8) / MT_SOAK_MEM_MB
        (20480), MO_SOAK_QUERIES (comma list), SOAK_IDLE_LOAD /
        SOAK_IDLE_WAIT as in the other soaks.
Output: MULTIOP_CLUSTER_SOAK.json + one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools._harness import (  # noqa: E402
    idle_gate,
    loadavg,
    stage_totals,
    timed_noop,
)

N_EXEC = int(os.environ.get("MT_SOAK_EXECUTORS", "4"))
N_CORES = int(os.environ.get("MT_SOAK_CORES", "8"))
MEM_MB = int(os.environ.get("MT_SOAK_MEM_MB", "20480"))
DEFAULT_QUERIES = ("dedup_substring_cut,dedup_fuzzy_levenshtein,"
                   "dedup_winnowing_fingerprint,dedup_minhash_lsh,"
                   "dedup_connected_components")
SF10 = os.environ.get("MT_SOAK_SRC", os.path.join(ROOT, ".scale", "sf10"))
SF100 = os.environ.get("MT_SOAK_DST", os.path.join(ROOT, ".scale", "sf100"))
# labels derive from the actual dirs so a scoped-down decade (e.g.
# sf0.1 -> sf1) is recorded honestly, not as "sf10"/"sf100"
LBL_A = os.path.basename(SF10.rstrip("/"))
LBL_B = os.path.basename(SF100.rstrip("/"))


def main() -> None:
    from pyspark.sql import SparkSession

    from mediawiki_to_notion_spark.operators import QUERIES, load_all
    from mediawiki_to_notion_spark.operators import iter_local as IL

    names = [n for n in os.environ.get(
        "MO_SOAK_QUERIES", DEFAULT_QUERIES).split(",") if n]

    gate = idle_gate()
    loadavg_start = loadavg()

    # the larger corpus drives the session's input-size-derived AQE
    # width (session.py) — same setting discipline as scaling_soak
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", SF10)

    spark = (
        SparkSession.builder
        .master(f"local-cluster[{N_EXEC},{N_CORES},{MEM_MB}]")
        .appName("multiop_cluster_soak")
        .config("spark.executor.memory", f"{MEM_MB - 2048}m")
        # local-cluster mode ships no code: executor python workers need
        # the repo importable (the Arrow kernels close over repo modules)
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                "256")
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes",
                str(128 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    load_all()
    ui_base = f"http://127.0.0.1:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[1]}" \
        if spark.sparkContext.uiWebUrl else None
    app_id = spark.sparkContext.applicationId

    results = {}
    for name in names:
        fn = QUERIES[name]
        # warmup (codegen + Arrow workers on every executor)
        timed_noop(spark, fn, "/root/testdata/sf0.01")
        prev_tot = stage_totals(ui_base, app_id) if ui_base else {}
        rows = {}
        for label, sf_dir in ((LBL_A, SF10), (LBL_B, SF100)):
            la = loadavg()[0]
            wall = timed_noop(spark, fn, sf_dir)
            tot = stage_totals(ui_base, app_id) if ui_base else {}
            delta = {k: tot[k] - prev_tot.get(k, 0) for k in tot}
            prev_tot = tot
            rows[label] = {"wall_s": round(wall, 3),
                           "loadavg_1m_at_start": la,
                           "shuffle_spill": delta}
            print(f"{name} {label}: {wall:.1f}s {json.dumps(delta)}",
                  file=sys.stderr, flush=True)
        results[name] = {
            **rows,
            f"exponent_{LBL_A}_{LBL_B}": round(
                math.log(rows[LBL_B]["wall_s"] / rows[LBL_A]["wall_s"])
                / math.log(10.0), 3),
        }

    out = {
        "metric": "multiop_local_cluster_soak",
        "master": f"local-cluster[{N_EXEC},{N_CORES},{MEM_MB}]",
        "data_dirs": {LBL_A: SF10, LBL_B: SF100},
        "iter_driver_cap": IL._DRIVER_CAP,
        "loadavg_start": loadavg_start,
        **gate,
        "queries": results,
    }
    with open(os.path.join(ROOT, "MULTIOP_CLUSTER_SOAK.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
