"""Measurement pieces shared by bench.py and the soak/A-B tools.

- ``idle_gate``: block until the box is idle before a timed capture;
- ``loadavg``: the 1/5/15-min load record stamped on every artifact;
- ``timed_noop``: one query forced through the ``noop`` sink, timed,
  then isolated from the next (``clearCache`` + Python and JVM GC);
- ``stage_totals``: shuffle/spill totals of one application's stages
  from the Spark status REST API (needs ``spark.ui.enabled``).
"""

from __future__ import annotations

import gc
import json
import os
import time
import urllib.request


IDLE_POLL_S = 15.0


def idle_gate(load_env: str = "SOAK_IDLE_LOAD",
              wait_env: str = "SOAK_IDLE_WAIT") -> dict:
    """Wait until the 1-min load is under ``$load_env`` (default 1.0,
    absolute — stragglers come from ANY competing runnable thread) or
    ``$wait_env`` seconds (default 1800) have passed.

    Returns the artifact fields: seconds waited, the threshold, and
    whether the budget ran out with the box still busy.  The flag comes
    from the FINAL in-loop sample: re-sampling after the loop could
    label a budget-exhausted run not-timed-out if load dipped between
    the last poll and the recheck.  A capture with the flag set is not
    gradeable."""
    threshold = float(os.environ.get(load_env, "1.0"))
    budget_s = float(os.environ.get(wait_env, "1800"))
    waited_s = 0.0
    last_load = os.getloadavg()[0]
    while last_load >= threshold and waited_s < budget_s:
        time.sleep(IDLE_POLL_S)
        waited_s += IDLE_POLL_S
        last_load = os.getloadavg()[0]
    return {
        "idle_gate_waited_s": waited_s,
        "idle_gate_load_threshold": threshold,
        "idle_gate_timed_out": waited_s >= budget_s and last_load >= threshold,
    }


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def timed_noop(spark, query, sf_dir: str) -> float:
    """Seconds to build ``query(spark, sf_dir)`` and force it through the
    noop sink (full plan, nothing collected).  Afterwards, outside the
    timed region, drop cached plans and collect both heaps:
    localCheckpoint blocks (the CC / PageRank / k-means rounds) are only
    reaped by the ContextCleaner once their RDD objects are garbage."""
    t0 = time.time()
    query(spark, sf_dir).write.mode("overwrite").format("noop").save()
    wall = time.time() - t0
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return wall


def _rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=10) as r:
        return json.loads(r.read().decode())


def stage_totals(base: str, app_id: str) -> dict:
    """Aggregate shuffle/spill metrics for THIS application's stages.

    The app is addressed by the caller's ``sc.applicationId`` (never
    applications[0], which could be a stale history entry), and failed
    stages are counted too — their shuffle bytes are real work, and a
    nonzero ``failed_stages`` flags that deltas include partial
    attempts."""
    tot = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "memory_spilled_bytes": 0, "disk_spilled_bytes": 0,
           "failed_stages": 0}
    for status in ("complete", "failed"):
        stages = _rest(
            base, f"/api/v1/applications/{app_id}/stages?status={status}")
        for st in stages:
            tot["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            tot["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            tot["memory_spilled_bytes"] += st.get("memoryBytesSpilled", 0)
            tot["disk_spilled_bytes"] += st.get("diskBytesSpilled", 0)
            if status == "failed":
                tot["failed_stages"] += 1
    return tot
