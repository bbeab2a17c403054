"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, none of which changes package code:

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory.
  ``Tracer.wrap`` rebinds a module or class attribute to a timing
  wrapper, so calls the package makes through that attribute are
  recorded without editing it.
- ``read_event_log``: Spark's own event log, enabled through launcher
  conf by ``run.py``.  Jobs are attributed to the span that was open
  when they were submitted, which also catches jobs started from the
  streaming thread (job groups do not reach it).
- streaming progress and the Catalyst phase tracker, read by the
  workloads from the objects they already hold.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
import uuid


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Rebind ``owner.attr`` so every call runs inside a span.
        ``on_exit(span, args, result)`` may add fields to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if rec is not None and on_exit is not None:
                    on_exit(rec, args, result)
                return result

        setattr(owner, attr, traced)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def total(self, name: str, since: float = 0.0) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, since))

    def self_time(self, name: str, children: tuple[str, ...],
                  since: float = 0.0) -> float:
        """Time in ``name`` spans not covered by the spans named in
        ``children`` that they enclose (which do not overlap)."""
        out = 0.0
        for s in self.named(name, since):
            kids = [c for c in self.spans
                    if c["name"] in children and c["start"] >= s["start"]
                    and c["end"] <= s["end"]]
            out += (s["end"] - s["start"]) - sum(c["end"] - c["start"]
                                                 for c in kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- Spark event log -----------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Parse the running application's uncompressed event log under
    ``log_dir`` (single file or rolling ``events_N_*`` files) into
    ``{"jobs": {id: {"t": submit epoch s, "stages": [...]}},
    "tasks": [per-task metric dicts with "stage"], "stages_done": ...}``."""
    paths = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
         if os.path.isfile(p)
         and not os.path.basename(p).startswith("appstatus")),
        key=lambda p: [int(x) if x.isdigit() else x
                       for x in os.path.basename(p).split("_")])
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    stages_done: set[int] = set()
    for path in paths:
        with open(path, "rb") as f:
            for raw in f.read().splitlines():
                try:
                    ev = json.loads(raw)
                except ValueError:
                    continue  # the line being written as we read

                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"t": ev["Submission Time"] / 1000.0,
                                          "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerStageCompleted":
                    stages_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task_metrics(ev))
    return {"jobs": jobs, "tasks": tasks, "stages_done": stages_done}


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    python_ms = 0.0
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == "time to run Python workers":
            python_ms += float(acc.get("Update", 0))
    return {
        "stage": ev.get("Stage ID"),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "python_ms": python_ms,
        "shuffle_read": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
    }


def job_ids_in(log: dict, spans: list[dict]) -> set[int]:
    """Jobs submitted while any of ``spans`` was open."""
    return {jid for jid, j in log["jobs"].items()
            if any(s["start"] <= j["t"] <= s["end"] for s in spans)}


def job_counts(log: dict, job_ids: set[int]) -> dict:
    """Jobs, stages that ran, and tasks that ended, for ``job_ids``."""
    stages = {sid for jid in job_ids for sid in log["jobs"][jid]["stages"]
              if sid in log["stages_done"]}
    n_tasks = sum(1 for t in log["tasks"] if t["stage"] in stages)
    return {"jobs": len(job_ids), "stages": len(stages), "tasks": n_tasks}


def engine_totals(log: dict, job_ids: set[int]) -> dict:
    """Summed executor-side metrics of the tasks of ``job_ids``."""
    stages = {sid for jid in job_ids for sid in log["jobs"][jid]["stages"]}
    ts = [t for t in log["tasks"] if t["stage"] in stages]
    mb = 1024.0 * 1024.0
    return {
        "executor_run_s": sum(t["run_ms"] for t in ts) / 1000.0,
        "jvm_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "python_worker_s": sum(t["python_ms"] for t in ts) / 1000.0,
        "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
        "spill_mb": sum(t["spill"] for t in ts) / mb,
    }
