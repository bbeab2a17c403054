"""Tier-1 smoke for the measurement tools: bench.py and every
tools/*.py import cleanly (without running ``main``), and the shared
idle gate reports waits and timeouts from its final in-loop sample."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

from tools import _harness

ROOT = pathlib.Path(__file__).resolve().parents[1]
SCRIPTS = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_without_running_main(path):
    spec = importlib.util.spec_from_file_location(f"_smoke_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if not path.name.startswith("_"):
        assert callable(mod.main)


def _fake_box(monkeypatch, loads: list[float], budget_s: int) -> list[float]:
    monkeypatch.setenv("SOAK_IDLE_LOAD", "1.0")
    monkeypatch.setenv("SOAK_IDLE_WAIT", str(budget_s))
    samples = iter(loads)
    monkeypatch.setattr(_harness.os, "getloadavg",
                        lambda: (next(samples), 0.0, 0.0))
    slept: list[float] = []
    monkeypatch.setattr(_harness.time, "sleep", slept.append)
    return slept


def test_idle_gate_passes_an_idle_box_without_waiting(monkeypatch):
    slept = _fake_box(monkeypatch, [0.2], budget_s=30)
    gate = _harness.idle_gate()
    assert slept == []
    assert gate == {"idle_gate_waited_s": 0.0,
                    "idle_gate_load_threshold": 1.0,
                    "idle_gate_timed_out": False}


def test_idle_gate_times_out_on_a_busy_box(monkeypatch):
    # the load would dip right after the loop; the flag must come from
    # the last sample the loop saw, not a re-sample
    slept = _fake_box(monkeypatch, [5.0, 5.0, 5.0, 0.1], budget_s=30)
    gate = _harness.idle_gate()
    assert slept == [15.0, 15.0]
    assert gate["idle_gate_waited_s"] == 30.0
    assert gate["idle_gate_timed_out"] is True


def test_idle_gate_went_idle_on_the_last_poll(monkeypatch):
    slept = _fake_box(monkeypatch, [5.0, 5.0, 0.5], budget_s=30)
    gate = _harness.idle_gate()
    assert slept == [15.0, 15.0]
    assert gate["idle_gate_waited_s"] == 30.0
    assert gate["idle_gate_timed_out"] is False


def test_bench_stdout_lines_fit_the_tail_window():
    """bench.py's last two stdout lines, for all 124 headline queries at
    their widest (5-digit ms, a load warning), fit in 2,000 characters
    together, and the per-query line decodes back to the mins."""
    import json

    import bench
    names = list(bench.HEADLINE)
    assert len(names) == 124
    mins = {n: 12.345 + i / 1000 for i, n in enumerate(names)}
    md5 = "0123456789abcdef0123456789abcdef"
    detail = {
        "metric": "headline_query_wall_total", "value": 2345.678,
        "n_queries": len(names), "value_min_total": 2001.234,
        "value_best_total": 1999.999, "n_same_code_captures": 12,
        "loadavg_start": [13.37, 9.5, 4.2], "loadavg_warn": True,
        "idle_gate_timed_out": True, "sf": 0.1, "cpus": 32,
        "code_md5": md5, "machine_md5": md5, "data_md5": md5,
        "queries_min": mins,
    }
    per_query, headline = bench.stdout_lines(detail, names)
    assert len(per_query) + len(headline) + 2 < 2000
    pq = json.loads(per_query)
    assert pq["names_md5"] == bench._md5_str(",".join(names))
    assert dict(zip(names, pq["ms"])) == {n: round(v * 1000)
                                          for n, v in mins.items()}
    assert json.loads(headline)["per_query_line"] == pq["metric"]


def test_bench_ab_gates_every_side_and_alternates_order(monkeypatch):
    """tools/bench_ab.py waits for an idle box before EVERY side of
    every capture (not once per run), and alternates which side goes
    first: HEAD on even captures, PIN on odd ones."""
    from tools import bench_ab

    events = []

    def gate():
        events.append("gate")
        return {"idle_gate_waited_s": 0.0, "idle_gate_load_threshold": 1.0,
                "idle_gate_timed_out": False}

    def run_side(root, names):
        events.append(root)
        return {n: [1.0] for n in names}

    monkeypatch.setattr(bench_ab, "idle_gate", gate)
    monkeypatch.setattr(bench_ab, "_run_side", run_side)
    caps = bench_ab._run_captures(["q"], "PIN", n_captures=3)
    assert [c["side"] for c in caps] == [
        "head", "pin", "pin", "head", "head", "pin"]
    assert [c["capture"] for c in caps] == [0, 0, 1, 1, 2, 2]
    root = bench_ab.ROOT
    assert events == ["gate", root, "gate", "PIN", "gate", "PIN",
                      "gate", root, "gate", root, "gate", "PIN"]
    assert all(c["idle_gate_timed_out"] is False for c in caps)


def test_bench_ab_summary_medians_and_controls():
    """tools/bench_ab.py pools every timing of a side, reports the
    median, and divides each HEAD/PIN ratio by the geometric mean of
    the first two unchanged queries' ratios."""
    from tools import bench_ab

    def capture(side, scale):
        return {"side": side, "timings": {
            "ctl_a": [1.0 * scale] * 4 + [9.0],   # one straggler
            "ctl_b": [2.0 * scale] * 5,
            "changed": [4.0] * 5,
        }}

    names = ["changed", "ctl_a", "ctl_b"]
    flags = {"changed": False, "ctl_a": True, "ctl_b": True}
    out = bench_ab.summarize(
        [capture("head", 1.1), capture("pin", 1.0)] * 3, names, flags)
    assert out["controls"] == ["ctl_a", "ctl_b"]
    assert out["control_ratio_head_over_pin"] == 1.1
    q = out["queries"]
    assert q["ctl_a"]["head_q1_median_q3_s"][1] == 1.1  # straggler ignored
    assert q["changed"]["ratio_head_over_pin"] == 1.0
    assert q["changed"]["ratio_over_controls"] == round(1 / 1.1, 3)


def test_bench_ab_report_leaves_the_tracked_file_alone(monkeypatch, tmp_path):
    """A run writes its report under the gitignored .bench_ab/, never
    over the tracked BENCH_AB.json of an earlier A/B."""
    import json

    from tools import bench_ab

    tracked = tmp_path / "BENCH_AB.json"
    tracked.write_text('{"kept": true}')
    monkeypatch.setattr(bench_ab, "ROOT", str(tmp_path))
    monkeypatch.setenv("BENCH_AB_NAMES", "ctl_a,ctl_b")
    monkeypatch.setattr(bench_ab, "_ensure_worktree", lambda ref: "PIN")
    monkeypatch.setattr(bench_ab, "_git", lambda *a: "0" * 40)
    monkeypatch.setattr(bench_ab, "_source_flags",
                        lambda names, pin: {n: True for n in names})
    monkeypatch.setattr(bench_ab, "_run_captures", lambda names, pin: [
        {"side": side, "capture": 0, "idle_gate_waited_s": 0.0,
         "idle_gate_timed_out": False,
         "timings": {n: [1.0, 1.0] for n in names}}
        for side in ("head", "pin")])
    bench_ab.main()
    assert tracked.read_text() == '{"kept": true}'
    report = json.loads((tmp_path / ".bench_ab" / "BENCH_AB.json").read_text())
    assert report["metric"] == "bench_ab_pinned_snapshot"
