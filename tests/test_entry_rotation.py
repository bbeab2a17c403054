"""The driver-gate ordering in __spark_entry__: never-confirmed queries
front the ~50-query window, then live recheck entries (which expire
when a round at or after their rewrite round re-confirms them), then
the confirmed rest by oldest latest-confirming round."""

from __future__ import annotations

import json

import __spark_entry__ as ent


def _fake_rounds(tmp_path, monkeypatch, rounds: dict[int, dict]) -> None:
    for p in tmp_path.glob("CORRECTNESS_r*.json"):
        p.unlink()
    for n, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))
    monkeypatch.setattr(ent, "_HERE", str(tmp_path))


def _ok(names) -> dict:
    return {n: {"hash_match": True} for n in names}


def test_queries_is_a_permutation_in_rule_order(tmp_path, monkeypatch):
    reg = list(ent.QUERIES)
    old, mid, new, rewritten = reg[:5], reg[5:10], reg[10:15], reg[15]
    monkeypatch.setattr(ent, "_RECHECK", {rewritten: 3})
    _fake_rounds(tmp_path, monkeypatch, {
        1: _ok(new + mid + [rewritten]),
        2: _ok(old[::-1] + new),
        3: _ok(new),
    })
    names = list(ent.queries())
    assert sorted(names) == sorted(reg)
    confirmed = set(old + mid + new + [rewritten])
    fresh = [n for n in reg if n not in confirmed]
    # never confirmed (registry order), live recheck, then by latest
    # confirming round (ties in registry order)
    assert names == fresh + [rewritten] + mid + old + new


def test_unconfirmed_queries_front_the_window(tmp_path, monkeypatch):
    some = list(ent.QUERIES)[:10]
    _fake_rounds(tmp_path, monkeypatch, {1: _ok(some)})
    names = list(ent.queries())
    assert names[-len(some):] == some
    assert not set(names[:5]) & set(some)


def test_recheck_expires_at_or_after_rewrite_round(tmp_path, monkeypatch):
    reg = list(ent.QUERIES)
    target, older = reg[-1], reg[:3]
    monkeypatch.setattr(ent, "_RECHECK", {target: 5})
    # confirmation BEFORE the rewrite round does not expire the entry:
    # it sits ahead of every confirmed query, even older ones
    _fake_rounds(tmp_path, monkeypatch, {
        1: _ok(older),
        4: _ok([target]),
    })
    names = list(ent.queries())
    assert names.index(target) < min(names.index(n) for n in older)
    # ... but a confirmation AT the rewrite round drops it to the
    # confirmed tail, by its latest round
    _fake_rounds(tmp_path, monkeypatch, {
        1: _ok(older),
        4: _ok([target]),
        5: _ok([target]),
    })
    names = list(ent.queries())
    assert names[-1] == target


def test_rows_only_counts_as_confirmed(tmp_path, monkeypatch):
    name = "approx_percentile_sketch"  # rows-only by design
    assert name not in ent.ORACLES
    _fake_rounds(tmp_path, monkeypatch, {
        1: {name: {"err": "no_oracle", "spark_rows": 5,
                   "hash_match": None}},
    })
    assert list(ent.queries())[-1] == name


def test_rows_only_confirmation_expires_when_oracle_added(tmp_path,
                                                          monkeypatch):
    """A query confirmed rows-only in an old round but oracled SINCE
    must re-front: the weak row no longer reflects what the gate would
    check (multimodal_feature_extract was rows-only in r1, upgraded to a
    SQL oracle in r2, and needs a real hash row)."""
    name = "multimodal_feature_extract"
    assert name in ent.ORACLES  # the upgrade this test is about
    others = [n for n in list(ent.QUERIES)[:20] if n != name]
    _fake_rounds(tmp_path, monkeypatch, {
        1: {name: {"err": "no_oracle", "spark_rows": 500,
                   "hash_match": None},
            **_ok(others)},
    })
    confirmed, _ = ent._confirmed()
    assert name not in confirmed
    names = list(ent.queries())
    assert names.index(name) < min(names.index(n) for n in others)


def test_no_correctness_files_means_everything_fresh(tmp_path, monkeypatch):
    monkeypatch.setattr(ent, "_HERE", str(tmp_path))
    assert list(ent.queries()) == list(ent.QUERIES)


def test_repo_window_is_the_oldest_confirmed():
    """On the committed CORRECTNESS files, the driver's first 50 names
    are the 50 whose latest confirming round is oldest."""
    confirmed, last_round = ent._confirmed()
    names = list(ent.queries())
    fresh = [n for n in ent.QUERIES if n not in confirmed]
    window = names[len(fresh):50]
    tail = names[50:]
    if window and tail:
        assert max(last_round[n] for n in window) <= min(
            last_round[n] for n in tail)
    assert names[:len(fresh)] == fresh
