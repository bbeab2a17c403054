"""ParquetTable MERGE-upsert semantics (the Delta-free state store)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mediawiki_to_notion_spark.storage import ParquetTable


def _t(spark, tmp_path, name="t"):
    return ParquetTable(
        spark, str(tmp_path / name), key_cols=["k"],
        schema="k string, v int, extra string",
    )


def test_insert_then_update(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.upsert(spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], t.schema))
    t.upsert(spark.createDataFrame([("b", 20, "y2"), ("c", 3, "z")], t.schema))
    got = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert got == {"a": (1, "x"), "b": (20, "y2"), "c": (3, "z")}


def test_insert_only_is_idempotent(spark, tmp_path):
    """Conditional-put semantics (store_notion_blocks.py:136): replays
    never clobber existing rows."""
    t = _t(spark, tmp_path)
    t.upsert(spark.createDataFrame([("a", 1, "first")], t.schema), insert_only=True)
    t.upsert(
        spark.createDataFrame([("a", 99, "replay"), ("b", 2, "new")], t.schema),
        insert_only=True,
    )
    got = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert got == {"a": (1, "first"), "b": (2, "new")}


def test_update_cols_partial_merge(spark, tmp_path):
    """MERGE updating only named columns (page-status transition shape:
    status/status_time change, s3_object_key preserved)."""
    t = _t(spark, tmp_path)
    t.upsert(spark.createDataFrame([("a", 1, "keepme")], t.schema))
    src = spark.createDataFrame([("a", 5, None)], t.schema)
    t.upsert(src, update_cols=["v"])
    got = t.read().collect()[0]
    assert (got.v, got.extra) == (5, "keepme")


def test_delete_where(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.upsert(spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], t.schema))
    t.delete_where(F.col("k") == "a")
    assert [r.k for r in t.read().collect()] == ["b"]


def test_version_gc(spark, tmp_path):
    t = _t(spark, tmp_path)
    for i in range(4):
        t.upsert(spark.createDataFrame([(f"k{i}", i, "x")], t.schema))
    assert len(t._versions()) <= 2
    assert t.read().count() == 4


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB property: a MERGE's IO tracks the buckets its source
    keys hash to — every other bucket's files stay byte-identical on
    disk (same paths, same mtimes)."""
    import os

    t = _t(spark, tmp_path)
    rows = [(f"k{i}", i, "x") for i in range(40)]
    t.upsert(spark.createDataFrame(rows, t.schema))

    def file_state():
        out = {}
        for root, _dirs, files in os.walk(str(tmp_path / "t")):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out[p] = os.path.getmtime(p)
        return out

    before = file_state()
    t.upsert(spark.createDataFrame([("k3", 333, "updated")], t.schema))
    after = file_state()
    # the single-key merge touched exactly one bucket: every other
    # bucket's files survive untouched
    survivors = set(before) & set(after)
    assert survivors and all(before[p] == after[p] for p in survivors)
    changed_dirs = {os.path.dirname(p) for p in set(after) - set(before)}
    assert len({d.split("/b")[-1].split("/")[0] for d in changed_dirs}) == 1
    got = {r.k: r.v for r in t.read().collect()}
    assert got["k3"] == 333 and len(got) == 40


def test_append_adds_segments_without_rewrite(spark, tmp_path):
    """Appends must not read or rewrite existing files (DLQ shape)."""
    import os

    t = _t(spark, tmp_path)
    t.upsert(spark.createDataFrame([("a", 1, "x")], t.schema))
    before = set()
    for root, _d, files in os.walk(str(tmp_path / "t")):
        before.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    t.append(spark.createDataFrame([("b", 2, "y")], t.schema))
    after = set()
    for root, _d, files in os.walk(str(tmp_path / "t")):
        after.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    assert before <= after          # nothing deleted or rewritten
    assert t.read().count() == 2


def test_num_rows_reads_the_footers_without_a_job(spark, tmp_path):
    """The row count of the live segments comes from their parquet
    footers: no Spark job runs, appended segments count too."""
    t = _t(spark, tmp_path)
    assert t.num_rows() == 0
    t.upsert(spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], t.schema))
    t.append(spark.createDataFrame([("c", 3, "z")], t.schema))
    sc = spark.sparkContext
    group = "storage-num-rows"
    sc.setJobGroup(group, "ParquetTable.num_rows")
    try:
        n = t.num_rows()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert n == t.read().count() == 3


def test_compact_merges_append_segments(spark, tmp_path):
    """compact() folds a bucket's append segments into one and leaves
    single-segment buckets alone."""
    t = _t(spark, tmp_path)
    t.upsert(spark.createDataFrame([("a", 1, "x")], t.schema))
    for i in range(3):
        t.append(spark.createDataFrame([("a", 100 + i, "more")], t.schema))
    _, mapping = t._latest()
    assert any(len(segs) >= 2 for segs in mapping.values())
    n_before = t.read().count()
    compacted = t.compact()
    assert compacted >= 1
    _, mapping = t._latest()
    assert all(len(segs) == 1 for segs in mapping.values())
    assert t.read().count() == n_before
    assert t.compact() == 0  # idempotent: nothing left to merge


def test_random_mutation_sequences_match_dict_model(spark, tmp_path):
    """Model-based check: any sequence of upserts/appends/compactions
    must leave the table equal to a plain dict applying the same MERGE
    rules (source wins on matched keys; insert_only never clobbers)."""
    import random

    rng = random.Random(11)
    t = _t(spark, tmp_path, "model")
    model: dict[str, tuple[int, str]] = {}
    keys = [f"k{i}" for i in range(12)]
    for step in range(12):
        op = rng.choice(["upsert", "insert_only", "append", "compact"])
        batch = [
            (k, rng.randrange(100), f"s{step}")
            for k in rng.sample(keys, rng.randrange(1, 4))
        ]
        df = spark.createDataFrame(batch, t.schema)
        if op == "upsert":
            t.upsert(df)
            for k, v, e in batch:
                model[k] = (v, e)
        elif op == "insert_only":
            t.upsert(df, insert_only=True)
            for k, v, e in batch:
                model.setdefault(k, (v, e))
        elif op == "append":
            # append semantics: blind add; to keep the model a dict,
            # only append keys not yet present
            fresh = [(k, v, e) for k, v, e in batch if k not in model]
            if not fresh:
                continue
            t.append(spark.createDataFrame(fresh, t.schema))
            for k, v, e in fresh:
                model[k] = (v, e)
        else:
            t.compact()
        got = {r.k: (r.v, r.extra) for r in t.read().collect()}
        assert got == model, f"divergence after step {step} ({op})"
        assert t.num_rows() == len(model), f"footer count at step {step}"


def test_changes_since_feeds_inserts_and_updates(spark, tmp_path):
    """The commit-log change feed returns exactly the rows a later
    commit inserted or updated, reading only changed buckets."""
    import pytest as _pytest

    t = _t(spark, tmp_path, "cdf")
    t.upsert(spark.createDataFrame(
        [(f"k{i}", i, "base") for i in range(10)], t.schema))
    n0 = t._versions()[-1]
    t.upsert(spark.createDataFrame(
        [("k3", 333, "upd"), ("new1", 1, "ins")], t.schema))
    feed = {(r.k, r.v, r.extra) for r in t.changes_since(n0).collect()}
    assert feed == {("k3", 333, "upd"), ("new1", 1, "ins")}
    # same-commit diff is empty; GC'd commits refuse loudly
    assert t.changes_since(t._versions()[-1]).count() == 0
    t.upsert(spark.createDataFrame([("k5", 5, "z")], t.schema))
    with _pytest.raises(ValueError):
        t.changes_since(n0)


def test_changes_since_refuses_delete_capable_commits(spark, tmp_path):
    """overwrite/delete_where commits can drop rows, which an
    insert/update feed cannot represent — the feed raises instead of
    silently omitting deletions."""
    import pytest as _pytest

    t = _t(spark, tmp_path, "cdf2")
    t.upsert(spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], t.schema))
    n0 = t._versions()[-1]
    t.delete_where(F.col("k") == "a")
    with _pytest.raises(ValueError, match="overwrite"):
        t.changes_since(n0)


def test_changes_since_survives_later_mutations(spark, tmp_path):
    """The feed is materialized at call time: consuming it after the
    next commit's GC must not crash on deleted segments."""
    t = _t(spark, tmp_path, "cdf3")
    t.upsert(spark.createDataFrame([(f"k{i}", i, "x") for i in range(8)], t.schema))
    n0 = t._versions()[-1]
    t.upsert(spark.createDataFrame([("k1", 111, "u")], t.schema))
    feed = t.changes_since(n0)
    # two more commits: n0's and the diff's old segments are GC'd now
    t.upsert(spark.createDataFrame([("k2", 222, "u")], t.schema))
    t.upsert(spark.createDataFrame([("k3", 333, "u")], t.schema))
    assert {(r.k, r.v) for r in feed.collect()} == {("k1", 111)}


def test_time_travel_read_previous_commit(spark, tmp_path):
    """read(at=n) returns the table exactly as of retained commit n;
    versions past the two-commit vacuum horizon refuse loudly."""
    import pytest as _pytest

    t = _t(spark, tmp_path, "tt")
    t.upsert(spark.createDataFrame(
        [(f"k{i}", i, "v1") for i in range(5)], t.schema))
    n1 = t._versions()[-1]
    t.upsert(spark.createDataFrame(
        [("k2", 222, "v2"), ("new", 9, "v2")], t.schema))

    now = {(r.k, r.v, r.extra) for r in t.read().collect()}
    then = {(r.k, r.v, r.extra) for r in t.read(at=n1).collect()}
    assert ("k2", 222, "v2") in now and ("new", 9, "v2") in now
    assert then == {(f"k{i}", i, "v1") for i in range(5)}
    # default read is the latest commit
    assert {(r.k, r.v, r.extra) for r in t.read(at=t._versions()[-1]).collect()} == now

    # the returned frame survives later GC of its segment files
    n2 = t._versions()[-1]
    pinned = t.read(at=n2)
    t.upsert(spark.createDataFrame([("k0", 100, "v3")], t.schema))
    t.upsert(spark.createDataFrame([("k1", 101, "v4")], t.schema))
    assert ("k2", 222, "v2") in {
        (r.k, r.v, r.extra) for r in pinned.collect()
    }

    with _pytest.raises(ValueError, match="no longer retained"):
        t.read(at=n1)  # vacuumed past the retention horizon
    with _pytest.raises(ValueError, match="does not exist"):
        t.read(at=99999)  # never existed — distinct message
    # ids below the first-ever commit (1) never existed either — they
    # must NOT claim "no longer retained" (r2 ADVICE)
    with _pytest.raises(ValueError, match="does not exist"):
        t.read(at=0)
    with _pytest.raises(ValueError, match="does not exist"):
        t.read(at=-3)
