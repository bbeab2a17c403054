"""ParquetTable MERGE-upsert semantics (the Delta-free state store)."""

from __future__ import annotations

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
    t.upsert(spark.createDataFrame([("a", 1, "first")], t.schema), update_cols=[])
    t.upsert(
        spark.createDataFrame([("a", 99, "replay"), ("b", 2, "new")], t.schema),
        update_cols=[],
    )
    got = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert got == {"a": (1, "first"), "b": (2, "new")}


def test_update_cols_partial_merge(spark, tmp_path):
    """MERGE updating only named columns (page-status transition shape:
    status/status_time change, s3_object_key preserved).  A matched
    row keeps its own value in every column outside ``update_cols``,
    NULL included, even where the source carries a value."""
    t = _t(spark, tmp_path)
    t.upsert(spark.createDataFrame([("a", 1, "keepme"), ("b", 2, None)], t.schema))
    src = spark.createDataFrame([("a", 5, None), ("b", 7, "src")], t.schema)
    t.upsert(src, update_cols=["v"])
    got = {r.k: (r.v, r.extra) for r in t.read().collect()}
    assert got == {"a": (5, "keepme"), "b": (7, None)}


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


def test_random_mutation_sequences_match_dict_model(spark, tmp_path):
    """Model-based check: any sequence of upserts and appends must
    leave the table equal to a plain dict applying the same MERGE rules
    (source wins on matched keys; ``update_cols=[]`` never clobbers),
    including upserts that fold a bucket's appended segments."""
    import random

    rng = random.Random(11)
    t = _t(spark, tmp_path, "model")
    model: dict[str, tuple[int, str]] = {}
    keys = [f"k{i}" for i in range(12)]
    for step in range(12):
        op = rng.choice(["upsert", "insert_only", "append"])
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
            t.upsert(df, update_cols=[])
            for k, v, e in batch:
                model.setdefault(k, (v, e))
        else:
            # append semantics: blind add; to keep the model a dict,
            # only append keys not yet present
            fresh = [(k, v, e) for k, v, e in batch if k not in model]
            if not fresh:
                continue
            t.append(spark.createDataFrame(fresh, t.schema))
            for k, v, e in fresh:
                model[k] = (v, e)
        got = {r.k: (r.v, r.extra) for r in t.read().collect()}
        assert got == model, f"divergence after step {step} ({op})"
        assert t.num_rows() == len(model), f"footer count at step {step}"
