"""`ensure_parallelism` sizes an Arrow/Python stage from Catalyst's
estimate of the input bytes: one task per ``ARROW_TASK_BYTES``, capped
at the floor (``min(8, defaultParallelism)`` or the caller's value).
Unknown-size frames keep the floor, streaming frames pass through, the
sf0.1 scans keep the partition counts the fixed floor gave them, and
the helper itself starts no Spark job."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mediawiki_to_notion_spark.plans.pipeline import (
    ARROW_TASK_BYTES,
    ensure_parallelism,
)
from mediawiki_to_notion_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

SF01 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


def _floor(spark) -> int:
    return min(8, spark.sparkContext.defaultParallelism)


def _n(df) -> int:
    return df.rdd.getNumPartitions()


def _small_local(spark):
    # a pandas frame becomes a LocalRelation, whose size Catalyst knows
    pdf = pd.DataFrame({"vec_id": range(20),
                        "x": [float(i) for i in range(20)]})
    return spark.createDataFrame(pdf).coalesce(1)


def _rdd_backed(spark):
    rows = [(i, float(i)) for i in range(20)]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                                 "vec_id long, x double")


def test_small_frame_gets_one_partition(spark):
    df = _small_local(spark)
    assert df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() \
        < ARROW_TASK_BYTES
    assert _n(ensure_parallelism(df)) == 1
    assert _n(ensure_parallelism(df, 16)) == 1


def test_unknown_size_frame_keeps_the_floor(spark):
    df = _rdd_backed(spark)
    assert _n(df) == 1
    assert _n(ensure_parallelism(df)) == _floor(spark)
    assert _n(ensure_parallelism(df, 16)) == 16


def test_streaming_frame_is_returned_unchanged(spark):
    s = spark.readStream.format("rate").load()
    assert ensure_parallelism(s) is s
    assert ensure_parallelism(s, 16) is s


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 data absent")
@pytest.mark.parametrize("table", ["embeddings", "documents",
                                   "lineitem", "orders"])
@pytest.mark.parametrize("min_partitions", [None, 16])
def test_sf01_scans_keep_the_fixed_floor_count(spark, table, min_partitions):
    """The headline bench's inputs are large enough that the size cap
    never binds: each scan gets what the fixed floor gave it."""
    df = load_table(spark, table, SF01)
    floor = min_partitions or _floor(spark)
    assert _n(ensure_parallelism(df, min_partitions)) == max(_n(df), floor)


def test_helper_starts_no_spark_job(spark):
    sc = spark.sparkContext
    frames = [_small_local(spark), _rdd_backed(spark)]
    if os.path.isdir(SF01):
        frames += [load_table(spark, t, SF01) for t in ("documents", "embeddings")]
    group = "ensure-parallelism-no-job"
    sc.setJobGroup(group, "ensure_parallelism probe")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        for df in frames:
            for floor in (None, 16):
                ensure_parallelism(df, floor)
        after = list(sc.statusTracker().getJobIdsForGroup(group))
        # control: an action in the same group is seen by the tracker
        frames[0].count()
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before
    assert len(control) > len(after)
