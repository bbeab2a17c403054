"""``local_frame``: driver-built rows as an Arrow local relation.

Every package frame built from driver rows goes through this helper, so
it must round-trip each column type the package hands it bit for bit
and plan as a ``LocalTableScan``, never as a Python-RDD scan."""

from __future__ import annotations

import math

from pyspark.sql.types import StructType

from mediawiki_to_notion_spark import schemas
from mediawiki_to_notion_spark.plans.pipeline import local_frame

# every column type a package call site passes the helper
ALL_TYPES = "a long, b int, c double, s string, f boolean, l array<string>"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_round_trips_every_package_type(spark):
    rows = [
        (1, 2, float("nan"), None, True, ["a", None]),
        (-2**63, -2**31, -0.0, "é ü 漢", False, []),
        (2**63 - 1, 2**31 - 1, 1e-300, "", None, None),
        (None, None, None, "x", True, ["only"]),
    ]
    df = local_frame(spark, rows, ALL_TYPES)
    assert df.schema == StructType.fromDDL(ALL_TYPES)
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(rows)
    for g, want in zip(got, rows):
        assert g[:2] == want[:2] and g[3:] == want[3:]
        if isinstance(want[2], float) and math.isnan(want[2]):
            assert math.isnan(g[2])
        elif want[2] is not None:
            # same value AND same sign: -0.0 must stay negative
            assert g[2] == want[2]
            assert math.copysign(1, g[2]) == math.copysign(1, want[2])
        else:
            assert g[2] is None


def test_zero_rows_keep_the_schema(spark):
    df = local_frame(spark, [], ALL_TYPES)
    assert df.collect() == []
    assert df.schema == StructType.fromDDL(ALL_TYPES)
    # a StructType schema passes through unchanged, NOT NULL flags too
    pages = local_frame(spark, [], schemas.NOTION_PAGE)
    assert pages.schema == schemas.NOTION_PAGE
    assert pages.count() == 0


def test_plan_leaf_is_a_local_table_scan(spark):
    for rows in ([(1, 2, 0.5, "s", True, ["w"])], []):
        plan = _physical(local_frame(spark, rows, ALL_TYPES))
        assert plan.startswith("LocalTableScan"), plan
        assert "ExistingRDD" not in plan
    # the list path this replaces: a Python-RDD scan
    legacy = spark.createDataFrame([(1, 2)], "a long, b int")
    assert "ExistingRDD" in _physical(legacy)


def test_local_relation_carries_size_statistics(spark):
    """A LocalRelation's size is its rows' size, not the
    ``spark.sql.defaultSizeInBytes`` an RDD leaf estimates."""
    df = local_frame(spark, [(i, i, float(i)) for i in range(512)],
                     "a long, b int, c double")
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert 0 < int(str(est)) < 1 << 20
