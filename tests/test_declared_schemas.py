"""Every parquet read the package makes declares its schema.

A declared read never checks the file: a column the file lacks reads
as null and an extra one is dropped.  So the declarations are pinned
to what Spark infers from the files themselves — the ten star-schema
tables at every scale factor, and the three state tables after an
ingest and a drain — and the reads are pinned to start no Spark job
(schema inference is one job per read)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from mediawiki_to_notion_spark import schemas
from mediawiki_to_notion_spark.sources.tables import (
    TABLE_NAMES,
    TABLE_SCHEMAS,
    _ensure_confs,
    load_table,
)
from mediawiki_to_notion_spark.streaming import ingest
from mediawiki_to_notion_spark.streaming.notion_client import ScriptedTransport
from mediawiki_to_notion_spark.streaming.upload import UploadConfig, drain
from tests.conftest import SF_SMOKE

TESTDATA = os.path.dirname(SF_SMOKE)
SF_DIRS = [os.path.join(TESTDATA, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]


def _shape(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    """Names, order and types; nullability is not part of the contract
    (file sources read every column as nullable)."""
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_table_schema_matches_the_footer(spark, name, sf_dir):
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    _ensure_confs(spark)
    declared = T.StructType.fromDDL(TABLE_SCHEMAS[name])
    assert _shape(declared) == _shape(spark.read.parquet(path).schema)


def test_state_table_files_match_their_declared_schema(spark, staged_tables):
    """After an ingest and a drain in which page A's block 1 dies (so
    the dead-letter table gets a row), every segment file of every
    state table carries exactly the declared columns and types."""
    batch_a = ingest.blocks_table(spark, staged_tables).read() \
        .filter("s3_object_key = 'wiki/A.md'").first().batch_id
    tr = ScriptedTransport(script={f"block:{batch_a}:1": [502] * 10})
    assert drain(spark, staged_tables, UploadConfig(transport=tr)) >= 1
    for table, declared in [
        (ingest.blocks_table(spark, staged_tables), schemas.NOTION_BLOCK),
        (ingest.pages_table(spark, staged_tables), schemas.NOTION_PAGE),
        (ingest.failures_table(spark, staged_tables), schemas.PAGE_FAILURE),
    ]:
        segments = table._segments(table._latest()[1])
        assert segments, table.path
        for seg in segments:
            assert _shape(spark.read.parquet(seg).schema) == _shape(declared), seg


def test_declared_reads_start_no_spark_job(spark, staged_tables):
    sc = spark.sparkContext
    blocks = ingest.blocks_table(spark, staged_tables)
    _, mapping = blocks._latest()
    group = "declared-schema-no-job"
    sc.setJobGroup(group, "declared parquet reads")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        frames = [load_table(spark, name, SF_SMOKE) for name in TABLE_NAMES]
        frames += [blocks.read(),
                   blocks._scan(blocks._segments(mapping, list(mapping)))]
        after = list(sc.statusTracker().getJobIdsForGroup(group))
        # control: an action in the same group is seen by the tracker
        frames[-1].count()
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before
    assert len(control) > len(after)


@pytest.mark.parametrize("nanos_as_long", ["false", "true"])
def test_nanos_events_ts_fails_loudly(spark, tmp_path, nanos_as_long):
    """Spark has no nanosecond timestamp, and `events.ts` is declared
    TIMESTAMP_NTZ: a parquet TIMESTAMP(NANOS) `ts` must fail the scan,
    never read as a long or as a wrong time, whatever the session's
    legacy nanos-as-long setting."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 3, 12)], pa.timestamp("ns")),
        "user_id": pa.array([7], pa.int64()),
        "event_type": pa.array(["click"]),
        "value": pa.array([1.0]),
        "props": pa.array(["{}"]),
    }), str(tmp_path / "events.parquet"))
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(conf, nanos_as_long)
    try:
        with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
            load_table(spark, "events", str(tmp_path)).collect()
    finally:
        spark.conf.unset(conf)
