"""Streaming ingest: staged ``*.md`` files → blocks + pages tables.

Replaces the reference's S3 → SQS → StoreNotionBlocks Lambda hop
(mw_to_notion_stack.py:461-465, store_notion_blocks.py:75-165) with a
checkpointed Structured Streaming file source and an idempotent
``foreachBatch`` writer — exactly-once where the original is
at-least-once (SURVEY §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mediawiki_to_notion_spark import schemas
from mediawiki_to_notion_spark.plans.pipeline import store_blocks
from mediawiki_to_notion_spark.storage import ParquetTable


def blocks_table(spark: SparkSession, tables_dir: str) -> ParquetTable:
    return ParquetTable(
        spark, os.path.join(tables_dir, "notion_blocks"),
        key_cols=["batch_id", "block_index"], schema=schemas.NOTION_BLOCK,
    )


def pages_table(spark: SparkSession, tables_dir: str) -> ParquetTable:
    return ParquetTable(
        spark, os.path.join(tables_dir, "notion_pages"),
        key_cols=["batch_id"], schema=schemas.NOTION_PAGE,
    )


def failures_table(spark: SparkSession, tables_dir: str) -> ParquetTable:
    return ParquetTable(
        spark, os.path.join(tables_dir, "notion_page_failures"),
        key_cols=["s3_object_key", "event_time"], schema=schemas.PAGE_FAILURE,
    )


def ingest_batch(spark: SparkSession, staged: DataFrame, tables_dir: str) -> None:
    """One idempotent micro-batch: markdown → block rows (insert-only:
    the conditional-put exactly-once of store_notion_blocks.py:128-150)
    + page rows at status NEW."""
    blocks, pages = store_blocks(staged)
    blocks_table(spark, tables_dir).upsert(blocks, update_cols=[])
    pages_table(spark, tables_dir).upsert(pages, update_cols=[])


def _md_source(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-arrival stream over ``*.md`` (pathGlobFilter replaces the S3
    suffix filter), at any depth: ``process-dump`` writes one directory
    per namespace, and its output root must ingest as a whole."""
    return (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.md")
        .option("recursiveFileLookup", "true")
        .load(input_dir)
        .select(
            F.col("_metadata.file_path").alias("s3_object_key"),
            F.col("value").alias("markdown"),
        )
    )


def _start(stream: DataFrame, sink, checkpoint_dir: str) -> StreamingQuery:
    """``availableNow``: drain everything currently staged, then stop."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_md_stream(spark: SparkSession, input_dir: str, tables_dir: str,
                    checkpoint_dir: str) -> StreamingQuery:
    """Ingest-only stream: staged markdown → blocks/pages tables."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        ingest_batch(spark, batch_df, tables_dir)

    return _start(_md_source(spark, input_dir), _sink, checkpoint_dir)


def start_pipeline_stream(spark: SparkSession, input_dir: str, tables_dir: str,
                          checkpoint_dir: str, upload_cfg,
                          parent_urls: DataFrame | None = None) -> StreamingQuery:
    """The WHOLE event-driven pipeline as one checkpointed streaming
    query: each micro-batch ingests the newly staged markdown, then
    drains the upload sink — the reference's S3-event →
    StoreNotionBlocks → upload-state-machine chain collapsed into a
    single query (SURVEY §2.9 event-chained stages).  Exactly-once
    end-to-end: file replay is absorbed by insert-only upserts, upload
    replay by the idempotent consume flip, and the drain is a no-op
    when a batch stages nothing new.

    Recovery posture: each batch first requeues ABORTED pages
    (worker-crash leftovers) so stranded work retries on the next
    arrival — the state machine's retry loop; a poisoned page then
    fails the query loudly rather than wedging silently.  A drain that
    exhausts its round budget with blocks still pending raises, so the
    batch is NOT committed and replays."""
    from mediawiki_to_notion_spark.streaming.upload import drain, recover_aborted

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        ingest_batch(spark, batch_df, tables_dir)
        recover_aborted(spark, tables_dir)
        drain(spark, tables_dir, upload_cfg, parent_urls)

    return _start(_md_source(spark, input_dir), _sink, checkpoint_dir)
