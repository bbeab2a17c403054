"""Pipeline metrics via ``df.observe`` (SURVEY §1.1 row 12).

The reference pushes six EMF counters to CloudWatch in chunked flushes
(store_notion_blocks.py:54-69,138,185-190; upload_notion_blocks.py:63-78,
319-324).  Spark-native: attach named observations to the DataFrames as
they execute — the metrics ride the job for free (no extra pass, no
chunking artifact) and surface through `Observation` (batch) or
`StreamingQueryListener` (streaming).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# counter names mirroring the reference's EMF metrics
BLOCKS_STORED = "BlocksStored"
PAGE_CONVERSIONS_OK = "SuccessfulPageConversions"
PAGE_CONVERSIONS_FAIL = "UnsuccessfulPageConversions"
BLOCK_UPLOADS_OK = "SuccessfulBlockUploads"
BLOCK_UPLOADS_FAIL = "UnsuccessfulBlockUploads"
# what one upload round's state transitions read off its forcing action
PAGE_FAILURES = "PageFailures"
BLOCK_BUCKETS = "BlockBuckets"
PAGE_BUCKETS = "PageBuckets"
PAGES_UPLOADING = "PagesUploading"


def observe_store(blocks: DataFrame) -> tuple[DataFrame, Observation]:
    """BlocksStored counter on the block-store path."""
    obs = Observation("store_metrics")
    return blocks.observe(obs, F.count(F.lit(1)).alias(BLOCKS_STORED)), obs


def observe_conversion(converted: DataFrame,
                       error_col: str = "convert_error") -> tuple[DataFrame, Observation]:
    """Successful/Unsuccessful page-conversion counters."""
    obs = Observation("conversion_metrics")
    out = converted.observe(
        obs,
        F.count(F.when(F.col(error_col).isNull(), 1)).alias(PAGE_CONVERSIONS_OK),
        F.count(F.when(F.col(error_col).isNotNull(), 1)).alias(PAGE_CONVERSIONS_FAIL),
    )
    return out, obs


def observe_upload(results: DataFrame, block_bucket: Column,
                   page_bucket: Column) -> tuple[DataFrame, Observation]:
    """Successful/Unsuccessful block-upload counters on the sink output,
    plus what the round's state transitions need from the same pass:
    the failures bound for the DLQ (a block whose own call failed, not
    one skipped after it: one per failed page) and the bucket ids the
    blocks upsert (successful blocks) and the pages upsert (every
    page) touch, from each table's ``bucket_expr``."""
    ok = F.col("ok")
    obs = Observation("upload_metrics")
    out = results.observe(
        obs,
        F.count(F.when(ok, 1)).alias(BLOCK_UPLOADS_OK),
        F.count(F.when(~ok, 1)).alias(BLOCK_UPLOADS_FAIL),
        F.count(F.when(~ok & ~F.col("error").startswith("skipped:"), 1))
        .alias(PAGE_FAILURES),
        F.collect_set(F.when(ok, block_bucket)).alias(BLOCK_BUCKETS),
        F.collect_set(page_bucket).alias(PAGE_BUCKETS),
    )
    return out, obs
