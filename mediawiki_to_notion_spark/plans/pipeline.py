"""The reference's three entry points as batch DataFrame plans
(SURVEY §3).

1. `process_dump` — XML dump → cleaned, converted markdown pages +
   decoded binary files + warning side-outputs
   (process-mw-dump.py:389-398 CLI equivalent).  The Markdown and
   upload writers are Arrow stages (`write_markdown`, `write_uploads`)
   that write their files from the executor and yield only their error
   rows, so writing a file tree needs no Python-RDD pass.
2. `store_blocks` — staged markdown → ordered block rows + page rows
   with status NEW (store_notion_blocks.py:75-165 equivalent).
3. the upload stage lives in streaming/upload.py (its natural home —
   the reference runs it as an event-driven state machine).

Ordering of stages follows SURVEY §4: cheap relational filters first
(namespace route, empty/redirect), regex chain next (codegen), the
Python stages (fencer / markdown parse) last and Arrow-batched —
UDFs are optimizer barriers, so the barrier sits behind every pushdownable
predicate by construction.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from functools import partial

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from mediawiki_to_notion_spark.functions import wikitext as wt
from mediawiki_to_notion_spark.functions.gfm_convert import convert_batches
from mediawiki_to_notion_spark.functions.markdown_blocks import (
    BLOCK_ROWS_DDL,
    markdown_to_block_rows,
)

WIKITEXT_NS = (0, 14)   # Main, Category → WikitextParser route
FILE_NS = (6,)          # File → FileParser route

# Estimated input bytes per Arrow/Python task.  Below this, another
# task costs an Arrow round trip (worker handoff, batch framing) that
# outweighs the work it would take over.  The densest stage sets it:
# corpus_filter_agreement's per-row Python battery runs 1.46x slower
# on its 21 KB sf0.01 input as 1 task than as 4, while the SRP-LSH
# numpy kernels gain from 16 -> 6 tasks on 158 KB.  4 KiB keeps every
# sf0.01 and sf0.1 call at its floor on 4 cores, and still runs the
# few-KB inputs (a 20-vector table) as one or two tasks.
ARROW_TASK_BYTES = 4 * 1024


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ahead of an Arrow/Python stage when the input arrives
    in fewer splits than its size can keep busy (a single parquet file
    otherwise serializes the whole UDF stage through one worker).

    The target is one task per ``ARROW_TASK_BYTES`` of Catalyst's size
    estimate, capped at the floor — ``min_partitions``, else
    ``min(8, defaultParallelism)`` — and at least 1.  A frame whose size
    is unknown (an RDD leaf estimates ``spark.sql.defaultSizeInBytes``)
    gets the floor.  The estimate comes from the optimized plan's
    statistics and runs no Spark job.  The frame is only ever widened:
    a source that already has the target's splits is returned as is."""
    if df.isStreaming:
        # a streaming frame has no static partition count to probe
        # (df.rdd raises); micro-batch parallelism comes from the
        # source, and the shared batch/stream cores stay usable either
        # way (r10)
        return df
    floor = min_partitions or min(
        8, df.sparkSession.sparkContext.defaultParallelism
    )
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    target = max(1, min(floor, est // ARROW_TASK_BYTES))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Driver-built rows (tuples in ``schema``'s column order) as a
    DataFrame whose plan leaf is a ``LocalTableScan``.

    The rows go to the JVM as one Arrow table typed from ``schema``, so
    the frame carries real size statistics and executing it runs no
    Python worker.  ``createDataFrame`` over a Python list instead plans
    a ``parallelize`` + Python-RDD scan (an ``ExistingRDD`` leaf with no
    statistics), which starts a second Python worker pool next to the
    Arrow stages'.  Every package frame built from driver rows goes
    through here."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def route_pages(pages: DataFrame) -> DataFrame:
    """Namespace router (process-mw-dump.py:46-79): adds a `route`
    column ∈ {wikitext, file, skip}."""
    return pages.withColumn(
        "route",
        F.when(F.col("ns_id").isin(*WIKITEXT_NS), "wikitext")
         .when(F.col("ns_id").isin(*FILE_NS), "file")
         .otherwise("skip"),
    )


def skipped_warnings(routed: DataFrame) -> DataFrame:
    """The skip-with-warning side output."""
    return routed.filter(F.col("route") == "skip").select(
        F.lit("namespace_router").alias("source"),
        F.col("title").alias("key"),
        F.concat(F.lit("ignoring namespace "), F.col("ns_id").cast("string"))
         .alias("message"),
    )


def prepare_pages(routed: DataFrame) -> DataFrame:
    """Wikitext route: filters → rule chain → fencer → title/filename
    projections → unhandled-template warning column."""
    w = (
        routed.filter(F.col("route") == "wikitext")
        .filter(~wt.is_empty_page(F.col("wikitext")))
        .filter(~wt.is_redirect(F.col("wikitext")))
    )
    bare = wt.title_without_namespace(F.col("title"), F.col("ns_id"))
    return (
        w.withColumn("cleaned", wt.prepare_wikitext(F.col("wikitext"), F.col("ns_name")))
        .withColumn("bare_title", bare)
        .withColumn("filename", wt.safe_filename(bare))
        .withColumn("unhandled_template", wt.unhandled_template(F.col("cleaned")))
    )


def _write_markdown_batches(outdir: str,
                            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas writer over (ns_name, filename, cleaned): converts each
    page (``convert_batches``), writes its ``<outdir>/<ns_name>/<filename>.md``
    and yields only the pages that failed to convert."""
    for pdf in convert_batches(batches):
        for ns_name, filename, markdown in zip(
            pdf["ns_name"], pdf["filename"], pdf["markdown"]
        ):
            if markdown is None:
                continue
            d = os.path.join(outdir, ns_name)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, filename + ".md"), "w") as f:
                f.write(markdown)
        yield pdf.loc[pdf["convert_error"].notna(),
                      ["ns_name", "filename", "convert_error"]]


def write_markdown(prepared: DataFrame, outdir: str) -> DataFrame:
    """Markdown writer stage over ``prepare_pages`` output: a lazy frame of
    the conversion errors ``(ns_name, filename, convert_error)``; the
    action that forces it writes the ``.md`` files."""
    return prepared.select("ns_name", "filename", "cleaned").mapInPandas(
        partial(_write_markdown_batches, outdir),
        "ns_name string, filename string, convert_error string",
    )


def decode_files(files: DataFrame) -> DataFrame:
    """File route: base64 guard (process-mw-dump.py:160-163) → one row
    per upload, ``(filename, content, message)``: the decoded bytes for a
    base64 upload (``b""`` for empty contents), else the decode-error
    message."""
    b64 = F.col("encoding") == "base64"  # NULL for a missing encoding
    # an empty <contents encoding="base64"/> parses as NULL: it is b""
    contents = F.coalesce(F.col("contents_b64"), F.lit(""))
    return files.select(
        "filename",
        F.when(b64, F.unbase64(F.regexp_replace(contents, r"\s+", "")))
         .alias("content"),
        F.when(b64, F.lit(None)).otherwise(
            F.concat(F.lit("expected base64 encoding, got "),
                     F.coalesce(F.col("encoding"), F.lit("NULL")))
        ).alias("message"),
    )


def _write_upload_batches(outdir: str,
                          batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas writer over ``decode_files`` rows: writes each decoded
    upload to ``<outdir>/File/<filename>`` and yields the decode-error
    side-output rows ``(source, key, message)``."""
    d = os.path.join(outdir, "File")
    for pdf in batches:
        bad = pdf["message"].notna()
        for filename, content in zip(pdf.loc[~bad, "filename"],
                                     pdf.loc[~bad, "content"]):
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, filename), "wb") as f:
                f.write(content)
        yield pd.DataFrame({"source": "file_decoder",
                            "key": pdf.loc[bad, "filename"],
                            "message": pdf.loc[bad, "message"]})


def write_uploads(files: DataFrame, outdir: str) -> DataFrame:
    """Upload writer stage: a lazy frame of the decode errors
    ``(source, key, message)``; the action that forces it writes the
    decoded files."""
    return decode_files(files).mapInPandas(
        partial(_write_upload_batches, outdir),
        "source string not null, key string, message string not null",
    )


def _block_rows_with_bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``markdown_to_block_rows`` with each document's ``s3_bucket``
    carried onto its block rows."""
    for pdf in batches:
        bucket = dict(zip(pdf["batch_id"], pdf["s3_bucket"]))
        for rows in markdown_to_block_rows(iter([pdf])):
            rows["s3_bucket"] = rows["batch_id"].map(bucket)
            yield rows


def store_blocks(staged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Staged markdown (s3_object_key, markdown[, batch_id]) → (ordered
    block rows, page rows with status NEW).

    The reference mints a uuid4 per file (store_notion_blocks.py:86);
    here batch_id is content-addressed (md5 of key) by default so the
    whole pipeline is deterministic and re-runs are idempotent — an
    explicit batch_id column wins if present."""
    if "batch_id" not in staged.columns:
        staged = staged.withColumn("batch_id", F.md5("s3_object_key"))
    if "s3_bucket" not in staged.columns:
        staged = staged.withColumn("s3_bucket", F.lit("local"))

    blocks = (
        ensure_parallelism(
            staged.select("batch_id", "s3_object_key", "markdown", "s3_bucket"))
        .mapInPandas(_block_rows_with_bucket,
                     f"{BLOCK_ROWS_DDL}, s3_bucket string")
        .select("batch_id", "block_index", "s3_bucket", "s3_object_key",
                "block_type", "block_json",
                F.lit(None).cast("timestamp").alias("uploaded_at"))
    )
    pages = staged.select(
        "batch_id", "s3_object_key",
        F.lit("NEW").alias("status"),
        F.current_timestamp().alias("status_time"),
        F.lit(None).cast("string").alias("page_url"),
    )
    return blocks, pages
