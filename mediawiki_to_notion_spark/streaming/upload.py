"""The upload stage: ordered, rate-limited, fail-fast, idempotent sink.

Collapses the reference's Step Functions machine + distributed semaphore
+ UploadNotionBlocks Lambda (upload-state-machine.asl.json,
upload_notion_blocks.py:255-337) into one Spark round per chunk:

    pending blocks ⋈ pages ⋈ parent-urls
      → repartition(1) / by batch_id                [politeness = 1 writer]
      → per-batch pending count, MaxBlocks chunk    [window on that shuffle]
      → mapInPandas upload worker, sorted by (batch, index)
                                                    [ordered, fail-fast]
      → one forcing action, observed                [counts, touched buckets]
      → MERGE block uploaded_at / page statuses     [state transitions]
      → append failures, only if there are any      [DLQ]

A round is those four pieces of work: the upload pass, one blocks
upsert, one pages upsert and the DLQ append when needed.  The pass's
observed metrics tell the upserts which buckets they touch and the
drain whether to go on, so nothing re-reads the results or the tables to
ask.  Page state comes from the round's own results: each row carries
its batch's pending count from the start of the round, and a batch is
drained when that many blocks uploaded.  This rests on one writer:
during a round only the drain writes ``uploaded_at``, and ingest only
inserts, before a drain rather than during one (the chained stream runs
them in that order).

The ~300 LoC of semaphore/lock-cleanup ASL disappear: a single sorted
partition IS the global serialization the semaphore bought (SURVEY §2.8).
Politeness is a config (`upload_parallelism`) — raise it and the sink
shards by batch_id while staying ordered within each page.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.streaming import ingest as tables
from mediawiki_to_notion_spark.streaming import metrics as M
from mediawiki_to_notion_spark.streaming.notion_client import (
    RateLimiter,
    executor_client,
)

RESULT_DDL = (
    "batch_id string, block_index int, s3_object_key string, ok boolean, "
    "page_url string, error string, n_pending bigint"
)


@dataclass
class UploadConfig:
    transport: object
    max_blocks: int = 50          # per-invocation chunk (SSM MaxBlocks analogue)
    min_interval_s: float = 0.0   # rate-limit pacing between API calls
    # reference: ConcurrentAccessLimit=1.  Each shard paces on its own,
    # so the aggregate request rate is upload_parallelism / min_interval_s.
    upload_parallelism: int = 1


def _make_worker(cfg: UploadConfig):
    """Build the mapInPandas worker.  Rows arrive sorted by
    (batch_id, block_index); state is per-batch: first failed block
    breaks the page (upload_notion_blocks.py:282-297)."""

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = executor_client(cfg.transport,
                                 RateLimiter(cfg.min_interval_s))
        failed_batches: set[str] = set()
        page_urls: dict[str, str] = {}
        out_cols = ["batch_id", "block_index", "s3_object_key", "ok",
                    "page_url", "error", "n_pending"]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.batch_id in failed_batches:
                    rows.append((r.batch_id, r.block_index, r.s3_object_key,
                                 False, None, "skipped: earlier block failed",
                                 r.n_pending))
                    continue
                try:
                    if r.batch_id not in page_urls:
                        page_urls[r.batch_id] = client.get_or_create_page(
                            r.batch_id, r.parent_url, r.page_url,
                            title=r.s3_object_key,
                        )
                    client.upload_block(
                        r.batch_id, int(r.block_index),
                        block_json=getattr(r, "block_json", None),
                        page_url=page_urls[r.batch_id],
                    )
                    rows.append((r.batch_id, r.block_index, r.s3_object_key,
                                 True, page_urls[r.batch_id], None,
                                 r.n_pending))
                except Exception as exc:  # noqa: BLE001 - sink boundary
                    failed_batches.add(r.batch_id)
                    rows.append((r.batch_id, r.block_index, r.s3_object_key,
                                 False, page_urls.get(r.batch_id),
                                 f"{type(exc).__name__}: {exc}", r.n_pending))
            yield pd.DataFrame(rows, columns=out_cols)

    return worker


def pending_blocks(spark: SparkSession, tables_dir: str,
                   parent_urls: DataFrame | None = None,
                   max_blocks: int | None = None,
                   shards: int | None = None) -> DataFrame:
    """Un-uploaded blocks of non-terminal pages, joined with page state
    and parent URLs.  Every row carries ``n_pending``, its batch's count
    of un-uploaded blocks before the round, so a round tells a drained
    page from a partly drained one by its own results.  Optionally
    chunked to the first `max_blocks` per batch (the MaxBlocks
    pagination, upload_notion_blocks.py:260-266).

    With `shards`, the frame is the sink's input: hash-partitioned by
    batch_id (one partition when ``shards <= 1``) and sorted by
    (batch_id, block_index) within each shard.  The shard exchange comes
    first and already clusters every batch, so the per-batch window
    plans no exchange of its own, and its sort is the shard sort."""
    blocks = tables.blocks_table(spark, tables_dir).read()
    pages = tables.pages_table(spark, tables_dir).read()
    pend = (
        blocks.filter(F.col("uploaded_at").isNull()).alias("b")
        .join(
            pages.filter(F.col("status").isin("NEW", "UPLOADING")).alias("p"),
            "batch_id",
        )
        .select(
            "batch_id", F.col("b.block_index").alias("block_index"),
            F.col("b.s3_object_key").alias("s3_object_key"),
            F.col("b.block_json").alias("block_json"),
            F.col("p.page_url").alias("page_url"),
        )
    )
    if shards is not None:
        pend = (pend.repartition(shards, "batch_id") if shards > 1
                else pend.repartition(1))
    # one window spec (the frame differs, the spec does not), so the
    # count and the row number share one Window operator and one sort
    w = W.partitionBy("batch_id").orderBy("block_index")
    pend = pend.withColumn(
        "n_pending",
        F.count(F.lit(1)).over(
            w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)),
    )
    if max_blocks is not None:
        pend = (
            pend.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_blocks).drop("rn")
        )
    if parent_urls is None:
        pend = pend.withColumn("parent_url", F.lit("https://notion.example/root"))
    else:
        # parent-url lookup by directory prefix (upload_notion_blocks.py:217-225)
        pend = (
            pend.withColumn(
                "dir_prefix", F.regexp_extract("s3_object_key", r"^(.*)/[^/]+$", 1)
            )
            .join(F.broadcast(parent_urls), "dir_prefix", "left")
            .drop("dir_prefix")
        )
    if shards is not None:
        pend = pend.sortWithinPartitions("batch_id", "block_index")
    return pend


def _abort_pass(spark: SparkSession, tables_dir: str, pend: DataFrame) -> None:
    """Worker-crash recovery transition: mark every page in the crashed
    pass ABORTED (upload-state-machine.asl.json:215-237 — the
    ``States.TaskFailed`` catch sets Status=ABORTED before releasing the
    lock).  ABORTED pages are excluded from ``pending_blocks`` so a
    crash-looping page cannot wedge the drain; ``recover_aborted``
    re-queues them deliberately."""
    now = F.current_timestamp()
    aborted = pend.select("batch_id", "s3_object_key").distinct().select(
        "batch_id", "s3_object_key",
        F.lit("ABORTED").alias("status"), now.alias("status_time"),
        F.lit(None).cast("string").alias("page_url"),
    )
    tables.pages_table(spark, tables_dir).upsert(
        aborted, update_cols=["status", "status_time"]
    )


def recover_aborted(spark: SparkSession, tables_dir: str) -> int:
    """Operator-initiated requeue: ABORTED → NEW, so the next drain
    retries the crashed pages (the reference leaves this to a manual
    Step Functions re-execution; here it is an explicit transition).
    Returns the number of pages requeued."""
    p_tbl = tables.pages_table(spark, tables_dir)
    aborted = p_tbl.read().filter(F.col("status") == "ABORTED")
    n = aborted.count()
    if n:
        p_tbl.upsert(
            aborted.withColumn("status", F.lit("NEW"))
            .withColumn("status_time", F.current_timestamp()),
            update_cols=["status", "status_time"],
        )
    return n


def run_upload(spark: SparkSession, tables_dir: str, cfg: UploadConfig,
               parent_urls: DataFrame | None = None,
               stats: dict | None = None) -> DataFrame:
    """One upload pass (the state machine's work loop body).  Returns the
    per-block result frame, cached, after applying all state
    transitions.  When given, ``stats`` receives the round's observed
    counters, keyed by the ``metrics`` names (``PAGES_UPLOADING``: the
    pages the round left partly drained); reading them starts no job."""
    pend = pending_blocks(spark, tables_dir, parent_urls, cfg.max_blocks,
                          shards=cfg.upload_parallelism)
    results = pend.mapInPandas(_make_worker(cfg), RESULT_DDL).cache()
    b_tbl = tables.blocks_table(spark, tables_dir)
    p_tbl = tables.pages_table(spark, tables_dir)
    observed, obs = M.observe_upload(results, b_tbl.bucket_expr(),
                                     p_tbl.bucket_expr())
    try:
        # the round's one forcing action.  A full write, not isEmpty():
        # isEmpty evaluates only the first non-empty partition, so with
        # upload_parallelism > 1 a crash in a later partition would
        # escape this try and the pages would never go ABORTED
        observed.write.format("noop").mode("overwrite").save()
    except Exception:
        # the upload job itself died (worker crash, not an API error —
        # those become per-row failures inside the worker): ABORTED
        results.unpersist()
        _abort_pass(spark, tables_dir, pend)
        raise
    round_stats = stats if stats is not None else {}
    round_stats.update(obs.get)
    round_stats[M.PAGES_UPLOADING] = 0
    if round_stats[M.BLOCK_UPLOADS_OK] + round_stats[M.BLOCK_UPLOADS_FAIL] == 0:
        return results

    now = F.current_timestamp()
    # consume-flip instead of delete (upload_notion_blocks.py:304-309)
    ok_blocks = results.filter("ok").select(
        "batch_id", "block_index", now.alias("uploaded_at")
    )
    b_tbl.upsert(ok_blocks, update_cols=["uploaded_at"],
                 buckets=round_stats[M.BLOCK_BUCKETS])

    # page terminal status per batch (asl :311-336): FAIL if any block
    # failed, else SUCCESS when the round uploaded every block the batch
    # had pending, else UPLOADING.  n_pending − n_ok is what the blocks
    # table has left un-uploaded only under the module's one-writer
    # rule: nothing else flips uploaded_at or adds a batch's blocks
    # while the round runs
    page_state = (
        results.groupBy("batch_id")
        .agg(
            F.max(F.when(~F.col("ok"), 1).otherwise(0)).alias("any_fail"),
            F.first("s3_object_key").alias("s3_object_key"),
            F.max("page_url").alias("page_url"),
            F.first("n_pending").alias("n_pending"),
            F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
        )
        .select(
            "batch_id", "s3_object_key",
            F.when(F.col("any_fail") == 1, "FAIL")
             .when(F.col("n_pending") == F.col("n_ok"), "SUCCESS")
             .otherwise("UPLOADING").alias("status"),
            now.alias("status_time"),
            "page_url",
        )
    )
    # counted by the upsert's own write, which always runs here (every
    # result row's page is in PAGE_BUCKETS), so get() cannot wait forever
    page_obs = Observation()
    page_state = page_state.observe(
        page_obs,
        F.count(F.when(F.col("status") == "UPLOADING", 1)).alias(M.PAGES_UPLOADING),
    )
    p_tbl.upsert(page_state, update_cols=["status", "status_time", "page_url"],
                 buckets=round_stats[M.PAGE_BUCKETS])
    round_stats[M.PAGES_UPLOADING] = page_obs.get[M.PAGES_UPLOADING]

    # DLQ append (store_notion_page_fails.py:41-67)
    if round_stats[M.PAGE_FAILURES]:
        fails = (
            results.filter(~F.col("ok") & ~F.col("error").startswith("skipped:"))
            .groupBy("batch_id")
            .agg(F.first("s3_object_key").alias("s3_object_key"),
                 F.first("error").alias("error"))
            .select("s3_object_key", now.alias("event_time"),
                    F.lit("local").alias("s3_bucket"), "error")
        )
        tables.failures_table(spark, tables_dir).append(fails)
    return results


def drain(spark: SparkSession, tables_dir: str, cfg: UploadConfig,
          parent_urls: DataFrame | None = None, max_rounds: int = 100) -> int:
    """The state machine's outer loop (asl :156-248): keep invoking the
    chunked upload until no pending work remains.  Returns the rounds
    that uploaded something.

    Each round reports what it did through ``run_upload``'s observed
    counters, so the loop asks no extra question of Spark: it stops
    after a round that found no work, and after a round that left no
    page UPLOADING.  Every pending page is in every round (each has at
    least its first pending block in the chunk), so a round that
    leaves none UPLOADING has drained everything it could see.  The
    loop runs out of ``max_rounds`` only when its last round left pages
    UPLOADING, so that raises ``RuntimeError``: blocks are still
    pending."""
    rounds = 0
    while rounds < max_rounds:
        stats: dict = {}
        results = run_upload(spark, tables_dir, cfg, parent_urls, stats)
        # the round's transitions are applied, so drop its cached
        # frame: N rounds must not pin N
        results.unpersist()
        if stats[M.BLOCK_UPLOADS_OK] + stats[M.BLOCK_UPLOADS_FAIL] == 0:
            break
        rounds += 1
        if stats[M.PAGES_UPLOADING] == 0:
            break
    else:
        raise RuntimeError(
            f"upload drain exhausted its {max_rounds}-round budget with "
            "pages still UPLOADING"
        )
    return rounds
