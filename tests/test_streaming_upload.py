"""Streaming ingest + upload sink tests (FIXTURES A3-A7):
exactly-once ingest, ordered rate-limited upload, retry policy,
fail-fast, status machine, DLQ capture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.streaming import ingest
from mediawiki_to_notion_spark.streaming.notion_client import (
    HTTPStatusError,
    NotionClient,
    RateLimiter,
    ScriptedTransport,
    TransportError,
)
from mediawiki_to_notion_spark.streaming.upload import UploadConfig, drain, run_upload
from tests.conftest import MD_A, MD_B


# --- client-level retry policy (FIXTURES A7) --------------------------------

def test_retry_429_then_success():
    tr = ScriptedTransport(script={"block:b:0": [429, 429, 200]})
    c = NotionClient(tr, RateLimiter(0))
    c.upload_block("b", 0)
    assert tr.calls["block:b:0"] == 3


def test_retry_exhausted_on_5xx():
    tr = ScriptedTransport(script={"block:b:0": [502] * 10})
    c = NotionClient(tr, RateLimiter(0))
    with pytest.raises(HTTPStatusError):
        c.upload_block("b", 0)
    # 1 initial + 5 status retries, then give up (urllib3 Retry(status=5))
    assert tr.calls["block:b:0"] == 6


def test_connect_error_not_retried():
    tr = ScriptedTransport(script={"block:b:0": [0, 200]})
    c = NotionClient(tr, RateLimiter(0))
    with pytest.raises(TransportError):
        c.upload_block("b", 0)
    assert tr.calls["block:b:0"] == 1


def test_non_retryable_status_raises_immediately():
    tr = ScriptedTransport(script={"block:b:0": [404, 200]})
    c = NotionClient(tr, RateLimiter(0))
    with pytest.raises(HTTPStatusError):
        c.upload_block("b", 0)
    assert tr.calls["block:b:0"] == 1


class _RecordingClock:
    def __init__(self) -> None:
        self.t, self.sleeps = 0.0, []

    def monotonic(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.sleeps.append(s)
        self.t += s


class _SleepingTransport:
    """Raises the given errors in turn, then succeeds; ``sleep = True``
    lets the client's backoff run on the limiter's clock."""

    sleep = True

    def __init__(self, *errors: HTTPStatusError) -> None:
        self.errors = list(errors)
        self.calls = 0

    def request(self, op_key: str, payload: dict | None = None) -> dict:
        self.calls += 1
        if self.errors:
            raise self.errors.pop(0)
        return {"ok": True, "url": f"https://notion.example/{op_key}"}


def test_backoff_schedule_is_urllib3s():
    # urllib3 Retry(backoff_factor=0.2): no wait before the first retry,
    # then 0.2 * 2^(n-1)
    clock = _RecordingClock()
    tr = _SleepingTransport(*[HTTPStatusError(502) for _ in range(6)])
    c = NotionClient(tr, RateLimiter(0, clock=clock))
    with pytest.raises(HTTPStatusError):
        c.upload_block("b", 0)
    assert tr.calls == 6
    assert clock.sleeps == pytest.approx([0, 0.4, 0.8, 1.6, 3.2])


def test_retry_after_replaces_backoff():
    clock = _RecordingClock()
    tr = _SleepingTransport(HTTPStatusError(503, retry_after_s=1.5))
    c = NotionClient(tr, RateLimiter(0, clock=clock))
    c.upload_block("b", 0)
    assert tr.calls == 2
    assert clock.sleeps == [1.5]


# --- ingest ------------------------------------------------------------------

def test_ingest_idempotent_replay(spark, staged_tables):
    tables_dir = staged_tables
    n_blocks = ingest.blocks_table(spark, tables_dir).read().count()
    staged = spark.createDataFrame(
        [("wiki/A.md", MD_A)], "s3_object_key string, markdown string"
    )
    ingest.ingest_batch(spark, staged, tables_dir)  # replay of one file
    assert ingest.blocks_table(spark, tables_dir).read().count() == n_blocks
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert {p.status for p in pages} == {"NEW"}


def test_ingest_block_ordering(spark, staged_tables):
    blocks = ingest.blocks_table(spark, staged_tables).read()
    a = (
        blocks.filter(F.col("s3_object_key") == "wiki/A.md")
        .orderBy("block_index").collect()
    )
    assert [r.block_type for r in a] == ["header", "text", "bulleted_list"]
    assert [r.block_index for r in a] == [0, 1, 2]


# --- upload sink -------------------------------------------------------------

def test_upload_success_path(spark, staged_tables):
    tables_dir = staged_tables
    cfg = UploadConfig(transport=ScriptedTransport())
    results = run_upload(spark, tables_dir, cfg)
    assert results.filter(~F.col("ok")).count() == 0
    pages = {p.s3_object_key: p for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert all(p.status == "SUCCESS" for p in pages.values())
    assert all(p.page_url for p in pages.values())
    blocks = ingest.blocks_table(spark, tables_dir).read()
    assert blocks.filter(F.col("uploaded_at").isNull()).count() == 0
    assert ingest.failures_table(spark, tables_dir).read().count() == 0


def test_upload_fail_fast_and_dlq(spark, staged_tables):
    """Block 1 of page A dies (retries exhausted) → remaining A blocks
    skipped, page A FAIL + failure row; page B unaffected (SUCCESS)."""
    tables_dir = staged_tables
    batch_a = ingest.blocks_table(spark, tables_dir).read() \
        .filter(F.col("s3_object_key") == "wiki/A.md").first().batch_id
    tr = ScriptedTransport(script={f"block:{batch_a}:1": [502] * 10})
    results = run_upload(spark, tables_dir, UploadConfig(transport=tr))

    res_a = {r.block_index: r for r in results.filter(F.col("batch_id") == batch_a).collect()}
    assert res_a[0].ok
    assert not res_a[1].ok and "502" in res_a[1].error
    assert not res_a[2].ok and res_a[2].error.startswith("skipped:")

    pages = {p.s3_object_key: p.status for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert pages == {"wiki/A.md": "FAIL", "wiki/B.md": "SUCCESS"}

    fails = ingest.failures_table(spark, tables_dir).read().collect()
    assert [f.s3_object_key for f in fails] == ["wiki/A.md"]
    assert "502" in fails[0].error


def test_upload_chunked_drain(spark, staged_tables):
    """MaxBlocks chunking + outer work loop (state machine :238-248):
    chunk size 1 → multiple rounds, everything drains to SUCCESS."""
    tables_dir = staged_tables
    cfg = UploadConfig(transport=ScriptedTransport(), max_blocks=1)
    rounds = drain(spark, tables_dir, cfg)
    assert rounds >= 3  # 7 blocks / 1 per round per batch, parallel batches
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert {p.status for p in pages} == {"SUCCESS"}
    assert ingest.blocks_table(spark, tables_dir).read() \
        .filter(F.col("uploaded_at").isNull()).count() == 0


def test_drain_does_not_pin_cached_rounds(spark, staged_tables):
    """Each round's cached result frame is released once the round's
    transitions are applied: the persistent-RDD count is flat across a
    multi-round drain."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    cfg = UploadConfig(transport=ScriptedTransport(), max_blocks=1)
    assert drain(spark, staged_tables, cfg) >= 3
    assert jsc.getPersistentRDDs().size() == before


def test_upload_missing_parent_url(spark, staged_tables):
    """Missing parenturl.txt → page creation fails → FAIL + DLQ
    (upload_notion_blocks.py:217-225 error path)."""
    tables_dir = staged_tables
    parent_urls = spark.createDataFrame(
        [("wiki", "https://notion.example/parent")], "dir_prefix string, parent_url string"
    ).filter(F.col("dir_prefix") == "nonexistent")  # empty → no parents
    results = run_upload(
        spark, tables_dir, UploadConfig(transport=ScriptedTransport()), parent_urls
    )
    assert results.filter(F.col("ok")).count() == 0
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert {p.status for p in pages} == {"FAIL"}


def test_upload_resume_after_uploading(spark, staged_tables):
    """Partial chunk leaves status UPLOADING; a second pass completes it
    (NEW→UPLOADING→SUCCESS transition, upload_notion_blocks.py:129-152)."""
    tables_dir = staged_tables
    cfg = UploadConfig(transport=ScriptedTransport(), max_blocks=2)
    run_upload(spark, tables_dir, cfg)
    statuses = {p.s3_object_key: p.status
                for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert statuses["wiki/A.md"] == "UPLOADING"  # 3 blocks, only 2 done
    run_upload(spark, tables_dir, cfg)
    statuses = {p.s3_object_key: p.status
                for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert set(statuses.values()) == {"SUCCESS"}


def test_upload_parallelism_shards_by_batch(spark, staged_tables):
    """upload_parallelism > 1 shards the sink by batch_id while keeping
    per-page ordering and fail-fast: ordering is within-page, so pages
    may upload concurrently without violating the reference's per-page
    block sequence (SURVEY §2.7)."""
    tables_dir = staged_tables
    batch_a = ingest.blocks_table(spark, tables_dir).read() \
        .filter(F.col("s3_object_key") == "wiki/A.md").first().batch_id
    tr = ScriptedTransport(script={f"block:{batch_a}:1": [502] * 10})
    results = run_upload(
        spark, tables_dir, UploadConfig(transport=tr, upload_parallelism=2)
    )
    res_a = {r.block_index: r for r in
             results.filter(F.col("batch_id") == batch_a).collect()}
    assert res_a[0].ok and not res_a[1].ok
    assert res_a[2].error.startswith("skipped:")  # fail-fast held per shard
    pages = {p.s3_object_key: p.status
             for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert pages == {"wiki/A.md": "FAIL", "wiki/B.md": "SUCCESS"}


def test_worker_crash_marks_pages_aborted(spark, staged_tables):
    """Worker *process* death (not an API error) → the pass's pages go
    ABORTED (upload-state-machine.asl.json:215-237 States.TaskFailed
    catch), ABORTED pages leave the pending set so a crash-looping page
    cannot wedge the drain, and recover_aborted re-queues them."""
    from mediawiki_to_notion_spark.streaming.upload import (
        pending_blocks,
        recover_aborted,
    )

    tables_dir = staged_tables
    batch_a = ingest.blocks_table(spark, tables_dir).read() \
        .filter(F.col("s3_object_key") == "wiki/A.md").first().batch_id
    crash_tr = ScriptedTransport(script={f"block:{batch_a}:1": [-1]})
    with pytest.raises(Exception):
        run_upload(spark, tables_dir, UploadConfig(transport=crash_tr))

    pages = {p.s3_object_key: p.status
             for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert pages == {"wiki/A.md": "ABORTED", "wiki/B.md": "ABORTED"}
    # ABORTED pages are not pending: the drain cannot crash-loop on them
    assert pending_blocks(spark, tables_dir).isEmpty()
    assert drain(spark, tables_dir, UploadConfig(transport=crash_tr)) == 0

    # operator requeue → next drain with a healthy transport completes
    assert recover_aborted(spark, tables_dir) == 2
    rounds = drain(spark, tables_dir, UploadConfig(transport=ScriptedTransport()))
    assert rounds >= 1
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert {p.status for p in pages} == {"SUCCESS"}
    assert recover_aborted(spark, tables_dir) == 0


def test_worker_crash_aborted_with_parallelism(spark, staged_tables):
    """The crash can land in ANY shard: with upload_parallelism > 1 the
    job must still fail and mark the pass ABORTED (a first-partition-only
    emptiness probe would let a later shard's crash escape)."""
    from mediawiki_to_notion_spark.streaming.upload import recover_aborted

    tables_dir = staged_tables
    batch_b = ingest.blocks_table(spark, tables_dir).read() \
        .filter(F.col("s3_object_key") == "wiki/B.md").first().batch_id
    crash_tr = ScriptedTransport(script={f"block:{batch_b}:0": [-1]})
    with pytest.raises(Exception):
        run_upload(
            spark, tables_dir,
            UploadConfig(transport=crash_tr, upload_parallelism=2),
        )
    pages = {p.status for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert pages == {"ABORTED"}
    assert recover_aborted(spark, tables_dir) == 2


def test_streaming_file_source(spark, tmp_path):
    """readStream *.md → availableNow drain → tables populated; non-.md
    files ignored (the S3 suffix filter, mw_to_notion_stack.py:461-465)."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "One.md").write_text(MD_A)
    (inbox / "Two.md").write_text(MD_B)
    (inbox / "ignore.txt").write_text("not markdown")
    tables_dir = str(tmp_path / "tables")
    q = ingest.start_md_stream(
        spark, str(inbox), tables_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert sorted(p.s3_object_key.rsplit("/", 1)[-1] for p in pages) == ["One.md", "Two.md"]
    assert {p.status for p in pages} == {"NEW"}


def test_chained_pipeline_stream_end_to_end(spark, tmp_path):
    """One streaming query carries a file from arrival to SUCCESS: the
    ingest+drain chain runs per micro-batch, and a later arrival is
    picked up by a fresh availableNow pass without disturbing done
    pages (checkpointed exactly-once)."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "One.md").write_text(MD_A)
    (inbox / "Two.md").write_text(MD_B)
    tables_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")
    cfg = UploadConfig(transport=ScriptedTransport())

    q = ingest.start_pipeline_stream(spark, str(inbox), tables_dir, ckpt, cfg)
    assert q.awaitTermination(120)
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert len(pages) == 2 and {p.status for p in pages} == {"SUCCESS"}

    (inbox / "Three.md").write_text(MD_A)
    q = ingest.start_pipeline_stream(spark, str(inbox), tables_dir, ckpt, cfg)
    assert q.awaitTermination(120)
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert len(pages) == 3 and {p.status for p in pages} == {"SUCCESS"}


def test_chained_stream_recovers_aborted_on_next_arrival(spark, tmp_path):
    """A worker crash fails the streaming batch (uncommitted); the next
    run auto-requeues the ABORTED pages and completes them."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "One.md").write_text(MD_A)
    tables_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")

    class _AlwaysCrash:
        def request(self, op_key, payload=None):
            from mediawiki_to_notion_spark.streaming.notion_client import WorkerCrash
            raise WorkerCrash(f"boom at {op_key}")

    q = ingest.start_pipeline_stream(
        spark, str(inbox), tables_dir, ckpt, UploadConfig(transport=_AlwaysCrash())
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
        q.stop()
    pages = {p.status for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert pages == {"ABORTED"}

    # healthy transport + a replayed availableNow pass: the failed batch
    # was never committed, so it replays and auto-recovery requeues
    q = ingest.start_pipeline_stream(
        spark, str(inbox), tables_dir, ckpt, UploadConfig(transport=ScriptedTransport())
    )
    assert q.awaitTermination(120)
    pages = {p.status for p in ingest.pages_table(spark, tables_dir).read().collect()}
    assert pages == {"SUCCESS"}
