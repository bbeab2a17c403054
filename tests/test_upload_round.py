"""What one upload round costs, and that its page statuses match the
table-scan rule they replaced.

A round is the upload pass, one blocks upsert, one pages upsert and a
DLQ append only when something failed; its page state comes from its
own results (each row's pre-round ``n_pending``), and the drain stops
after the round that leaves no page UPLOADING, or raises when its round
budget runs out first."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.streaming import ingest
from mediawiki_to_notion_spark.streaming import upload as UP
from mediawiki_to_notion_spark.streaming.notion_client import ScriptedTransport

# 40 pages x 31 blocks all fit one 50-block chunk: a one-round drain.
# Its jobs, counted per job group: 4 in the upload pass (its AQE stages,
# the cache build and the observed noop write) and 3 in each upsert.
ROUND_JOBS = 10
PROBE_MD = "# Title\n\n" + "\n\n".join(f"para {i}" for i in range(30)) + "\n"


def test_one_chunk_drain_job_budget(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    tables_dir = str(tmp_path / "tables")
    staged = spark.createDataFrame(
        [(f"wiki/P{i}.md", PROBE_MD) for i in range(40)],
        "s3_object_key string, markdown string",
    )
    ingest.ingest_batch(spark, staged, tables_dir)
    assert ingest.blocks_table(spark, tables_dir).read().count() == 40 * 31

    # the sink ran once: the round's later steps read its cached results
    # instead of re-running the worker
    worker_runs = sc.accumulator(0)
    make_worker = UP._make_worker

    def counting_worker(cfg):
        worker = make_worker(cfg)

        def run(batches):
            worker_runs.add(1)
            yield from worker(batches)

        return run

    rounds_run = []
    run_upload = UP.run_upload

    def counting_round(*args, **kwargs):
        rounds_run.append(1)
        return run_upload(*args, **kwargs)

    monkeypatch.setattr(UP, "_make_worker", counting_worker)
    monkeypatch.setattr(UP, "run_upload", counting_round)
    group = "upload-round-budget"
    sc.setJobGroup(group, "one-chunk drain")
    try:
        rounds = UP.drain(spark, tables_dir,
                          UP.UploadConfig(transport=ScriptedTransport()))
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rounds == 1
    assert len(rounds_run) == 1  # no closing round that finds nothing
    assert worker_runs.value == 1
    assert len(jobs) <= ROUND_JOBS
    pages = ingest.pages_table(spark, tables_dir).read().collect()
    assert {p.status for p in pages} == {"SUCCESS"}


@pytest.mark.parametrize("fail_a", [False, True], ids=["ok", "a1-fails"])
@pytest.mark.parametrize("parallelism", [1, 2])
@pytest.mark.parametrize("max_blocks", [1, 2, 50])
def test_round_status_parity(spark, staged_tables, monkeypatch,
                             max_blocks, parallelism, fail_a):
    """After every round of a drain, each page the round touched has the
    status the old rule reads off the tables: FAIL if a block of the
    batch failed, SUCCESS if the blocks table holds no un-uploaded block
    of the batch, else UPLOADING.  Page A has 3 blocks, so at
    max_blocks 1 and 2 a failing A is cut into chunks (at 2 it fails
    with a block still pending).  drain counts only the rounds that
    uploaded something and never runs an empty closing round."""
    blocks = ingest.blocks_table(spark, staged_tables)
    pages = ingest.pages_table(spark, staged_tables)
    batch_a = blocks.read().filter(F.col("s3_object_key") == "wiki/A.md") \
        .first().batch_id
    script = {f"block:{batch_a}:1": [502] * 10} if fail_a else {}
    cfg = UP.UploadConfig(
        transport=ScriptedTransport(script=script), max_blocks=max_blocks,
        upload_parallelism=parallelism,
    )
    calls, productive = [], []
    run_upload = UP.run_upload

    def checked_round(*args, **kwargs):
        results = run_upload(*args, **kwargs)
        rows = results.collect()  # cached; drain unpersists it after
        calls.append(len(rows))
        if not rows:
            return results
        productive.append(len(rows))
        failed = {r.batch_id for r in rows if not r.ok}
        left = {r.batch_id for r in blocks.read()
                .filter(F.col("uploaded_at").isNull())
                .select("batch_id").collect()}
        expected = {
            r.batch_id: "FAIL" if r.batch_id in failed
            else "UPLOADING" if r.batch_id in left else "SUCCESS"
            for r in rows
        }
        got = {p.batch_id: p.status for p in pages.read().collect()
               if p.batch_id in expected}
        assert got == expected, (len(calls), got, expected)
        return results

    monkeypatch.setattr(UP, "run_upload", checked_round)
    rounds = UP.drain(spark, staged_tables, cfg)
    assert rounds == len(productive) == len(calls)
    statuses = {p.s3_object_key: p.status for p in pages.read().collect()}
    assert statuses == {"wiki/A.md": "FAIL" if fail_a else "SUCCESS",
                        "wiki/B.md": "SUCCESS"}
    # three blocks a page: chunks of 1 take three rounds (a failing A
    # stops after its second), chunks of 2 take two, chunks of 50 one
    assert rounds == {1: 3, 2: 2, 50: 1}[max_blocks]


def test_drain_raises_when_round_budget_runs_out(spark, staged_tables):
    """Both pages need two 2-block chunks.  A one-round budget leaves
    them UPLOADING, so drain raises (a streaming batch must not commit
    with blocks pending); a second one-round drain uploads the last
    chunk, leaves nothing UPLOADING and returns."""
    cfg = UP.UploadConfig(transport=ScriptedTransport(), max_blocks=2)
    with pytest.raises(RuntimeError, match="round budget"):
        UP.drain(spark, staged_tables, cfg, max_rounds=1)
    pages = ingest.pages_table(spark, staged_tables)
    assert {p.status for p in pages.read().collect()} == {"UPLOADING"}
    assert UP.drain(spark, staged_tables, cfg, max_rounds=1) == 1
    assert {p.status for p in pages.read().collect()} == {"SUCCESS"}
