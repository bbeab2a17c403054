"""End-to-end CLI parity test: dump → markdown tree → ingest → upload →
status (the full reference workflow, SURVEY §3, in four commands)."""

from __future__ import annotations

import os

import pytest

from mediawiki_to_notion_spark import cli
from tests.test_xml_pipeline import PNG_BYTES, _dump_xml


def test_cli_full_workflow(spark, tmp_path, capsys):
    dump = tmp_path / "dump.xml"
    dump.write_text(_dump_xml())
    outdir = tmp_path / "out"

    assert cli.main(["process-dump", "-outdir", str(outdir), str(dump)]) == 0
    err = capsys.readouterr().err
    assert "WARNING: ignoring namespace 2" in err
    assert "WARNING: unhandled wiki template: {{Mystery|x}}" in err

    # side-outputs are persisted in full as parquet, stderr is bounded
    # (the reference streams every warning to the driver's stderr)
    warn_dir = outdir / "_warnings"
    skipped = spark.read.parquet(str(warn_dir / "skipped_pages"))
    assert skipped.filter("message like 'ignoring namespace%'").count() >= 1
    unhandled = spark.read.parquet(str(warn_dir / "unhandled_templates"))
    assert unhandled.filter("unhandled_template = '{{Mystery|x}}'").count() == 1

    md = outdir / "Main" / "Router Notes.md"
    assert md.exists()
    assert "RFC 2328" in md.read_text()
    assert (outdir / "Category" / "Net.md").exists()
    assert (outdir / "File" / "diagram one.png").read_bytes() == PNG_BYTES
    # redirect/empty/user pages produce no files
    assert not (outdir / "Main" / "Old Page.md").exists()
    assert not (outdir / "Main" / "Empty Page.md").exists()

    tables = str(tmp_path / "tables")
    assert cli.main(["ingest", "--input", str(outdir / "Main"), "--tables", tables]) == 0
    out = capsys.readouterr().out
    assert "pages table now has 1 rows" in out

    assert cli.main(["upload", "--tables", tables]) == 0
    out = capsys.readouterr().out
    assert "SUCCESS    1" in out

    # widget-parity dashboard: markdown table, newest first, widget fmt
    assert cli.main(["dashboard", "--tables", tables]) == 0
    out = capsys.readouterr().out
    lines = out.strip().splitlines()
    assert lines[0] == "| Time | Page | Status"
    # keys are stored URI-encoded (file-source paths), like S3 event keys
    assert any("SUCCESS" in ln and "Notes.md" in ln for ln in lines[2:])


def test_cli_ingest_descends_into_namespace_dirs(spark, tmp_path, capsys):
    """`ingest --input <outdir>` picks up the per-namespace directories
    `process-dump` writes: same pages as ingesting each one."""
    dump = tmp_path / "dump.xml"
    dump.write_text(_dump_xml())
    outdir = tmp_path / "out"
    assert cli.main(["process-dump", "-outdir", str(outdir), str(dump)]) == 0

    from mediawiki_to_notion_spark.streaming import ingest as ING

    def ingest_pages(input_dir, name) -> int:
        tables = str(tmp_path / name)
        assert cli.main(["ingest", "--input", str(input_dir),
                         "--tables", tables]) == 0
        return ING.pages_table(spark, tables).read().count()

    n_whole = ingest_pages(outdir, "tables_whole")
    n_per_ns = sum(ingest_pages(outdir / ns, f"tables_{ns}")
                   for ns in ("Main", "Category"))
    capsys.readouterr()
    assert n_whole == n_per_ns >= 2


# Jobs the command starts on _dump_xml(): one forcing write per side
# output, and a read-back of the first rows of each non-empty one.
PROCESS_DUMP_JOBS = 7


def test_process_dump_parses_once(spark, tmp_path, monkeypatch, capsys):
    """Every output of process-dump reads one cached parse of the dump:
    the parse kernel runs once per split, and the command's job group
    starts no more jobs than its side-output writes and read-backs."""
    from mediawiki_to_notion_spark.sources import xml_dump as XD

    dump = tmp_path / "dump.xml"
    dump.write_text(_dump_xml())
    sc = spark.sparkContext
    parse_runs = sc.accumulator(0)
    parse = XD._parse_splits

    def counting_parse(batches):
        parse_runs.add(1)
        yield from parse(batches)

    monkeypatch.setattr(XD, "_parse_splits", counting_parse)
    cached_before = sc._jsc.sc().getPersistentRDDs().size()
    group = "process-dump-single-pass"
    sc.setJobGroup(group, "process-dump on _dump_xml()")
    try:
        assert cli.main(["process-dump", "-outdir", str(tmp_path / "out"),
                         str(dump)]) == 0
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    capsys.readouterr()
    assert parse_runs.value == len(XD.plan_splits(str(dump))) == 1
    assert 0 < len(jobs) <= PROCESS_DUMP_JOBS
    # the cache is released when the command returns
    assert sc._jsc.sc().getPersistentRDDs().size() == cached_before


def test_process_dump_empty_base64_upload(spark, tmp_path, capsys):
    """An upload whose base64 <contents> is empty is a 0-byte file, not a
    decode error and not a failed run."""
    dump = tmp_path / "dump.xml"
    dump.write_text(
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">'
        '<siteinfo><namespaces><namespace key="6">File</namespace>'
        "</namespaces></siteinfo>"
        "<page><title>File:empty.bin</title><ns>6</ns>"
        "<revision><text>nothing here</text></revision>"
        "<upload><filename>empty.bin</filename>"
        '<contents encoding="base64"></contents></upload></page>'
        "</mediawiki>")
    outdir = tmp_path / "out"
    assert cli.main(["process-dump", "-outdir", str(outdir), str(dump)]) == 0
    capsys.readouterr()
    assert (outdir / "File" / "empty.bin").read_bytes() == b""
    errors = spark.read.parquet(str(outdir / "_warnings" / "file_decode_errors"))
    assert errors.count() == 0


def _user_pages_dump(n: int) -> str:
    pages = "".join(
        f"<page><title>User:U{i}</title><ns>2</ns>"
        f"<revision><text>user {i}</text></revision></page>"
        for i in range(n))
    return ('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">'
            '<siteinfo><namespaces><namespace key="0" />'
            '<namespace key="2">User</namespace></namespaces></siteinfo>'
            f"{pages}</mediawiki>")


@pytest.mark.parametrize("n_skipped", [20, 27])
def test_cli_side_output_overflow_line(spark, tmp_path, capsys, n_skipped):
    """stderr shows at most SIDE_OUTPUT_PRINT_LIMIT warnings per side
    output; the `... N more in` line appears only past the limit, with
    the exact remainder."""
    dump = tmp_path / "dump.xml"
    dump.write_text(_user_pages_dump(n_skipped))
    outdir = tmp_path / "out"
    assert cli.main(["process-dump", "-outdir", str(outdir), str(dump)]) == 0
    err = capsys.readouterr().err.splitlines()
    limit = cli.SIDE_OUTPUT_PRINT_LIMIT
    shown = [ln for ln in err if "WARNING: ignoring namespace 2: User:U" in ln]
    assert len(shown) == min(n_skipped, limit)
    more = [ln for ln in err if " more in " in ln]
    if n_skipped > limit:
        path = os.path.join(str(outdir), "_warnings", "skipped_pages")
        assert more == [f"\t... {n_skipped - limit} more in {path}"]
    else:
        assert more == []


def test_cli_crawl_to_shards(spark, tmp_path, capsys):
    """The `crawl` command: WARC in, funnel report + shard manifest out,
    shard-partitioned parquet + drop side-output on disk."""
    from mediawiki_to_notion_spark.sources.warc import encode_warc_record_gz

    # kept pages must now clear the Gopher battery too: >= 50 words,
    # mean word length 3-10, >= 2 distinct stop words, >= 80% alphabetic
    # words, low symbol ratio — while staying under the C4 500-char cap
    prose = ("the quick river is of a bright valley and "
             + " ".join(f"wrd{i % 9}x{i}" for i in range(48)))
    bodies = {k: f"{prose} page{k}" for k in range(5)}
    bodies[5] = "the the the " * 20            # C4 low_diversity
    # one page per Gopher rule (each passes every C4 gate first):
    stop = "the be to of and that have with a"
    bodies[6] = f"{stop} " + " ".join(           # < 50 words
        f"alpha{i} beta{i}" for i in range(8))
    import itertools as _it
    two = [a + b for a, b in _it.product("abcdefgh", repeat=2)][:60]
    bodies[7] = f"{stop} " + " ".join(two)          # mean word len < 3
    bodies[8] = (f"{stop} " + " ".join(             # '#' symbol ratio
        f"tok{i}##" for i in range(20)) + " "
        + " ".join(f"plain{i}" for i in range(28)))
    bodies[9] = (f"{stop} " + " ".join(             # numeric words
        "12345" for _ in range(20)) + " "
        + " ".join(f"word{i}" for i in range(28)))
    # ONE distinct stop word ("the", repeated for lang-ID anchoring) —
    # below the 2-distinct Gopher minimum but still detectably English
    bodies[10] = "the " * 5 + " ".join(f"token{i}" for i in range(50))
    raw = b""
    for k, body in sorted(bodies.items()):
        raw += encode_warc_record_gz(
            {"WARC-Type": "response", "WARC-Record-ID": f"<urn:cli:{k}>",
             "WARC-Target-URI": f"https://example.org/p/{k}",
             "Content-Type": "application/http; msgtype=response"},
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            + body.encode(),
        )
    warc = tmp_path / "crawl.warc.gz"
    warc.write_bytes(raw)
    outdir = tmp_path / "corpus"

    assert cli.main(["crawl", "--warc", str(warc),
                     "--outdir", str(outdir)]) == 0
    out = capsys.readouterr().out
    assert "kept" in out and "wrote 5 documents" in out
    # the boilerplate page is attributed to its failing gate
    assert "low_diversity" in out or "too_long" in out
    # each Gopher rule attributes its own page in the funnel report
    for gate in ("gopher_word_count", "gopher_mean_word_len",
                 "gopher_symbol_ratio", "gopher_alpha_ratio",
                 "gopher_stopwords"):
        assert f"{gate:18s} 1" in out, (gate, out)
    # shard layout on disk, readable with pruning
    import glob as _glob

    assert _glob.glob(os.path.join(str(outdir), "shards", "shard_id=*"))
    back = spark.read.parquet(os.path.join(str(outdir), "shards"))
    assert back.count() == 5
    # full drop detail persisted
    dropped = spark.read.parquet(
        os.path.join(str(outdir), "_warnings", "crawl_dropped")
    )
    assert dropped.count() == 6


def test_cli_crawl_min_quality_score(spark, tmp_path, capsys):
    """The optional --min-quality-score stage: funnel survivors are
    scored by the hashed-bigram classifier and sub-threshold docs drop,
    reported as their own gate + side output."""
    from mediawiki_to_notion_spark.operators.corpus_quality import (
        apply_quality_classifier,
    )
    from mediawiki_to_notion_spark.sources.warc import (
        encode_warc_record_gz,
        read_warc,
        warc_to_documents,
    )

    prose = ("the quick river is of a bright valley and "
             + " ".join(f"wrd{i % 9}x{i}" for i in range(48)))
    raw = b""
    for k in range(5):
        raw += encode_warc_record_gz(
            {"WARC-Type": "response", "WARC-Record-ID": f"<urn:qs:{k}>",
             "WARC-Target-URI": f"https://example.org/q/{k}",
             "Content-Type": "application/http; msgtype=response"},
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            + f"{prose} page{k}".encode(),
        )
    warc = tmp_path / "qs.warc.gz"
    warc.write_bytes(raw)
    outdir = tmp_path / "corpus_qs"

    # every page passes the hard funnel; choose the 3rd-highest score
    # as the cut so exactly the docs strictly below it drop
    docs = warc_to_documents(read_warc(spark, str(warc)))
    scores = sorted(
        r.score for r in apply_quality_classifier(spark, docs).collect()
    )
    assert len(scores) == 5 and len(set(scores)) == 5  # distinct
    thr = scores[2]
    n_drop = sum(1 for v in scores if v < thr)
    assert n_drop == 2

    assert cli.main(["crawl", "--warc", str(warc),
                     "--outdir", str(outdir),
                     "--min-quality-score", str(thr)]) == 0
    out = capsys.readouterr().out
    assert f"classifier_below   {n_drop}" in out
    assert "wrote 3 documents" in out
    dropped = spark.read.parquet(
        os.path.join(str(outdir), "_warnings", "crawl_classifier_dropped")
    )
    assert dropped.count() == n_drop


@pytest.mark.parametrize("family", ["bpe", "unigram", "wordpiece"])
def test_cli_tokenizer_train(spark, tmp_path, capsys, family):
    import json

    from mediawiki_to_notion_spark import cli

    out = tmp_path / f"{family}.json"
    assert cli.main([
        "tokenizer-train", "--family", family,
        "--data", "/root/testdata/sf0.001", "--out", str(out),
    ]) == 0
    text = capsys.readouterr().out
    assert "corpus fertility:" in text
    artifact = json.loads(out.read_text())
    assert artifact["family"] == family
    assert artifact["fertility"] > 1.0   # subwords per word
    if family == "unigram":
        assert len(artifact["pieces"]) > 10
    else:
        assert len(artifact["merges"]) == 8

    # the artifact is the registered queries' output: the same rules
    # (or pieces), and the corpus fertility of the *_fertility query
    from mediawiki_to_notion_spark.operators import QUERIES, load_all
    from tests.conftest import SF_SMOKE

    load_all()
    train, fert, pieces_col = {
        "bpe": ("bpe_train_merges", "bpe_tokenize_fertility",
                "n_bpe_tokens"),
        "wordpiece": ("wordpiece_train_merges",
                      "wordpiece_tokenize_fertility", "n_pieces"),
        "unigram": ("unigram_lm_train", "unigram_lm_fertility", "n_pieces"),
    }[family]
    rows = QUERIES[train](spark, SF_SMOKE).collect()
    if family == "unigram":
        got = [(p["piece"], p["n_uses"], p["cost_micro_nats"])
               for p in artifact["pieces"]]
        assert got == [tuple(r) for r in rows]
    elif family == "bpe":
        got = [(m["round"], *m["pair"], m["count"])
               for m in artifact["merges"]]
        assert got == sorted(tuple(r) for r in rows)
    else:
        got = [(m["round"], *m["pair"], m["merged"], m["count"],
                m["score_scaled"]) for m in artifact["merges"]]
        assert got == sorted(tuple(r) for r in rows)
    docs = QUERIES[fert](spark, SF_SMOKE).collect()
    assert artifact["fertility"] == round(
        sum(r[pieces_col] for r in docs) / sum(r.n_words for r in docs), 6)
