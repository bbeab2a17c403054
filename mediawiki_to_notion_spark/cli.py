"""Command-line entry points — the user-facing parity surface.

A user of the reference runs (README.md:97-135):

    python process-mw-dump.py -outdir out wiki.xml     # Phase 1
    (upload *.md to S3; AWS pipeline does the rest)     # Phase 2

Here the same workflows are:

    python -m mediawiki_to_notion_spark.cli process-dump -outdir out wiki.xml
    python -m mediawiki_to_notion_spark.cli ingest   --input out/staged --tables t
    python -m mediawiki_to_notion_spark.cli upload   --tables t [--max-blocks 50]
    python -m mediawiki_to_notion_spark.cli status   --tables t
    python -m mediawiki_to_notion_spark.cli crawl    --warc crawl.warc.gz --outdir corpus

`process-dump` writes one .md per page under <outdir>/<ns_name>/ and
extracts embedded files, exactly like the reference CLI; `ingest` and
`upload` run the Phase-2 pipeline locally (the transport is the mock
unless a real one is wired in).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.plans import pipeline as P
from mediawiki_to_notion_spark.session import get_spark
from mediawiki_to_notion_spark.sources.xml_dump import read_dump, split_pages_files
from mediawiki_to_notion_spark.streaming import ingest as ING
from mediawiki_to_notion_spark.streaming.notion_client import ScriptedTransport
from mediawiki_to_notion_spark.streaming.upload import UploadConfig, drain


SIDE_OUTPUT_PRINT_LIMIT = 20


def _report_side_output(df, outdir: str, name: str, fmt,
                        limit: int = SIDE_OUTPUT_PRINT_LIMIT) -> None:
    """Persist a warning/error side-output in full (distributed parquet
    write — never collected), print only the first `limit` rows to stderr.
    The reference streams every warning to stderr
    (process-mw-dump.py:210-214), which at 100 TB is a driver OOM; the
    full set lives in <outdir>/_warnings/<name> instead.  The write
    itself counts the rows (an observed metric, no extra job), so the
    first `limit` rows are read back only when there are any, and the
    overflow line needs no count of its own."""
    path = os.path.join(outdir, "_warnings", name)
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.mode("overwrite").parquet(path)
    n = obs.get["n"]
    if n == 0:
        return
    persisted = df.sparkSession.read.schema(df.schema).parquet(path)
    for r in persisted.limit(limit).collect():
        print(fmt(r), file=sys.stderr)
    if n > limit:
        print(f"\t... {n - limit} more in {path}", file=sys.stderr)


def cmd_process_dump(args: argparse.Namespace) -> int:
    """One pass over the dump: the parsed pages are cached (spilling to
    disk past memory), and every output reads that one frame — the
    reference's single streaming pass (process-mw-dump.py:35-89).  Each
    side-output write is the one action that forces its stage, and the
    Markdown and upload writers are Arrow stages that write their files
    as that action runs."""
    spark = get_spark("process-dump")
    raw = read_dump(spark, args.xmlfile).persist()
    try:
        pages, files = split_pages_files(raw)
        routed = P.route_pages(pages)
        outdir = args.outdir

        _report_side_output(
            P.skipped_warnings(routed), outdir, "skipped_pages",
            lambda w: f"\tWARNING: {w.message}: {w.key}",
        )

        prepared = P.prepare_pages(routed)
        _report_side_output(
            prepared.filter(F.col("unhandled_template") != "")
            .select("filename", "unhandled_template"),
            outdir, "unhandled_templates",
            lambda w: f"\tWARNING: unhandled wiki template: {w.unhandled_template}",
        )
        _report_side_output(
            P.write_markdown(prepared, outdir), outdir, "convert_errors",
            lambda r: f"\tERROR: could not convert {r.filename}: {r.convert_error}",
        )
        _report_side_output(
            P.write_uploads(files, outdir), outdir, "file_decode_errors",
            lambda w: f"\tERROR: {w.key}: {w.message}",
        )
    finally:
        raw.unpersist()
    return 0


def cmd_ingest(args: argparse.Namespace) -> int:
    spark = get_spark("ingest")
    q = ING.start_md_stream(
        spark, args.input, args.tables,
        checkpoint_dir=os.path.join(args.tables, "_checkpoints", "ingest"),
    )
    q.awaitTermination()
    n = ING.pages_table(spark, args.tables).num_rows()
    print(f"ingested; pages table now has {n} rows")
    return 0


def cmd_upload(args: argparse.Namespace) -> int:
    spark = get_spark("upload")
    cfg = UploadConfig(
        transport=ScriptedTransport(),
        max_blocks=args.max_blocks,
        min_interval_s=args.min_interval,
    )
    rounds = drain(spark, args.tables, cfg)
    print(f"upload drained in {rounds} rounds")
    return cmd_status(args)


def cmd_status(args: argparse.Namespace) -> int:
    spark = get_spark("status")
    pages = ING.pages_table(spark, args.tables).read()
    for row in (
        pages.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status").collect()
    ):
        print(f"{row.status:10s} {row.n}")
    fails = ING.failures_table(spark, args.tables)
    if fails.exists():
        for r in fails.read().orderBy(F.desc("event_time")).limit(20).collect():
            print(f"FAILURE {r.s3_object_key}: {r.error}")
    return 0


def cmd_dashboard(args: argparse.Namespace) -> int:
    """The CloudWatch custom-widget parity surface
    (notion_pages_custom_widget.py:62-90): pages whose status changed in
    the window, newest first, rendered as a markdown table with the
    widget's '%b %d %H:%M:%S' time format.  Bounded by --limit (the
    widget's unbounded table.scan is the reference's own scale bug)."""
    spark = get_spark("dashboard")
    pages = ING.pages_table(spark, args.tables).read()
    windowed = pages.filter(
        F.col("status_time")
        >= F.current_timestamp() - F.expr(f"INTERVAL {args.since_minutes} MINUTES")
    )
    rows = (
        windowed.orderBy(F.desc("status_time"))
        .limit(args.limit)
        .select(
            F.date_format("status_time", "MMM dd HH:mm:ss").alias("t"),
            "s3_object_key", "status",
        )
        .collect()
    )
    print("| Time | Page | Status")
    print("|-----|-----|-----")
    for r in rows:
        print(f"| {r.t} | {r.s3_object_key} | {r.status} |")
    return 0


def cmd_crawl(args: argparse.Namespace) -> int:
    """WARC crawl → quality-filtered, exact-deduped training shards —
    the pretraining-corpus workflow as one command, composed from the
    registered pieces (read_warc split scan, documents bridge, C4-style
    funnel + Gopher quality rules, first-occurrence dedup,
    content-addressed shard layout).
    Prints the funnel report (per-gate drop counts) and the shard
    manifest; full drop detail persists under <outdir>/_warnings/."""
    from mediawiki_to_notion_spark.operators.corpus_quality import (
        apply_crawl_funnel,
        apply_quality_classifier,
    )
    from mediawiki_to_notion_spark.operators.physical import (
        write_training_shards,
    )
    from mediawiki_to_notion_spark.operators.training_data import shard_assign
    from mediawiki_to_notion_spark.sources.warc import (
        read_warc,
        warc_to_documents,
    )

    spark = get_spark("crawl")
    docs = warc_to_documents(read_warc(spark, args.warc))
    funneled = apply_crawl_funnel(
        docs.select("doc_id", "lang", "text", "n_chars")
    ).localCheckpoint()  # funnel report + keep-join share one pass
    for r in (
        funneled.groupBy("drop_reason").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("drop_reason").collect()  # bounded: one row per gate
    ):
        label = r.drop_reason or "kept"
        print(f"{label:18s} {r.n}")
    _report_side_output(
        funneled.filter(~F.col("keep")).select("doc_id", "drop_reason"),
        args.outdir, "crawl_dropped",
        lambda w: f"\tDROPPED doc {w.doc_id}: {w.drop_reason}",
    )
    kept = funneled.filter("keep").select("doc_id")
    clean = docs.join(kept, "doc_id", "left_semi")
    if args.min_quality_score is not None:
        # optional model-based second stage (the FineWeb-Edu pattern):
        # the hashed-bigram classifier scores only the HARD-FILTER
        # SURVIVORS, and the cut is reported like any other gate
        scored = apply_quality_classifier(spark, clean)
        passing = scored.filter(
            F.col("score") >= args.min_quality_score
        ).select("doc_id")
        n_before = clean.count()
        clean = clean.join(passing, "doc_id", "left_semi")
        n_after = clean.count()  # bounded: two scalars for the report
        print(f"{'classifier_below':18s} {n_before - n_after}")
        _report_side_output(
            scored.filter(F.col("score") < args.min_quality_score)
            .select("doc_id", "score"),
            args.outdir, "crawl_classifier_dropped",
            lambda w: f"\tDROPPED doc {w.doc_id}: score {w.score}",
        )
    # group on the md5 of the normalized text, not the text itself: the
    # shuffle key stays 32 bytes instead of the whole payload (the same
    # fixed-width-fingerprint rule the registered dedup operators
    # follow — ADVICE r3)
    first = clean.groupBy(
        F.md5(F.lower(F.trim("text"))).alias("norm")
    ).agg(F.min("doc_id").alias("doc_id"))
    survivors = clean.join(first.select("doc_id"), "doc_id", "left_semi")
    assigned = shard_assign(survivors.select("doc_id", "text"))
    shards_dir = os.path.join(args.outdir, "shards")
    write_training_shards(assigned, shards_dir,
                          max_records_per_file=args.max_records_per_file)
    manifest = (
        assigned.groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("n_tokens"))
        .orderBy("shard_id").collect()  # bounded: one row per shard
    )
    for r in manifest:
        print(f"shard {r.shard_id:3d}  docs={r.n_docs}  tokens={r.n_tokens}")
    print(f"wrote {sum(r.n_docs for r in manifest)} documents to {shards_dir}")
    return 0




def cmd_tokenizer_train(args: argparse.Namespace) -> int:
    """Train a subword tokenizer on a corpus directory's
    documents.parquet and emit the shipped artifact — merge rules
    (BPE / WordPiece) or the scored piece vocabulary (unigram LM) —
    plus the corpus fertility summary (subword pieces per whitespace
    word), as JSON to --out and a human table to stdout.  All three
    trainers and encoders are the registered, oracle-gated operators'
    own; this command is just their user-facing surface."""
    import json as _json

    from mediawiki_to_notion_spark.operators import tokenizer_local as TL

    spark = get_spark("tokenizer-train")
    fam = args.family
    if fam == "bpe":
        from mediawiki_to_notion_spark.operators.text_analysis import (
            _bpe_pieces,
            _bpe_train,
        )

        merges, vocab = _bpe_train(spark, args.data)
        artifact = {
            "family": "bpe",
            "merges": [
                {"round": r, "pair": [a, b], "count": n}
                for r, a, b, n in merges
            ],
        }
        pieces = _bpe_pieces(vocab)
        for r, a, b, n in merges:
            print(f"round {r:2d}  {a!r} + {b!r}  (count {n})")
    elif fam == "wordpiece":
        from mediawiki_to_notion_spark.operators.wordpiece import (
            _wordpiece_pieces,
            _wordpiece_train,
        )

        merges, vocab, wf = _wordpiece_train(spark, args.data)
        artifact = {
            "family": "wordpiece",
            "merges": [
                {"round": r, "pair": [a, b], "merged": m,
                 "count": n, "score_scaled": s}
                for r, a, b, m, n, s in merges
            ],
        }
        pieces = _wordpiece_pieces(spark, merges, vocab, wf)
        for r, a, b, m, n, s in merges:
            print(f"round {r:2d}  {a!r} + {b!r} -> {m!r}  (count {n})")
    else:  # unigram
        from mediawiki_to_notion_spark.operators.unigram_lm import (
            _final_costs,
            _unigram_pieces,
            _unigram_train,
        )

        vocab_counts, words, wf = _unigram_train(spark, args.data)
        artifact = {
            "family": "unigram",
            "pieces": [
                {"piece": r.piece, "n_uses": int(r.n_uses),
                 "cost_micro_nats": int(r.cost_micro_nats)}
                for r in _final_costs(spark, vocab_counts).orderBy(
                    F.desc("n_uses"), F.asc("piece")).collect()
            ],  # bounded: the vocab IS the artifact
        }
        pieces = _unigram_pieces(spark, vocab_counts, words, wf)
        for row in artifact["pieces"][:20]:
            print(f"{row['piece']!r:12s} uses={row['n_uses']:<8d} "
                  f"cost={row['cost_micro_nats']}")
    fert = TL._fertility(spark, args.data, pieces).select(
        F.sum("n_pieces").alias("pieces"),
        F.sum("n_words").alias("words"),
    ).collect()[0]  # bounded: one summary row
    fertility = fert.pieces / fert.words if fert.words else 0.0
    artifact["fertility"] = round(fertility, 6)
    print(f"corpus fertility: {fertility:.4f} pieces/word "
          f"({fert.pieces} pieces / {fert.words} words)")
    if args.out:
        with open(args.out, "w") as fh:
            _json.dump(artifact, fh, indent=1)
        print(f"wrote {args.out}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mediawiki_to_notion_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("process-dump", help="MediaWiki XML dump → markdown tree")
    d.add_argument("-outdir", required=True)
    d.add_argument("xmlfile")
    d.set_defaults(fn=cmd_process_dump)

    i = sub.add_parser("ingest", help="staged *.md → blocks/pages tables")
    i.add_argument("--input", required=True)
    i.add_argument("--tables", required=True)
    i.set_defaults(fn=cmd_ingest)

    u = sub.add_parser("upload", help="drain pending blocks to the sink")
    u.add_argument("--tables", required=True)
    u.add_argument("--max-blocks", type=int, default=50)
    u.add_argument("--min-interval", type=float, default=0.0)
    u.set_defaults(fn=cmd_upload)

    s = sub.add_parser("status", help="page-status counts + recent failures")
    s.add_argument("--tables", required=True)
    s.set_defaults(fn=cmd_status)

    w = sub.add_parser("dashboard", help="recent page-status table (widget parity)")
    w.add_argument("--tables", required=True)
    w.add_argument("--since-minutes", type=int, default=60)
    w.add_argument("--limit", type=int, default=50)
    w.set_defaults(fn=cmd_dashboard)

    c = sub.add_parser(
        "crawl", help="WARC crawl → filtered, deduped training shards"
    )
    c.add_argument("--warc", required=True,
                   help="WARC file, dir, or glob (.warc / .warc.gz)")
    c.add_argument("--outdir", required=True)
    c.add_argument("--max-records-per-file", type=int, default=None)
    c.add_argument("--min-quality-score", type=float, default=None,
                   help="optional model-filter stage: drop funnel "
                        "survivors whose hashed-bigram classifier "
                        "score is below this threshold")
    c.set_defaults(fn=cmd_crawl)

    t = sub.add_parser(
        "tokenizer-train",
        help="train a subword tokenizer (bpe | unigram | wordpiece) "
             "on <data>/documents.parquet",
    )
    t.add_argument("--family", choices=("bpe", "unigram", "wordpiece"),
                   required=True)
    t.add_argument("--data", required=True,
                   help="directory containing documents.parquet")
    t.add_argument("--out", default=None, help="write the artifact JSON here")
    t.set_defaults(fn=cmd_tokenizer_train)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
