"""End-to-end Phase-1 test: synthetic MediaWiki XML dump → routed pages →
cleaned wikitext → GFM markdown → decoded files + warnings
(FIXTURES.md A1/A2; reference flow SURVEY §3.1)."""

from __future__ import annotations

import base64
import os

import pytest
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.functions.gfm_convert import (
    CONVERT_DDL_SUFFIX,
    convert_batches,
)
from mediawiki_to_notion_spark.plans import pipeline as P
from mediawiki_to_notion_spark.sources.xml_dump import read_dump, split_pages_files

PNG_BYTES = b"\x89PNG\r\n\x1a\nfakepayload"


def _dump_xml() -> str:
    png_b64 = base64.b64encode(PNG_BYTES).decode()
    return f"""<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">
  <siteinfo>
    <namespaces>
      <namespace key="0" />
      <namespace key="2">User</namespace>
      <namespace key="6">File</namespace>
      <namespace key="14">Category</namespace>
    </namespaces>
  </siteinfo>
  <page>
    <title>Router Notes</title>
    <ns>0</ns>
    <revision><text>[[Category:Net]]
== Table of Contents ==
__TOC__
Intro with {{{{RFC|2328|OSPF}}}} ref.
  conf t
  interface '''Gi0/1'''
done
{{{{Mystery|x}}}}</text></revision>
  </page>
  <page>
    <title>Category:Net</title>
    <ns>14</ns>
    <revision><text>Pages about networks. {{{{RFC|1}}}}</text></revision>
  </page>
  <page>
    <title>User:Someone</title>
    <ns>2</ns>
    <revision><text>user page text</text></revision>
  </page>
  <page>
    <title>Old Page</title>
    <ns>0</ns>
    <revision><text>#REDIRECT [[Router Notes]]</text></revision>
  </page>
  <page>
    <title>Empty Page</title>
    <ns>0</ns>
    <revision><text></text></revision>
  </page>
  <page>
    <title>File:diagram one.png</title>
    <ns>6</ns>
    <revision><text>A diagram</text></revision>
    <upload><filename>diagram one.png</filename>
      <contents encoding="base64">{png_b64}</contents></upload>
  </page>
  <page>
    <title>File:bad.bin</title>
    <ns>6</ns>
    <revision><text>bad encoding</text></revision>
    <upload><filename>bad.bin</filename>
      <contents encoding="7bit">AAAA</contents></upload>
  </page>
</mediawiki>"""


@pytest.fixture(scope="module")
def dump_frames(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("dump")
    (d / "dump.xml").write_text(_dump_xml())
    raw = read_dump(spark, str(d))
    pages, files = split_pages_files(raw)
    return raw, pages, files


def test_multifile_dump_unique_page_ids(spark, tmp_path):
    """Dumps ship as many part files; page ids must stay globally unique
    and stable across re-reads."""
    for i in range(2):
        (tmp_path / f"part{i}.xml").write_text(_dump_xml())
    raw = read_dump(spark, str(tmp_path))
    ids = [r.page_id for r in raw.select("page_id").collect()]
    assert len(ids) == 14 and len(set(ids)) == 14
    again = [r.page_id for r in read_dump(spark, str(tmp_path)).select("page_id").collect()]
    assert sorted(ids) == sorted(again)


def test_split_scan_equals_single_split(spark, tmp_path):
    """Byte-range splitting must be invisible to results: a tiny split
    size (many ranges, pages straddling boundaries) yields exactly the
    rows of a one-split read, each page exactly once with the same
    content-addressed page_id."""
    (tmp_path / "dump.xml").write_text(_dump_xml())
    whole = read_dump(spark, str(tmp_path)).collect()
    tiny = read_dump(spark, str(tmp_path), split_bytes=200).collect()
    key = lambda r: (r.page_id, r.title, r.wikitext)  # noqa: E731
    assert sorted(map(key, tiny)) == sorted(map(key, whole))
    assert len(tiny) == 7 and len({r.page_id for r in tiny}) == 7


def test_page_fragments_across_scan_chunks(tmp_path, monkeypatch):
    """Marker scanning must survive <page> / </page> split across read
    chunks: shrink the scan chunk far below marker size."""
    import io as _io

    from mediawiki_to_notion_spark.sources import xml_dump as X

    monkeypatch.setattr(X, "_SCAN_CHUNK", 3)
    data = _dump_xml().encode()
    frags = list(X.iter_page_fragments(_io.BytesIO(data), 0, len(data)))
    assert len(frags) == 7
    offsets = [off for off, _ in frags]
    assert offsets == sorted(offsets) and len(set(offsets)) == 7
    for off, frag in frags:
        assert data[off:off + 6] == b"<page>"
        assert frag.startswith(b"<page>") and frag.endswith(b"</page>")


def test_split_ownership_at_boundary(tmp_path):
    """A page starting before a range's end belongs to that range even
    when its body crosses the boundary; the next range skips it."""
    import io as _io

    from mediawiki_to_notion_spark.sources import xml_dump as X

    data = _dump_xml().encode()
    first_page = data.find(b"<page>")
    mid = first_page + 10  # inside the first page's body
    left = list(X.iter_page_fragments(_io.BytesIO(data), 0, mid))
    right = list(X.iter_page_fragments(_io.BytesIO(data), mid, len(data)))
    assert len(left) == 1 and left[0][0] == first_page
    assert len(left) + len(right) == 7
    assert {off for off, _ in left} | {off for off, _ in right} == \
        {off for off, _ in X.iter_page_fragments(_io.BytesIO(data), 0, len(data))}


def test_read_namespaces_head_parse(tmp_path):
    from mediawiki_to_notion_spark.sources.xml_dump import read_namespaces

    p = tmp_path / "d.xml"
    p.write_text(_dump_xml())
    ns = read_namespaces(str(p))
    assert ns == {0: "Main", 2: "User", 6: "File", 14: "Category"}


def test_namespace_map_and_routing(dump_frames):
    _, pages, _ = dump_frames
    routed = P.route_pages(pages)
    routes = {r.title: r.route for r in routed.collect()}
    assert routes["Router Notes"] == "wikitext"
    assert routes["Category:Net"] == "wikitext"
    assert routes["File:diagram one.png"] == "file"
    assert routes["User:Someone"] == "skip"
    ns_names = {r.title: r.ns_name for r in pages.collect()}
    assert ns_names["Router Notes"] == "Main"          # key 0 renamed
    assert ns_names["Category:Net"] == "Category"


def test_skip_warnings_side_output(dump_frames):
    _, pages, _ = dump_frames
    warn = P.skipped_warnings(P.route_pages(pages)).collect()
    assert [w.key for w in warn] == ["User:Someone"]
    assert "ignoring namespace 2" in warn[0].message


def test_prepare_and_convert(dump_frames, spark):
    _, pages, _ = dump_frames
    prepared = P.prepare_pages(P.route_pages(pages))
    rows = {r.bare_title: r for r in prepared.collect()}

    # redirect + empty pages filtered out
    assert set(rows) == {"Router Notes", "Net"}

    main = rows["Router Notes"]
    assert "[[Category:" not in main.cleaned
    assert "__TOC__" not in main.cleaned
    assert "[https://tools.ietf.org/html/2328 RFC 2328 OSPF]" in main.cleaned
    assert "<pre>" in main.cleaned and "`**Gi0/1**`" in main.cleaned
    assert main.unhandled_template == "{{Mystery|x}}"
    assert main.filename == "Router Notes"

    # Category namespace: template rules must NOT run (custom_prepare gate)
    cat = rows["Net"]
    assert "{{RFC|1}}" in cat.cleaned

    converted = prepared.select("bare_title", "cleaned").mapInPandas(
        convert_batches, f"bare_title string, cleaned string, {CONVERT_DDL_SUFFIX}"
    )
    md = {r.bare_title: r.markdown for r in converted.collect()}
    # pandoc-style normalization: no leading blank lines in the output
    assert md["Router Notes"].splitlines()[0].startswith("Intro with")
    assert "```" in md["Router Notes"]
    assert all(r.convert_error is None for r in converted.collect())


def test_file_decode_and_error_paths(dump_frames):
    _, _, files = dump_frames
    rows = {r.filename: r for r in P.decode_files(files).collect()}
    assert set(rows) == {"diagram one.png", "bad.bin"}
    assert bytes(rows["diagram one.png"].content) == PNG_BYTES
    assert rows["diagram one.png"].message is None
    assert rows["bad.bin"].content is None
    assert rows["bad.bin"].message == "expected base64 encoding, got 7bit"


def test_file_sink_binary_roundtrip(dump_frames, tmp_path):
    """File sink (process-mw-dump.py:157-177): the package's upload writer
    stage writes the decoded uploads to <outdir>/File/<filename> from the
    executor and yields only the decode errors."""
    _, _, files = dump_frames
    errors = P.write_uploads(files, str(tmp_path)).collect()
    assert [(e.source, e.key, e.message) for e in errors] == [
        ("file_decoder", "bad.bin", "expected base64 encoding, got 7bit")]
    assert sorted(os.listdir(tmp_path / "File")) == ["diagram one.png"]
    assert (tmp_path / "File" / "diagram one.png").read_bytes() == PNG_BYTES


def test_markdown_sink_roundtrip(dump_frames, tmp_path):
    """Markdown sink (process-mw-dump.py:256-292): the package's Markdown
    writer stage writes <outdir>/<ns_name>/<filename>.md with exactly the
    converter's output, and yields only the pages that failed to
    convert."""
    from mediawiki_to_notion_spark.functions.gfm_convert import (
        convert_document,
    )

    _, pages, _ = dump_frames
    prepared = P.prepare_pages(P.route_pages(pages))
    errors = P.write_markdown(prepared, str(tmp_path)).collect()
    assert errors == []
    want = {
        os.path.join(r.ns_name, r.filename + ".md"): convert_document(r.cleaned)[0]
        for r in prepared.collect()
    }
    assert sorted(want) == [os.path.join("Category", "Net.md"),
                            os.path.join("Main", "Router Notes.md")]
    for rel, markdown in want.items():
        assert (tmp_path / rel).read_text() == markdown


def test_markdown_sink_yields_convert_errors(spark, tmp_path):
    """A page the converter rejects is not written; its error row is what
    the stage yields."""
    prepared = spark.createDataFrame(
        [("Main", "ok", "plain text"), ("Main", "none", None)],
        "ns_name string, filename string, cleaned string",
    )
    errors = P.write_markdown(prepared, str(tmp_path)).collect()
    assert [(e.ns_name, e.filename, e.convert_error) for e in errors] == [
        ("Main", "none", "empty")]
    assert sorted(os.listdir(tmp_path / "Main")) == ["ok.md"]


def test_split_scan_medium_dump(spark, tmp_path):
    """A few-MB dump crosses many range boundaries: every page parses
    exactly once across real multi-task execution, ids stay unique."""
    import random

    rng = random.Random(3)
    words = ["alpha", "beta", "router", "ospf", "vlan", "metric"]
    dump = tmp_path / "medium.xml"
    n_pages = 2000
    with open(dump, "w") as f:
        f.write('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">\n'
                '<siteinfo><namespaces><namespace key="0" /></namespaces>'
                "</siteinfo>\n")
        for i in range(n_pages):
            body = " ".join(rng.choices(words, k=300))
            f.write(f"<page><title>P{i}</title><ns>0</ns>"
                    f"<revision><text>{body}</text></revision></page>\n")
        f.write("</mediawiki>\n")

    from mediawiki_to_notion_spark.sources.xml_dump import plan_splits

    splits = plan_splits(str(dump), split_bytes=1 << 20)
    assert len(splits) >= 3  # genuinely multi-task
    raw = read_dump(spark, str(dump), split_bytes=1 << 20)
    assert raw.count() == n_pages
    assert raw.select("page_id").distinct().count() == n_pages


def test_jsonl_corpus_source_roundtrip(spark, tmp_path):
    """JSONL corpus source: parquet-derived documents survive a JSONL
    round-trip bit-exactly, a malformed line is quarantined instead of
    failing the job, and the clean frame drops the side channel."""
    import json as _json

    import pyspark.sql.functions as F

    from mediawiki_to_notion_spark.sources.jsonl import (
        load_documents_jsonl,
        split_corrupt,
    )
    from mediawiki_to_notion_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").limit(20)
    rows = [r.asDict() for r in docs.collect()]
    path = tmp_path / "corpus.jsonl"
    with open(path, "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
        f.write('{"doc_id": not-json\n')  # the inevitable bad line
        f.write("\n")                     # blank separator line
        f.write("   \n")                  # whitespace-only line
        f.write("null\n")                 # JSON scalar null

    df = load_documents_jsonl(spark, str(path))
    clean, bad = split_corrupt(df)
    # the parsed-struct corrupt column is fully queryable (a raw
    # read.json corrupt column would reject this very count); blank /
    # whitespace / scalar-null lines quarantine too instead of passing
    # as phantom all-null documents
    bad_rows = bad.collect()
    assert bad.count() == 4
    assert any("not-json" in r._corrupt_record for r in bad_rows)
    assert clean.count() == len(rows)
    got = {r.doc_id: (r.text, r.lang, r.source, r.n_chars)
           for r in clean.collect()}
    want = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"])
            for r in rows}
    assert got == want
    # splittability: line-delimited scan must not be single-partition
    # pinned by multiLine (a one-file read may still be 1 split at this
    # size; assert the option path by checking schema fidelity instead)
    assert "_corrupt_record" not in clean.columns


def test_csv_corpus_source_roundtrip(spark, tmp_path):
    """CSV corpus source: documents survive a CSV round-trip, a
    wrong-arity / unparseable row is quarantined instead of failing
    the job, and jsonl.split_corrupt works on the frame unchanged."""
    import csv as _csv

    from mediawiki_to_notion_spark.sources.csv_source import (
        load_documents_csv,
    )
    from mediawiki_to_notion_spark.sources.jsonl import split_corrupt
    from mediawiki_to_notion_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").limit(20)
    rows = [r.asDict() for r in docs.collect()]
    path = tmp_path / "corpus.csv"
    with open(path, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["doc_id", "text", "lang", "source", "n_chars"])
        for r in rows:
            w.writerow([r["doc_id"], r["text"], r["lang"],
                        r["source"], r["n_chars"]])
        # RFC4180 quoting: a text field containing quotes and commas
        w.writerow([9001, 'he said "hi", twice', "en", "web", 19])
        f.write("not-a-number,oops\n")          # wrong arity + bad long
        f.write("also-bad,x,y,z,not-a-count\n")  # unparseable n_chars
        # a quoted field spanning a raw newline: unsupported on the
        # splittable path — BOTH fragments must quarantine (the tail
        # would otherwise parse as a fabricated clean row)
        f.write('7777,"intro\n42,middle",en,web,15\n')

    df = load_documents_csv(spark, str(path))
    clean, bad = split_corrupt(df)
    assert bad.count() == 4
    # the doubled-quote text field round-trips exactly
    quoted = clean.filter(clean.doc_id == 9001).collect()
    assert quoted[0].text == 'he said "hi", twice'
    clean = clean.filter(clean.doc_id != 9001)
    # no fabricated row leaked from the split record
    assert clean.filter(clean.doc_id == 42).count() == 0
    got = {
        (r.doc_id, r.text, r.lang, r.source, r.n_chars)
        for r in clean.collect()
    }
    want = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in rows
    }
    assert got == want


def test_csv_strict_headers_quarantines_midfile_header(spark, tmp_path):
    """strict_headers=True: only each file's FIRST line is dropped as a
    header; a mid-file line byte-equal to the header is quarantined
    (r2 ADVICE — default mode silently drops it, documented caveat).
    Multi-file: every file's own first-line header is still stripped."""
    from mediawiki_to_notion_spark.sources.csv_source import (
        load_documents_csv,
    )
    from mediawiki_to_notion_spark.sources.jsonl import split_corrupt

    hdr = "doc_id,text,lang,source,n_chars"
    d = tmp_path / "multi"
    d.mkdir()
    (d / "a.csv").write_text(
        f"{hdr}\n1,alpha,en,web,5\n{hdr}\n2,beta,en,web,4\n"
    )
    (d / "b.csv").write_text(f"{hdr}\n3,gamma,fr,web,5\n")

    strict = load_documents_csv(spark, str(d), strict_headers=True)
    clean, bad = split_corrupt(strict)
    assert {r.doc_id for r in clean.collect()} == {1, 2, 3}
    bad_rows = [r._corrupt_record for r in bad.collect()]
    assert bad_rows == [hdr]  # the mid-file copy, quarantined not dropped

    # default mode on the same input: header-equal lines all dropped,
    # clean rows identical, nothing quarantined
    default = load_documents_csv(spark, str(d))
    dclean, dbad = split_corrupt(default)
    assert {r.doc_id for r in dclean.collect()} == {1, 2, 3}
    assert dbad.count() == 0
