"""WARC source: split-safety, gzip member sync, HTTP payload parsing.

The invariant under test is the same one the XML dump scanner pins:
for ANY split size, the union of per-split records equals the
whole-file read, each record exactly once.
"""

from __future__ import annotations

import io

import pytest

from mediawiki_to_notion_spark.sources.warc import (
    WARCError,
    encode_warc_record,
    encode_warc_record_gz,
    iter_warc_records_gz,
    iter_warc_records_plain,
    read_warc,
)


def _corpus(n=40):
    """n records with wildly varying payload sizes, including one whose
    BODY embeds WARC-looking decoy bytes (no inter-record CRLF context,
    so sync validation must reject it)."""
    recs = []
    for k in range(n):
        payload = (f"payload-{k}-" + "x" * ((k * 137) % 5000)).encode()
        if k == 7:
            payload += b"\nWARC/1.0\r\nnot-a-header\r\n"  # decoy, malformed
        headers = {
            "WARC-Type": "resource",
            "WARC-Record-ID": f"<urn:test:{k}>",
            "WARC-Target-URI": f"https://example.org/{k}",
            "WARC-Date": "2026-08-14T00:00:00Z",
            "Content-Type": "text/plain",
        }
        recs.append((headers, payload))
    return recs


def _plain_bytes(recs):
    return b"".join(encode_warc_record(h, p) for h, p in recs)


def _gz_bytes(recs):
    return b"".join(encode_warc_record_gz(h, p) for h, p in recs)


@pytest.mark.parametrize("gz", [False, True])
@pytest.mark.parametrize("split", [1, 100, 1777, 4096, 10_000_000])
def test_split_union_equals_whole(gz, split):
    recs = _corpus()
    data = _gz_bytes(recs) if gz else _plain_bytes(recs)
    it = iter_warc_records_gz if gz else iter_warc_records_plain
    whole = list(it(io.BytesIO(data), 0, len(data)))
    assert [h["WARC-Record-ID"] for _, h, _ in whole] == \
        [h["WARC-Record-ID"] for h, _ in recs]
    assert [p for _, _, p in whole] == [p for _, p in recs]

    pieces = []
    start = 0
    while start < len(data):
        end = min(start + split, len(data))
        pieces.extend(it(io.BytesIO(data), start, end))
        start = end
    assert [h["WARC-Record-ID"] for _, h, _ in pieces] == \
        [h["WARC-Record-ID"] for _, h, _ in whole]
    assert [o for o, _, _ in pieces] == [o for o, _, _ in whole]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        sizes=st.lists(st.integers(0, 3000), min_size=1, max_size=20),
        split=st.integers(1, 6000),
        gz=st.booleans(),
        data=st.data(),
    )
    def test_warc_split_safety_fuzz(sizes, split, gz, data):
        """For ANY corpus and ANY split size, split-union == whole —
        payloads are arbitrary bytes (may embed markers/magics)."""
        recs = []
        for k, n in enumerate(sizes):
            payload = bytes(data.draw(st.binary(min_size=n, max_size=n)))
            recs.append((
                {"WARC-Type": "resource", "WARC-Record-ID": f"<urn:f{k}>"},
                payload,
            ))
        raw = _gz_bytes(recs) if gz else _plain_bytes(recs)
        it = iter_warc_records_gz if gz else iter_warc_records_plain
        pieces = []
        start = 0
        while start < len(raw):
            pieces.extend(
                it(io.BytesIO(raw), start, min(start + split, len(raw)))
            )
            start += split
        # arbitrary binary payloads can in principle embed a byte-exact
        # valid record (the documented uncompressed-layout caveat), so
        # assert the whole-read is a subsequence-equal of pieces only
        # when ids match — in practice random bytes never form one, and
        # a mismatch here is a real bug
        assert [h["WARC-Record-ID"] for _, h, _ in pieces] == \
            [h["WARC-Record-ID"] for h, _ in recs]
        assert [p for _, _, p in pieces] == [p for h, p in recs]
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_plain_sync_rejects_wellformed_decoy_without_boundary_context():
    """A payload embedding a HEADER-valid WARC fragment not preceded by
    CRLF CRLF must not fool the sync scan."""
    decoy = (b"before " + b"WARC/1.0\r\nWARC-Type: resource\r\n"
             b"Content-Length: 3\r\n\r\nabc\r\n\r\n" + b"after")
    recs = [({"WARC-Type": "resource", "WARC-Record-ID": "<urn:a>"}, decoy),
            ({"WARC-Type": "resource", "WARC-Record-ID": "<urn:b>"}, b"tail")]
    data = _plain_bytes(recs)
    # sync from inside record a's payload, before the decoy: the only
    # boundary at-or-after it within range is record b's
    inside = data.find(b"before") + 2
    got = list(iter_warc_records_plain(io.BytesIO(data), inside, len(data)))
    assert [h["WARC-Record-ID"] for _, h, _ in got] == ["<urn:b>"]


def test_plain_sync_decoy_resurfacing_after_trim_is_rejected(monkeypatch):
    """ADVICE r3 regression: with a small scan chunk, a header-valid
    decoy near a chunk tail gets rejected (bad CRLF-CRLF context), then
    the no-candidate refill trims the buffer and the decoy re-surfaces
    at offset 1-3 WITHOUT its context bytes — the old `i >= 4 and ...`
    guard then skipped the context check and accepted it, yielding
    phantom records in split reads.  Sweep every start offset so the
    trim geometry is hit regardless of chunk phase."""
    import mediawiki_to_notion_spark.sources.warc as warc

    decoy = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
             b"Content-Length: 3\r\n\r\nabc\r\n\r\n")
    recs = []
    for k in range(6):
        # vary the padding so the decoy lands at every chunk phase
        payload = b"p" * (37 * k + 5) + b"x" + decoy + b"y" + b"q" * 40
        recs.append(({"WARC-Type": "resource",
                      "WARC-Record-ID": f"<urn:d{k}>"}, payload))
    data = _plain_bytes(recs)
    whole = list(iter_warc_records_plain(io.BytesIO(data), 0, len(data)))
    assert [h["WARC-Record-ID"] for _, h, _ in whole] == \
        [h["WARC-Record-ID"] for h, _ in recs]
    for chunk_size in (32, 48, 64):
        monkeypatch.setattr(warc, "_SCAN_CHUNK", chunk_size)
        for split in (17, 53, 128):
            pieces = []
            start = 0
            while start < len(data):
                pieces.extend(iter_warc_records_plain(
                    io.BytesIO(data), start, min(start + split, len(data))))
                start += split
            assert [h["WARC-Record-ID"] for _, h, _ in pieces] == \
                [h["WARC-Record-ID"] for _, h, _ in whole], \
                f"chunk={chunk_size} split={split}"


class _CountingFile(io.BytesIO):
    def __init__(self, data):
        super().__init__(data)
        self.bytes_read = 0

    def read(self, n=-1):
        out = super().read(n)
        self.bytes_read += len(out)
        return out


@pytest.mark.parametrize("gz", [False, True])
def test_sync_scan_bails_out_past_end(gz):
    """ADVICE r3: a split landing inside a record/member much larger
    than the split must NOT rescan to EOF looking for the next
    boundary — it owns no record, so its read volume stays bounded by
    a few scan chunks, not O(file)."""
    import mediawiki_to_notion_spark.sources.warc as warc

    big = [({"WARC-Type": "resource", "WARC-Record-ID": "<urn:big>"},
            b"z" * 3_000_000)]
    data = _gz_bytes(big) if gz else _plain_bytes(big)
    it = iter_warc_records_gz if gz else iter_warc_records_plain
    # a 4 KiB split in the middle of the single huge record
    f = _CountingFile(data)
    assert list(it(f, 1_000_000, 1_004_096)) == []
    assert f.bytes_read <= 4096 + 3 * warc._SCAN_CHUNK, f.bytes_read


def test_gz_sync_rejects_false_magic():
    """Gzip magic bytes inside a compressed body must fail the
    inflate-and-check proof, not desync the scan."""
    recs = [({"WARC-Type": "resource", "WARC-Record-ID": f"<urn:{k}>"},
             b"\x1f\x8b\x08" * 50 + b"junk" * 200) for k in range(5)]
    data = _gz_bytes(recs)
    for split in (64, 257, 1000):
        pieces = []
        start = 0
        while start < len(data):
            pieces.extend(iter_warc_records_gz(
                io.BytesIO(data), start, min(start + split, len(data))))
            start += split
        assert [h["WARC-Record-ID"] for _, h, _ in pieces] == \
            [h["WARC-Record-ID"] for h, _ in recs]


def test_corrupt_record_raises_with_offset():
    recs = _corpus(3)
    data = bytearray(_plain_bytes(recs))
    # wreck record 1's Content-Length value
    i = data.find(b"Content-Length", data.find(b"<urn:test:1>"))
    data[i + 16:i + 18] = b"xx"
    with pytest.raises(WARCError):
        list(iter_warc_records_plain(io.BytesIO(bytes(data)), 0, len(data)))


def test_warc_to_documents_feeds_corpus_pipeline(spark, tmp_path):
    """The crawl bridge: WARC response records become documents-contract
    rows (content-addressed ids, stripped HTML, predicted lang, host as
    source) that the registered corpus operators consume unchanged."""
    from mediawiki_to_notion_spark.operators.corpus_quality import (
        apply_funnel,
    )
    from mediawiki_to_notion_spark.sources.warc import warc_to_documents

    # must pass the registered funnel: >=20 tokens, <500 chars, mostly
    # distinct words, English anchor words for the lang predictor
    prose = ("the quick river is of a bright valley and "
             + " ".join(f"word{i}" for i in range(20)))
    body = ("<html><head><style>p{color:red}</style>"
            "<script>var x = 1 &amp;&amp; 2;</script></head><body>"
            f"<h1>Title</h1><p>{prose} "
            "&amp; more &lt;tags&gt;</p></body></html>").encode()
    pages = []
    for k in range(4):
        pages.append((
            {"WARC-Type": "response",
             "WARC-Record-ID": f"<urn:test:p{k}>",
             "WARC-Target-URI": f"https://site{k % 2}.example.org/a/{k}",
             "Content-Type": "application/http; msgtype=response"},
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body,
        ))
    # a 404 and a non-text response must be cut by the bridge
    pages.append((
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:test:miss>",
         "WARC-Target-URI": "https://site0.example.org/missing",
         "Content-Type": "application/http; msgtype=response"},
        b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\ngone",
    ))
    pages.append((
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:test:img>",
         "WARC-Target-URI": "https://site0.example.org/i.png",
         "Content-Type": "application/http; msgtype=response"},
        b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n\x89PNG....",
    ))
    (tmp_path / "crawl.warc.gz").write_bytes(_gz_bytes(pages))

    docs = warc_to_documents(read_warc(spark, str(tmp_path)))
    rows = docs.collect()
    assert len(rows) == 4  # 404 and image cut
    by_src = {r.source for r in rows}
    assert by_src == {"site0.example.org", "site1.example.org"}
    for r in rows:
        # markup gone (tags, script/style bodies) — but entity-decoded
        # literals like "<tags>" survive as text
        assert "<html" not in r.text and "<p>" not in r.text
        assert "color:red" not in r.text and "var x" not in r.text
        assert "& more <tags>" in r.text        # entities unescaped
        assert r.text.startswith("Title")
        assert r.lang == "en"                   # lexicon anchors hit
        assert r.n_chars == len(r.text)
    assert len({r.doc_id for r in rows}) == 4   # content-addressed ids
    # the registered funnel consumes the frame unchanged
    funneled = apply_funnel(docs.select("doc_id", "lang", "text", "n_chars"))
    assert funneled.filter("keep").count() == 4


def test_read_warc_fans_out_across_tasks(spark, tmp_path):
    """The point of split-parallel reading: ONE large file becomes many
    tasks.  A ~3 MB archive with 1 MB splits must plan >= 3 partitions
    and still recover every record exactly once."""
    recs = [({"WARC-Type": "resource", "WARC-Record-ID": f"<urn:big:{k}>"},
             bytes([65 + (k % 26)]) * 50_000) for k in range(64)]
    f = tmp_path / "big.warc"
    f.write_bytes(_plain_bytes(recs))
    df = read_warc(spark, str(f), split_bytes=1 << 20)
    assert df.rdd.getNumPartitions() >= 3
    ids = [r.record_id for r in df.collect()]
    assert sorted(ids) == sorted(h["WARC-Record-ID"] for h, _ in recs)


def test_read_warc_part_i_holds_split_i(spark, tmp_path):
    """The split table is one split per partition with no shuffle:
    partition i parses split i, so each record lands in the partition
    of the split its first byte falls in."""
    import pyspark.sql.functions as F

    recs = [({"WARC-Type": "resource", "WARC-Record-ID": f"<urn:big:{k}>"},
             bytes([65 + (k % 26)]) * 50_000) for k in range(64)]
    f = tmp_path / "big.warc"
    f.write_bytes(_plain_bytes(recs))
    n_splits = -(-f.stat().st_size // (1 << 20))
    df = read_warc(spark, str(f), split_bytes=1 << 20)
    assert df.rdd.getNumPartitions() == n_splits
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    rows = df.select(F.spark_partition_id().alias("part"), "offset").collect()
    assert len(rows) == len(recs)
    assert {r.part for r in rows} == set(range(n_splits))
    assert all(r.part == r.offset >> 20 for r in rows)


def test_warc_bridge_plan_is_narrow(spark, tmp_path):
    """warc_to_documents must add ZERO exchanges: the split table is
    built without a shuffle, and the whole crawl→documents conversion
    runs beside the record scan."""
    from mediawiki_to_notion_spark.sources.warc import warc_to_documents

    recs = _corpus(3)
    (tmp_path / "c.warc").write_bytes(_plain_bytes(recs))
    docs = warc_to_documents(read_warc(spark, str(tmp_path)))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    assert "BatchEvalPython" not in plan  # conversion is all codegen


def test_wet_conversion_records_feed_documents(spark, tmp_path):
    """Common Crawl's WET layout: `conversion` records carry the
    pre-extracted text verbatim — the bridge ingests them alongside
    raw HTTP responses, with non-text conversions cut."""
    from mediawiki_to_notion_spark.sources.warc import warc_to_documents

    prose = ("the quick river is of a bright valley and "
             + " ".join(f"word{i}" for i in range(20)))
    recs = [
        ({"WARC-Type": "conversion", "WARC-Record-ID": f"<urn:wet:{k}>",
          "WARC-Target-URI": f"https://site{k}.example.org/p",
          "Content-Type": "text/plain"},
         f"{prose} wet{k}".encode())
        for k in range(3)
    ]
    recs.append((
        {"WARC-Type": "conversion", "WARC-Record-ID": "<urn:wet:bin>",
         "WARC-Target-URI": "https://site9.example.org/x",
         "Content-Type": "application/octet-stream"},
        b"\x00\x01binary conversion",
    ))
    (tmp_path / "chunk.warc.wet.gz").write_bytes(_gz_bytes(recs))
    docs = warc_to_documents(read_warc(spark, str(tmp_path)))
    rows = sorted(docs.collect(), key=lambda r: r.source)
    assert len(rows) == 3  # the octet-stream conversion is cut
    for k, r in enumerate(rows):
        assert r.text.endswith(f"wet{k}")     # payload verbatim, no HTML pass
        assert r.source == f"site{k}.example.org"
        assert r.lang == "en"


def test_recrawl_upsert_is_idempotent(spark, tmp_path):
    """Content-addressed doc ids make crawl ingestion idempotent: a
    re-crawl of the same pages upserted into ParquetTable changes
    nothing; one changed page updates exactly one row."""
    from mediawiki_to_notion_spark.sources.warc import warc_to_documents
    from mediawiki_to_notion_spark.storage import ParquetTable

    def crawl(version: int) -> bytes:
        prose = ("the quick river is of a bright valley and "
                 + " ".join(f"word{i}" for i in range(20)))
        out = b""
        for k in range(3):
            body = prose + (f" revision{version}" if k == 0 else "")
            payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain"
                       b"\r\n\r\n" + body.encode())
            out += encode_warc_record(
                {"WARC-Type": "response",
                 "WARC-Record-ID": f"<urn:v{version}:{k}>",
                 "WARC-Target-URI": f"https://example.org/page/{k}",
                 "Content-Type": "application/http; msgtype=response"},
                payload,
            )
        return out

    def ingest(version: int) -> None:
        (tmp_path / "crawl.warc").write_bytes(crawl(version))
        docs = warc_to_documents(
            read_warc(spark, str(tmp_path / "crawl.warc"))
        )
        table.upsert(docs.select("doc_id", "text", "lang", "source",
                                 "n_chars"))

    table = ParquetTable(
        spark, str(tmp_path / "docs_table"), key_cols=["doc_id"],
        schema="doc_id long, text string, lang string, source string, "
               "n_chars long",
    )
    ingest(1)
    first = {r.doc_id: r.text for r in table.read().collect()}
    assert len(first) == 3
    ingest(1)  # identical re-crawl: no growth, no change
    again = {r.doc_id: r.text for r in table.read().collect()}
    assert again == first
    ingest(2)  # one page changed: same ids, exactly one text differs
    third = {r.doc_id: r.text for r in table.read().collect()}
    assert set(third) == set(first)
    assert sum(third[k] != first[k] for k in first) == 1


def test_read_warc_in_spark(spark, tmp_path):
    """End-to-end: plain + gzip files in one directory, tiny split size
    so splits genuinely exercise sync; HTTP response payloads split
    into status/content-type/body."""
    http_payload = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Server: test\r\n\r\n<html>hello</html>"
    )
    recs = _corpus(12)
    recs.append((
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:test:http>",
         "WARC-Target-URI": "https://example.org/page",
         "WARC-Date": "2026-08-14T00:00:00Z",
         "Content-Type": "application/http; msgtype=response"},
        http_payload,
    ))
    (tmp_path / "a.warc").write_bytes(_plain_bytes(recs[:7]))
    (tmp_path / "b.warc.gz").write_bytes(_gz_bytes(recs[7:]))

    df = read_warc(spark, str(tmp_path), split_bytes=1 << 20)
    rows = {r.record_id: r for r in df.collect()}
    assert len(rows) == len(recs)
    ids = {h["WARC-Record-ID"] for h, _ in recs}
    assert set(rows) == ids
    hr = rows["<urn:test:http>"]
    assert hr.http_status == 200
    assert hr.http_content_type == "text/html; charset=utf-8"
    assert bytes(hr.payload) == b"<html>hello</html>"
    assert rows["<urn:test:0>"].http_status is None
    assert bytes(rows["<urn:test:3>"].payload) == recs[3][1]
    # offsets are per-file record starts: unique within each file
    per_file = {}
    for r in rows.values():
        per_file.setdefault(r.source_file, []).append(r.offset)
    for offs in per_file.values():
        assert len(offs) == len(set(offs))
