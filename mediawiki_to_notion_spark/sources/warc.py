"""WARC source — split-parallel byte-range scan of web-crawl archives.

WARC (ISO 28500, the Common Crawl container) is the source format a
100 TB pretraining corpus actually ingests, so the engine reads it with
the same record-boundary-aligned input-split discipline as the XML dump
scanner (sources/xml_dump.py — the reference's streaming-read posture,
process-mw-dump.py:35-89, generalized):

1. the driver lists files and cuts fixed-size byte ranges;
2. each task SYNCS to the first record boundary at-or-after its range
   start, then hops record-to-record via ``Content-Length`` (no
   scanning between records), reading past its end for the straddling
   record — exactly one task owns each record (the one whose range
   contains the record's start offset);
3. records parse independently with bounded memory.

Two physical layouts:

- **uncompressed ``.warc``** — sync scans for ``WARC/1.0\\r\\n`` at a
  position preceded by ``\\r\\n\\r\\n`` (or file start) and validates a
  full header block (mandatory ``WARC-Type`` + integer
  ``Content-Length``) before trusting it.  Caveat, honestly: a payload
  that EMBEDS a byte-exact well-formed WARC record is locally
  indistinguishable from a real boundary (the same invariant class
  Hadoop's XmlInputFormat accepts for ``<page>``); real crawls use the
  gzip layout, which has no such ambiguity.
- **per-record gzip ``.warc.gz``** (the Common Crawl layout) — each
  record is its own gzip member, so sync scans for the gzip magic and
  PROVES a candidate by inflating its head and requiring the
  ``WARC/1.0`` prefix; false magics inside compressed bodies fail that
  check.  Member boundaries ARE record boundaries, so the format is
  split-parallel by construction.

HTTP ``response`` records optionally split into status + headers +
body (the part a text pipeline keeps).
"""

from __future__ import annotations

import glob
import os
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SPLIT_BYTES = 64 << 20
MIN_SPLIT_BYTES = 1 << 20
_SCAN_CHUNK = 1 << 20
_HEADER_CAP = 64 << 10           # a WARC header block fits well inside
_MARK = b"WARC/1.0\r\n"
_GZ_MAGIC = b"\x1f\x8b\x08"

WARC_SCHEMA_DDL = (
    "record_id string, record_type string, target_uri string, "
    "warc_date string, content_type string, content_length long, "
    "http_status int, http_content_type string, payload binary, "
    "source_file string, offset long"
)


class WARCError(ValueError):
    """Malformed WARC byte stream."""


# ---------------------------------------------------------------------------
# record-level parsing


def parse_warc_headers(block: bytes) -> dict[str, str]:
    """Parse a WARC header block (after the version line, up to the
    blank line) into a dict; duplicate keys keep the first value."""
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if not line:
            continue
        k, sep, v = line.partition(b":")
        if not sep:
            raise WARCError(f"malformed header line {line[:60]!r}")
        headers.setdefault(
            k.strip().decode("utf-8", "replace"),
            v.strip().decode("utf-8", "replace"),
        )
    return headers


def _split_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from an application/http payload;
    (None, None, payload) when it does not look like HTTP."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        return None, None, payload
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    for ln in lines[1:]:
        k, s, v = ln.partition(b":")
        if s and k.strip().lower() == b"content-type":
            ctype = v.strip().decode("utf-8", "replace")
            break
    return status, ctype, body


def _record_from_bytes(data: bytes) -> tuple[dict[str, str], bytes, int]:
    """Parse one record from the START of ``data`` → (headers, payload,
    total_record_bytes incl. the trailing CRLF CRLF)."""
    if not data.startswith(_MARK):
        raise WARCError("record does not start with WARC/1.0")
    head_end = data.find(b"\r\n\r\n", len(_MARK))
    if head_end == -1 or head_end > _HEADER_CAP:
        raise WARCError("unterminated/oversized header block")
    headers = parse_warc_headers(data[len(_MARK):head_end])
    try:
        clen = int(headers["Content-Length"])
    except (KeyError, ValueError) as e:
        raise WARCError(f"bad Content-Length: {e}") from e
    body_start = head_end + 4
    payload = data[body_start:body_start + clen]
    if len(payload) != clen:
        raise WARCError("truncated payload")
    return headers, payload, body_start + clen + 4  # + \r\n\r\n separator


def encode_warc_record(headers: dict[str, str], payload: bytes) -> bytes:
    """Serialize one record (writer twin of the readers; also builds
    test corpora).  Content-Length is computed, not caller-supplied."""
    lines = [f"{k}: {v}" for k, v in headers.items()
             if k != "Content-Length"]
    lines.append(f"Content-Length: {len(payload)}")
    head = _MARK + ("\r\n".join(lines) + "\r\n\r\n").encode("utf-8")
    return head + payload + b"\r\n\r\n"


def encode_warc_record_gz(headers: dict[str, str], payload: bytes) -> bytes:
    """One record as its own gzip member — the Common Crawl layout."""
    import gzip

    return gzip.compress(encode_warc_record(headers, payload))


# ---------------------------------------------------------------------------
# uncompressed split scanning


def _valid_boundary(buf: bytes, i: int, base_is_file_start: bool) -> bool:
    """A candidate marker is a boundary iff it sits at file start or is
    preceded by the inter-record CRLF CRLF, AND a well-formed header
    block follows."""
    if i == 0:
        if not base_is_file_start:
            return False
    elif buf[max(0, i - 4):i] != b"\r\n\r\n":
        # candidates at buffer offsets 1-3 can never prove their
        # CRLF-CRLF context (fewer than 4 predecessor bytes in view) —
        # reject them.  A TRUE boundary cannot land there: the initial
        # read starts 4 bytes before `start`, and the no-candidate
        # refill keeps len(_MARK)+4 tail bytes so a marker straddling a
        # refill re-surfaces at offset >= 5.  Accepting them (the old
        # `i >= 4 and ...` guard silently skipped the check) let a
        # previously-rejected header-valid decoy near a chunk tail be
        # re-examined context-free after the trim and accepted —
        # phantom records in split reads (ADVICE r3).
        return False
    head_end = buf.find(b"\r\n\r\n", i + len(_MARK))
    if head_end == -1:
        return False  # caller refills and retries
    try:
        h = parse_warc_headers(buf[i + len(_MARK):head_end])
    except WARCError:
        return False
    return "WARC-Type" in h and h.get("Content-Length", "x").isdigit()


def iter_warc_records_plain(
    f, start: int, end: int
) -> Iterator[tuple[int, dict[str, str], bytes]]:
    """Yield (absolute_offset, headers, payload) for every record whose
    start offset is in [start, end); reads past ``end`` to finish a
    straddling record."""
    # sync: scan for a validated boundary at-or-after start.  Read from
    # 4 bytes back so a record starting EXACTLY at `start` still has
    # its preceding CRLF CRLF in view for the boundary check.
    read_from = max(0, start - 4)
    f.seek(read_from)
    buf = f.read(_SCAN_CHUNK)
    base = read_from
    pos = 0
    while True:
        i = buf.find(_MARK, pos)
        if i == -1:
            keep = max(0, len(buf) - len(_MARK) - 4)
            base += keep
            buf = buf[keep:]
            pos = 0
            # no candidate can start at-or-after `base` and still own
            # this split once base >= end — bail instead of scanning to
            # EOF.  Without this, N splits landing inside one record
            # far larger than split_bytes (or before a long marker-free
            # tail) EACH rescan it: O(file x splits) read amplification
            # (ADVICE r3).
            if base >= end:
                return
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return
            buf += chunk
            continue
        if base + i < start:   # previous task's territory
            pos = i + 1
            continue
        if base + i >= end:
            return
        # need headers in view to validate; refill until blank line seen
        while buf.find(b"\r\n\r\n", i + len(_MARK)) == -1:
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return
            buf += chunk
        if _valid_boundary(buf, i, base + i == 0):
            break
        pos = i + 1
    # hop record-to-record by Content-Length
    abs_off = base + i
    buf = buf[i:]
    while abs_off < end:
        # the buffer must start with a record; anything else means the
        # Content-Length chain broke (corrupt file)
        while len(buf) < len(_MARK):
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return
            buf += chunk
        if not buf.startswith(_MARK):
            raise WARCError(f"lost record sync at offset {abs_off}")
        # buffer the header block
        head_end = buf.find(b"\r\n\r\n", len(_MARK))
        while head_end == -1:
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return  # torn trailing record
            buf += chunk
            head_end = buf.find(b"\r\n\r\n", len(_MARK))
        try:
            headers = parse_warc_headers(buf[len(_MARK):head_end])
            clen = int(headers["Content-Length"])
        except (WARCError, KeyError, ValueError) as e:
            raise WARCError(f"corrupt record at offset {abs_off}: {e}") from e
        body_start = head_end + 4
        while len(buf) < body_start + clen:
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return  # torn trailing record
            buf += chunk
        yield abs_off, headers, buf[body_start:body_start + clen]
        consumed = body_start + clen
        buf = buf[consumed:]
        abs_off += consumed
        # skip the inter-record CRLF CRLF (and any padding newlines)
        while True:
            stripped = buf.lstrip(b"\r\n")
            abs_off += len(buf) - len(stripped)
            buf = stripped
            if buf:
                break
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return
            buf = chunk


# ---------------------------------------------------------------------------
# per-member gzip split scanning (the Common Crawl layout)


def iter_warc_records_gz(
    f, start: int, end: int
) -> Iterator[tuple[int, dict[str, str], bytes]]:
    """Yield (member_offset, headers, payload) for every gzip member
    whose start offset is in [start, end).  A candidate magic is PROVEN
    by inflating its head and requiring the WARC/1.0 prefix, so magic
    bytes inside compressed bodies cannot mis-sync."""
    f.seek(start)
    buf = f.read(_SCAN_CHUNK)
    base = start
    pos = 0
    while True:
        i = buf.find(_GZ_MAGIC, pos)
        while i == -1:
            keep = max(0, len(buf) - len(_GZ_MAGIC) + 1)
            base += keep
            buf = buf[keep:]
            pos = 0
            # every member this split owns starts before `end`; once the
            # scan position passes it, stop rather than reading to EOF
            # (same O(file x splits) amplification as the plain scan —
            # ADVICE r3)
            if base >= end:
                return
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return
            buf += chunk
            i = buf.find(_GZ_MAGIC, pos)
        abs_off = base + i
        if abs_off >= end:
            return
        # prove the candidate: inflate and check the record prefix,
        # pulling more bytes as the member demands
        d = zlib.decompressobj(wbits=31)
        out = b""
        j = i
        ok = False
        while True:
            try:
                out += d.decompress(buf[j:], len(_MARK) - len(out) + 1)
            except zlib.error:
                break
            if len(out) >= len(_MARK):
                ok = out.startswith(_MARK)
                break
            if d.eof or d.unconsumed_tail:
                break
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                break
            buf += chunk
            j = len(buf) - len(chunk)
        if not ok:
            pos = i + 1
            continue
        # full member inflation from a fresh decompressor
        d = zlib.decompressobj(wbits=31)
        out = d.decompress(buf[i:])
        while not d.eof:
            chunk = f.read(_SCAN_CHUNK)
            if not chunk:
                return  # torn trailing member
            buf += chunk
            out += d.decompress(chunk)
        headers, payload, _ = _record_from_bytes(
            out if out.endswith(b"\r\n\r\n") else out + b"\r\n\r\n"
        )
        yield abs_off, headers, payload
        consumed = len(buf) - i - len(d.unused_data)
        base = abs_off + consumed
        buf = d.unused_data
        pos = 0


# ---------------------------------------------------------------------------
# Spark wiring (mirrors xml_dump.read_dump)


def _is_gz(path: str) -> bool:
    return path.endswith(".gz")


def _parse_warc_splits(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    cols = ["offset", "record_id", "record_type", "target_uri", "warc_date",
            "content_type", "content_length", "http_status",
            "http_content_type", "payload"]
    for pdf in batches:
        for r in pdf.itertuples(index=False):
            it = iter_warc_records_gz if _is_gz(r.path) \
                else iter_warc_records_plain
            buf: list[tuple] = []
            with open(r.path, "rb") as f:
                for off, headers, payload in it(f, int(r.start), int(r.end)):
                    status, http_ct, body = (None, None, payload)
                    if "application/http" in headers.get("Content-Type", ""):
                        status, http_ct, body = _split_http(payload)
                    buf.append((
                        off,
                        headers.get("WARC-Record-ID"),
                        headers.get("WARC-Type"),
                        headers.get("WARC-Target-URI"),
                        headers.get("WARC-Date"),
                        headers.get("Content-Type"),
                        int(headers["Content-Length"]),
                        status, http_ct, bytearray(body),
                    ))
                    if len(buf) >= 500:
                        out = pd.DataFrame(buf, columns=cols)
                        out["source_file"] = r.path
                        yield out
                        buf = []
            if buf:
                out = pd.DataFrame(buf, columns=cols)
                out["source_file"] = r.path
                yield out


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)
        )
    return sorted(glob.glob(path)) or [path]


def html_to_text(col: F.Column) -> F.Column:
    """Naive JVM-side HTML → text: drop script/style subtrees, strip
    tags, unescape the common entities, collapse whitespace.  All
    codegen'd regexp_replace — no Python in the hot path.  (A
    production extractor — trafilatura/jusText — slots in as an Arrow
    kernel behind the same column contract.)"""
    t = F.regexp_replace(col, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    t = F.regexp_replace(t, r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr)[^>]*>", "\n")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
        t = F.regexp_replace(t, ent, ch)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def warc_to_documents(warc: DataFrame) -> DataFrame:
    """Crawl records → the engine's ``documents`` contract (doc_id,
    text, lang, source, n_chars), so every registered operator —
    the filter funnel, the dedup family, shard assignment, the whole
    corpus_prepare composition — runs on a crawl unchanged.

    - keeps HTTP 200 text/* ``response`` records (raw-crawl WARC) and
      plain-text ``conversion`` records (Common Crawl's WET layout —
      pre-extracted text whose payload IS the document);
    - text: payload decoded UTF-8; HTML stripped JVM-side for
      text/html responses, taken verbatim for WET conversions;
    - doc_id: content-addressed 60-bit md5 of the target URI — stable
      across re-crawls, re-splits, and retries;
    - lang: the engine's lexicon-anchor predictor
      (functions.text.lang_predict);
    - source: the URI host (the per-domain mixture key).

    Narrow ops only — the conversion plans beside the WARC scan with
    zero shuffles."""
    from mediawiki_to_notion_spark.functions import text as tx

    is_http_text = (
        (F.col("record_type") == "response")
        & (F.col("http_status") == 200)
        & (F.col("http_content_type").startswith("text/"))
    )
    is_wet = (
        (F.col("record_type") == "conversion")
        & F.col("content_type").startswith("text/plain")
    )
    kept = warc.filter(
        (is_http_text | is_wet) & F.col("payload").isNotNull()
    )
    # binary→string CAST, not decode(): Catalyst legitimately pushes
    # downstream predicates (rewritten through this projection) below
    # the content-type filter, so the conversion can run on non-text
    # payloads — decode() raises MALFORMED_CHARACTER_CODING under ANSI
    # on the first PNG, while the cast substitutes U+FFFD and the
    # filters then drop the row (observed, pinned by the bridge test)
    raw = F.col("payload").cast("string")
    text = F.when(
        F.col("http_content_type").startswith("text/html"),
        html_to_text(raw),
    ).otherwise(F.trim(raw))
    return kept.select(
        F.conv(
            F.substring(F.md5(F.col("target_uri")), 1, 15), 16, 10
        ).cast("long").alias("doc_id"),
        text.alias("text"),
        tx.lang_predict(text).alias("lang"),
        F.expr("parse_url(target_uri, 'HOST')").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def read_warc(spark: SparkSession, path: str,
              split_bytes: int | None = None) -> DataFrame:
    """WARC file(s)/dir/glob → one row per record, split-parallel.

    Auto-tunes the split size exactly like ``xml_dump.read_dump``
    (~2 tasks per core, floored/capped) so a small archive still
    parallelizes and a 100 GB one doesn't plan 100k seeks."""
    files = _list_files(path)
    if split_bytes is None:
        total = sum(os.path.getsize(p) for p in files)
        target = spark.sparkContext.defaultParallelism * 2
        split_bytes = min(
            DEFAULT_SPLIT_BYTES,
            max(MIN_SPLIT_BYTES, total // max(target, 1) or 1),
        )
    splits = []
    for p in files:
        size = os.path.getsize(p)
        start = 0
        while start < size or start == 0:
            splits.append(
                {"path": p, "start": start,
                 "end": min(start + split_bytes, size)}
            )
            start += split_bytes
            if start >= size:
                break
    # one split per partition, with no shuffle: each task picks its
    # split out of a literal array by its row index (as read_dump does)
    table = F.array(*[
        F.struct(F.lit(sp["path"]).alias("path"),
                 F.lit(sp["start"]).cast("long").alias("start"),
                 F.lit(sp["end"]).cast("long").alias("end"))
        for sp in splits
    ])
    sdf = spark.range(len(splits), numPartitions=len(splits)).select(
        table[F.col("id").cast("int")].alias("split")
    ).select("split.*")
    return sdf.mapInPandas(_parse_warc_splits, WARC_SCHEMA_DDL)
