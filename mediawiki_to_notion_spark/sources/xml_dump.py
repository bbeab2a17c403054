"""MediaWiki XML dump source — split-parallel byte-range scan.

The reference streams the dump with SAX-style iterparse + element.clear()
to bound memory (process-mw-dump.py:35-89) — single-threaded by design.
The Spark-native equivalent must also split WITHIN a file: real dumps
ship as one (or few) huge XML files, and a one-task-per-file scan
serializes the whole job behind one core while holding the entire file
in memory.

This source applies the classic record-boundary-aligned input-split
pattern (Hadoop's XmlInputFormat shape, reimplemented Spark-first):

1. the driver lists files and cuts fixed-size byte ranges;
2. each task opens its range, scans forward to the first ``<page>``
   marker at-or-after its start, and parses pages until it crosses its
   end offset — reading PAST the end for the page that straddles the
   boundary (exactly one task owns each page: the one whose range
   contains the page's start offset);
3. each ``<page>…</page>`` fragment parses independently with constant
   memory — no task ever materializes a whole file.

Raw ``<page>`` byte-scanning is sound because well-formed XML escapes
angle brackets in text content (&lt;page&gt;), the same invariant
Hadoop's XmlInputFormat relies on.  The namespace map lives in the
file's ``<siteinfo>`` head, which the driver reads once per file (capped)
and ships with each split.

Outputs two frames: pages (ns routing per process-mw-dump.py:46-79) and
embedded files (<upload> elements, :147-155).
"""

from __future__ import annotations

import glob
import io
import json
import os
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.schemas import WIKI_FILE, WIKI_PAGE

PAGE_SCHEMA_DDL = (
    "page_id long, ns_id int, ns_name string, title string, wikitext string, "
    "upload_filename string, upload_encoding string, upload_contents_b64 string"
)

DEFAULT_SPLIT_BYTES = 64 << 20   # 64 MB ranges: ~1600 tasks per 100 GB file
_SITEINFO_CAP = 4 << 20          # namespace map lives in the file head
_SCAN_CHUNK = 1 << 20
_PAGE_OPEN = b"<page>"
_PAGE_CLOSE = b"</page>"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _find_local(elem: ET.Element, name: str) -> ET.Element | None:
    """First descendant whose local tag name matches — works for both
    namespace-qualified (full-document iterparse) and unqualified
    (extracted fragment) trees."""
    for child in elem.iter():
        if _local(child.tag) == name:
            return child
    return None


def read_namespaces(path: str) -> dict[int, str]:
    """Parse the ``<siteinfo>`` head of a dump file into {ns_id: name}.
    Key 0 has no text; the reference renames it "Main"
    (process-mw-dump.py:46-52)."""
    namespaces: dict[int, str] = {}
    with open(path, "rb") as f:
        head = f.read(_SITEINFO_CAP)
    end = head.find(b"</siteinfo>")
    if end != -1:
        head = head[: end + len(b"</siteinfo>")]
        # close the (possibly prefixed) root so the head parses standalone
        root_end = head.find(b">")
        head = head + b"</" + head[1:root_end].split()[0].split(b":")[-1] + b">"
    try:
        for _, elem in ET.iterparse(io.BytesIO(head), events=("end",)):
            if _local(elem.tag) == "namespace":
                key = int(elem.get("key", "0"))
                namespaces[key] = elem.text if elem.text else "Main"
            elem.clear()
    except ET.ParseError:
        pass  # truncated head: fall back to whatever parsed before the cut
    return namespaces


def _page_row(elem: ET.Element, namespaces: dict[int, str]) -> dict:
    ns_el = _find_local(elem, "ns")
    title_el = _find_local(elem, "title")
    # "text" appears only under <revision> in the export schema
    rev_text = _find_local(elem, "text")
    upload = _find_local(elem, "upload")
    ns_id = int(ns_el.text) if ns_el is not None and ns_el.text else 0
    row = {
        "ns_id": ns_id,
        "ns_name": namespaces.get(ns_id),
        "title": title_el.text if title_el is not None else None,
        "wikitext": rev_text.text if rev_text is not None else None,
        "upload_filename": None,
        "upload_encoding": None,
        "upload_contents_b64": None,
    }
    if upload is not None:
        fn = _find_local(upload, "filename")
        contents = _find_local(upload, "contents")
        row["upload_filename"] = fn.text if fn is not None else None
        if contents is not None:
            row["upload_encoding"] = contents.get("encoding")
            row["upload_contents_b64"] = contents.text
    return row


def iter_page_fragments(f, start: int, end: int) -> Iterator[tuple[int, bytes]]:
    """Yield (absolute_offset, page_bytes) for every page whose
    ``<page>`` marker starts in [start, end).  Reads past `end` to
    finish a straddling page; holds at most one page plus one scan
    chunk in memory."""
    f.seek(start)
    buf = b""
    buf_base = start          # absolute offset of buf[0]
    pos = 0                   # scan cursor within buf

    def refill() -> bool:
        nonlocal buf
        chunk = f.read(_SCAN_CHUNK)
        if not chunk:
            return False
        buf += chunk
        return True

    while True:
        i = buf.find(_PAGE_OPEN, pos)
        while i == -1:
            # keep a marker-sized tail so a split marker is still found
            keep = max(0, len(buf) - len(_PAGE_OPEN) + 1)
            nonlocal_base = buf_base + keep
            buf = buf[keep:]
            buf_base = nonlocal_base
            pos = 0
            if not refill():
                return
            i = buf.find(_PAGE_OPEN, pos)
        page_start_abs = buf_base + i
        if page_start_abs >= end:
            return  # the next range's task owns this page
        j = buf.find(_PAGE_CLOSE, i)
        while j == -1:
            # resume the close-marker search where the last one gave up
            # (minus a marker tail), not from the page start — otherwise
            # a page spanning many chunks rescans its whole accumulated
            # body per refill (quadratic in page size)
            resume = max(i, len(buf) - len(_PAGE_CLOSE) + 1)
            if not refill():
                return  # truncated final page: drop, like a torn record
            j = buf.find(_PAGE_CLOSE, resume)
        j_end = j + len(_PAGE_CLOSE)
        yield page_start_abs, buf[i:j_end]
        # discard consumed bytes to keep memory at one page + one chunk
        buf = buf[j_end:]
        buf_base = page_start_abs + (j_end - i)
        pos = 0


def _parse_splits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker over split rows (path, start, end, ns_json):
    emits parsed page rows in bounded chunks."""
    cols = [
        "ns_id", "ns_name", "title", "wikitext",
        "upload_filename", "upload_encoding", "upload_contents_b64",
    ]

    def flush(buf: list[dict], path: str) -> pd.DataFrame:
        out = pd.DataFrame(buf, columns=["offset", *cols])
        out["source_file"] = path
        return out

    for pdf in batches:
        for r in pdf.itertuples(index=False):
            namespaces = {int(k): v for k, v in json.loads(r.ns_json).items()}
            buf: list[dict] = []
            with open(r.path, "rb") as f:
                for offset, frag in iter_page_fragments(f, int(r.start), int(r.end)):
                    elem = ET.fromstring(frag)
                    row = _page_row(elem, namespaces)
                    row["offset"] = offset
                    buf.append(row)
                    if len(buf) >= PARSE_CHUNK_ROWS:
                        yield flush(buf, r.path)
                        buf = []
            if buf:
                yield flush(buf, r.path)


PARSE_CHUNK_ROWS = 1000


MIN_SPLIT_BYTES = 1 << 20


def _list_dump_files(path: str) -> list[str]:
    if os.path.isdir(path):
        # every regular file, regardless of extension — dump shards often
        # ship without .xml suffixes, and the binaryFile source this
        # replaced read them all
        return sorted(
            p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)
        )
    return sorted(glob.glob(path)) or [path]


def plan_splits(path: str, split_bytes: int = DEFAULT_SPLIT_BYTES) -> list[dict]:
    """Driver-side split planning: glob → fixed byte ranges per file,
    each carrying the file's namespace map.  Local-filesystem I/O here;
    on a cluster the open()/getsize() calls swap for the object-store
    client with identical range semantics."""
    files = _list_dump_files(path)
    splits = []
    for p in files:
        size = os.path.getsize(p)
        ns_json = json.dumps(read_namespaces(p))
        start = 0
        while start < size or start == 0:
            splits.append({
                "path": p, "start": start,
                "end": min(start + split_bytes, size), "ns_json": ns_json,
            })
            start += split_bytes
            if start >= size:
                break
    return splits


def read_dump(spark: SparkSession, path: str,
              split_bytes: int | None = None) -> DataFrame:
    """Dump file(s) → raw page rows (pages and uploads in one frame).

    When ``split_bytes`` is not given it auto-tunes: small enough that
    the dump spreads over ~2 tasks per core (a sub-64 MB dump must not
    collapse to one task and serialize every downstream stage), floored
    at ``MIN_SPLIT_BYTES`` so tasks aren't seek-dominated, capped at
    ``DEFAULT_SPLIT_BYTES``.  Each split is one partition of the
    returned frame.

    page_id is content-addressed on (source file, byte offset of the
    page's ``<page>`` marker): unique, and stable across re-runs, task
    retries, and any choice of split size — unlike
    monotonically_increasing_id, whose values depend on partitioning."""
    if split_bytes is None:
        total = sum(os.path.getsize(p) for p in _list_dump_files(path))
        target_tasks = spark.sparkContext.defaultParallelism * 2
        split_bytes = min(
            DEFAULT_SPLIT_BYTES,
            max(MIN_SPLIT_BYTES, total // max(target_tasks, 1) or 1),
        )
    splits = plan_splits(path, split_bytes)
    # one split per partition, with no shuffle: each task picks its
    # split out of a literal array by its row index
    table = F.array(*[
        F.struct(F.lit(sp["path"]).alias("path"),
                 F.lit(sp["start"]).cast("long").alias("start"),
                 F.lit(sp["end"]).cast("long").alias("end"),
                 F.lit(sp["ns_json"]).alias("ns_json"))
        for sp in splits
    ])
    sdf = spark.range(len(splits), numPartitions=len(splits)).select(
        table[F.col("id").cast("int")].alias("split")
    ).select("split.*")
    raw = sdf.mapInPandas(
        _parse_splits,
        "offset long, ns_id int, ns_name string, title string, "
        "wikitext string, upload_filename string, upload_encoding string, "
        "upload_contents_b64 string, source_file string",
    )
    return raw.withColumn(
        "page_id",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", "source_file", F.col("offset").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long"),
    ).drop("source_file", "offset")


def split_pages_files(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route the raw frame into (pages, embedded files) — the ns_id=6
    File namespace carries uploads (process-mw-dump.py:59-68)."""
    pages = raw.select([f.name for f in WIKI_PAGE.fields])
    files = (
        raw.filter(F.col("upload_filename").isNotNull())
        .select(
            F.col("upload_filename").alias("filename"),
            F.col("upload_encoding").alias("encoding"),
            F.col("upload_contents_b64").alias("contents_b64"),
        )
    )
    assert [f.name for f in WIKI_FILE.fields] == files.columns
    return pages, files
