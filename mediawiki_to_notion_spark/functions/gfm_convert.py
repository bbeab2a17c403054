"""Wikitext → GitHub-Flavored-Markdown conversion stage.

The reference shells out to pandoc (process-mw-dump.py:276-292:
``pandoc.read(format="mediawiki")`` → ``pandoc.write(format="gfm",
--wrap=none)``).  Pandoc is not installed in this environment, so the
conversion engine is pluggable:

- if a pandoc binding is importable, use it (the real path on a cluster
  image that ships pandoc);
- otherwise fall back to a small deterministic wikitext→GFM converter
  covering the constructs the reference's own cleanup chain leaves
  behind (headings, lists, bold/italic, links, <pre> blocks).

Errors never fail the job: failed documents flow to an error side-output
(the reference logs ERROR and skips, :278-283).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

try:  # pragma: no cover - pandoc not present in this container
    import pandoc as _pandoc
    HAVE_PANDOC = True
except ImportError:
    _pandoc = None
    HAVE_PANDOC = False

_HEADING = re.compile(r"^(={1,6})\s*(.*?)\s*={1,6}\s*$")
_BOLD_ITALIC = re.compile(r"'''''(.+?)'''''")
_BOLD = re.compile(r"'''(.+?)'''")
_ITALIC = re.compile(r"''(.+?)''")
_LINK_PIPED = re.compile(r"\[\[([^\]|]+)\|([^\]]+)\]\]")
_LINK_BARE = re.compile(r"\[\[([^\]|]+)\]\]")
# external links only ever carry a URL scheme (MediaWiki syntax), and
# anchoring on it keeps the pattern off already-converted wikilinks
_EXT_LINK = re.compile(r"\[((?:https?|ftp|mailto|irc):(?://)?[^\s\]]+)\s+([^\]]+)\]")
_FILE_LINK = re.compile(r"\[\[File:([^\]]+)\]\]")
_CODE_TAG = re.compile(r"<code>(.*?)</code>")
# backtick in the lookbehind + excluded-tail set keeps autolinking out of
# already-formed code spans (pandoc never autolinks inside Code inlines)
_AUTOLINK = re.compile(r"(?<![(<\[`])(https?://[^\s\])>,`]+)")
# one marker run covers pure and MIXED nesting (*# = ordered under
# bullet): depth = run length, last marker decides the item type
_LIST_ITEM = re.compile(r"^([*#]+)\s*(.*)$")
_TABLE_CELL_SPLIT = re.compile(r"\s*\|\|\s*")
_HEADER_CELL_SPLIT = re.compile(r"\s*!!\s*")
_HRULE = re.compile(r"^-{4,}\s*$")
_BR = re.compile(r"\s*<br\s*/?>\s*", re.IGNORECASE)
_PRE_TAG = re.compile(r"(</?pre>)")


def _inline(line: str) -> str:
    """Inline construct mapping, mirroring pandoc's mediawiki reader →
    gfm writer pairs: wikilinks keep the "wikilink" title, free URLs
    become autolinks, quote-markup becomes asterisk emphasis."""
    line = _FILE_LINK.sub(lambda g: f"![{g.group(1)}]({g.group(1)})", line)
    line = _LINK_PIPED.sub(lambda g: f'[{g.group(2)}]({g.group(1)} "wikilink")', line)
    line = _LINK_BARE.sub(lambda g: f'[{g.group(1)}]({g.group(1)} "wikilink")', line)
    line = _EXT_LINK.sub(lambda g: f"[{g.group(2)}]({g.group(1)})", line)
    # code spans form BEFORE autolinking: a URL inside <code> is a Code
    # inline to pandoc, never an autolink
    line = _CODE_TAG.sub(r"`\1`", line)
    line = _AUTOLINK.sub(r"<\1>", line)
    line = _BOLD_ITALIC.sub(r"***\1***", line)
    line = _BOLD.sub(r"**\1**", line)
    line = _ITALIC.sub(r"*\1*", line)
    return line


def _render_table(rows: list[tuple[bool, list[str]]]) -> list[str]:
    """MediaWiki ``{| … |}`` table → GFM pipe table, pandoc-shaped:
    cells left-padded to the column's content width, separator dashes
    spanning width+2 (min 3 dashes per GFM)."""
    if not rows:
        return []
    n_cols = max(len(cells) for _, cells in rows)
    grid = [cells + [""] * (n_cols - len(cells)) for _, cells in rows]
    widths = [max(3, *(len(r[j]) for r in grid)) for j in range(n_cols)]
    header = grid[0] if rows[0][0] else [""] * n_cols
    body = grid[1:] if rows[0][0] else grid

    def fmt(cells: list[str]) -> str:
        return "|" + "|".join(f" {c.ljust(widths[j])} " for j, c in enumerate(cells)) + "|"

    out = [fmt(header), "|" + "|".join("-" * (w + 2) for w in widths) + "|"]
    out.extend(fmt(r) for r in body)
    return out


def wikitext_to_gfm(text: str) -> str:
    """Deterministic fallback converter producing pandoc-shaped GFM
    (``--wrap=none``: one line per paragraph).

    Construct mapping follows pandoc's mediawiki→gfm pair (the
    reference's conversion engine, process-mw-dump.py:276-292); marker
    spacing, the fenced (not indented) code-block form, and pipe-table
    padding are this repo's canonical choices, pinned by the golden
    fixtures in functions/gfm_golden.py."""
    out: list[str] = []
    in_pre = False
    in_table = False
    table_rows: list[tuple[bool, list[str]]] = []
    indent_pre: list[str] = []  # run of space-indented (preformatted) lines
    counters: list[int] = []  # ordered-list numbering per nesting depth
    list_ctx = ""  # marker prefix of the previous list line

    def flush_indent_pre() -> None:
        # MediaWiki renders space-indented lines preformatted; pandoc's
        # reader parses the run as one CodeBlock, written fenced in gfm
        # (the repo's canonical fence form, de-indented one space)
        if indent_pre:
            out.append("```")
            out.extend(indent_pre)
            out.append("```")
            indent_pre.clear()

    for line in text.splitlines():
        if (
            not in_pre and not in_table
            and line.startswith(" ") and line.strip()
        ):
            indent_pre.append(line[1:])
            continue
        flush_indent_pre()
        if "<pre>" in line or "</pre>" in line:
            # a fence must stand on its own line: the fencer keeps the
            # reference's rstrip, so an indented run ends as
            # " last line</pre>" — split text and fence apart
            for part in _PRE_TAG.split(line):
                if part in ("<pre>", "</pre>"):
                    in_pre = part == "<pre>"
                    out.append("```")
                elif part.strip():
                    out.append(part)
            continue
        if in_pre:
            out.append(line)
            continue
        if line.startswith("{|"):
            in_table = True
            table_rows = []
            continue
        if in_table:
            stripped = line.strip()
            if stripped.startswith("|}"):
                in_table = False
                out.extend(_render_table(table_rows))
            elif stripped.startswith("|-"):
                pass
            elif stripped.startswith("!"):
                cells = _HEADER_CELL_SPLIT.split(stripped[1:].strip())
                table_rows.append((True, [_inline(c) for c in cells]))
            elif stripped.startswith("|"):
                cells = _TABLE_CELL_SPLIT.split(stripped[1:].strip())
                table_rows.append((False, [_inline(c) for c in cells]))
            continue
        m = _LIST_ITEM.match(line)
        if m:
            markers = m.group(1)
            depth = len(markers)
            # numbering context IS the marker prefix (MediaWiki list
            # identity): any divergence — type switch at a depth, or a
            # shallower run — closes the lists from that depth down and
            # restarts their numbering (pandoc: new list)
            for d in range(depth):
                if d >= len(list_ctx) or list_ctx[d] != markers[d]:
                    del counters[d:]
                    break
            del counters[depth:]
            while len(counters) < depth:
                counters.append(0)
            # CommonMark child indent = width of the parent's marker:
            # 3 under an ordered item ("1. "), 2 under a bullet ("- ")
            indent = "".join("   " if ch == "#" else "  " for ch in markers[:-1])
            if markers[-1] == "#":
                counters[depth - 1] += 1
                out.append(f"{indent}{counters[depth - 1]}. " + _inline(m.group(2)))
            else:
                counters[depth - 1] = 0
                out.append(indent + "- " + _inline(m.group(2)))
            list_ctx = markers
            continue
        # ANY non-list line — blank included — terminates open lists
        # (MediaWiki lists end at the first non-list line)
        counters = []
        list_ctx = ""
        m = _HEADING.match(line)
        if m:
            # pandoc sets headings off with blank lines on both sides
            out.append("")
            out.append("#" * len(m.group(1)) + " " + _inline(m.group(2)))
            out.append("")
            continue
        if _HRULE.match(line):
            # thematic break set off by blank lines, like headings
            out.extend(["", "---", ""])
            continue
        if _BR.search(line):
            # <br> is a hard line break: gfm backslash-break on every
            # fragment but the last (pandoc LineBreak semantics)
            parts = [_inline(p) for p in _BR.split(line)]
            out.extend(f"{p}\\" for p in parts[:-1])
            out.append(parts[-1])
            continue
        out.append(_inline(line))
    flush_indent_pre()
    if in_table:  # unterminated table: emit what accumulated
        out.extend(_render_table(table_rows))
    # pandoc separates blocks with exactly one blank line and emits no
    # leading/trailing blanks — normalize runs the same way
    normed: list[str] = []
    for ln in out:
        if ln.strip() == "" and (not normed or normed[-1] == ""):
            continue
        normed.append("" if ln.strip() == "" else ln)
    while normed and normed[-1] == "":
        normed.pop()
    return "\n".join(normed)


def convert_document(text: str) -> tuple[str | None, str | None]:
    """→ (gfm, error).  Never raises (error side-output discipline)."""
    try:
        if HAVE_PANDOC:  # pragma: no cover
            doc = _pandoc.read(text, format="mediawiki")
            return _pandoc.write(doc, format="gfm", options=["--wrap=none"]), None
        return wikitext_to_gfm(text), None
    except Exception as exc:  # noqa: BLE001 - anything pandoc throws
        return None, f"{type(exc).__name__}: {exc}"


CONVERT_DDL_SUFFIX = "markdown string, convert_error string"


def convert_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: passes through all input columns and appends
    (markdown, convert_error)."""
    for pdf in batches:
        md, err = [], []
        for text in pdf["cleaned"]:
            g, e = convert_document(text) if text is not None else (None, "empty")
            md.append(g)
            err.append(e)
        pdf = pdf.copy()
        pdf["markdown"] = md
        pdf["convert_error"] = err
        yield pdf
