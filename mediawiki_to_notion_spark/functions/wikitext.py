r"""Wikitext cleanup / template-rewrite engine.

Re-expresses the reference's regex rewrite suite
(/root/reference/process-mw-dump.py:192-254 generic prepare,
:295-386 custom templates) as a **data-driven rule table** folded into a
single Catalyst-optimizable column-expression chain, plus the one
genuinely stateful transform (code-block fencing,
process-mw-dump.py:213-241) as an Arrow-batched pandas UDF.

Regex portability: patterns are written in the common subset of Python
`re`, Java `java.util.regex` (Spark executors) and RE2 (DuckDB oracle):
braces escaped (`\{\{`), inline `(?i)` for case-insensitivity, no
backreferences inside patterns.  Replacements are stored in Python
`\1` syntax and translated to Java `$1` for Spark.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One rewrite rule: ordered, optionally namespace-gated."""

    name: str
    pattern: str          # common-subset regex, Python \-escaped braces
    replacement: str      # Python backreference syntax (\1)
    namespaces: tuple[str, ...] | None = None  # None = all namespaces
    citation: str = ""    # reference file:line this rule's semantics came from

    def java_replacement(self) -> str:
        r"""Translate ``\1`` backreferences to Java's ``$1`` and escape
        literal ``$`` / ``\`` that Java would treat specially."""
        out = []
        i = 0
        s = self.replacement
        while i < len(s):
            ch = s[i]
            if ch == "\\" and i + 1 < len(s) and s[i + 1].isdigit():
                out.append("$" + s[i + 1])
                i += 2
            elif ch == "\\":
                out.append("\\\\")
                i += 1
            elif ch == "$":
                out.append("\\$")
                i += 1
            else:
                out.append(ch)
                i += 1
        return "".join(out)

    def apply_py(self, text: str) -> str:
        return re.sub(self.pattern, self.replacement, text)


# --- generic cleanup, applied to every wikitext namespace --------------------
# Semantics: process-mw-dump.py:198-211 (pre-fencer) and :243-244 (post).

PRE_FENCE_RULES: list[Rule] = [
    Rule("strip_category_tags", r"\[\[Category:.+\]\]", "",
         citation="process-mw-dump.py:199"),
    Rule("strip_nowiki", r"</?nowiki>", "",
         citation="process-mw-dump.py:202"),
    Rule("strip_toc_with_header", r"=+ Table of Contents =+\n__TOC__", "",
         citation="process-mw-dump.py:206"),
    Rule("strip_toc", r"__TOC__", "",
         citation="process-mw-dump.py:207"),
    Rule("strip_file_options", r"\[\[File:([^\|]+)\|.+\]\]", r"[[File:\1]]",
         citation="process-mw-dump.py:211"),
]

POST_FENCE_RULES: list[Rule] = [
    Rule("strip_transclusions", r"\{\{\:.+\}\}", "",
         citation="process-mw-dump.py:244"),
]

# --- custom template rewrites, Main namespace only ---------------------------
# Semantics: process-mw-dump.py:295-386.  Order matters: the two
# sourcelink rules are order-sensitive (comment at :373-379).

MAIN = ("Main",)

TEMPLATE_RULES: list[Rule] = [
    Rule("anchor_delete", r"\{\{anchor\|.+\}\}", "", MAIN,
         "process-mw-dump.py:300"),
    Rule("attention_emoji", r"(?i)\{\{Attention\}\}", "💡 ", MAIN,
         "process-mw-dump.py:303"),
    Rule("book_citation", r"(?i)\{\{Book\|(.+)\|(\d+)\}\}",
         r"(source: \1/ISBN \2)", MAIN, "process-mw-dump.py:306-308"),
    Rule("ciscobug_link", r"\{\{Ciscobug\|(.+)\}\}",
         r"[https://bst.cloudapps.cisco.com/bugsearch/bug/\1]", MAIN,
         "process-mw-dump.py:311-315"),
    Rule("ciscocase_link", r"\{\{CiscoCase\|(\d+)\}\}",
         r"[http://tools.cisco.com/ServiceRequestTool/query/QueryCaseSearchAction.do"
         r"?method=doQueryByCase&caseType=ciscoServiceRequest&SRNumber=\1 \1]", MAIN,
         "process-mw-dump.py:318-322"),
    Rule("ciscotaccc_link", r"\{\{CiscoTACCC\|(\w+)\}\}",
         r"[http://www.ciscotaccc.com/lanswitching/showcase?case=\1]", MAIN,
         "process-mw-dump.py:325-329"),
    Rule("href_link", r"\{\{href\|(\S+)\s+([^\|]+)\|(.+)\}\}",
         r"[\1 \2] (\3)", MAIN, "process-mw-dump.py:332"),
    Rule("juniperkb_link", r"\{\{JuniperKB\|(\d+)\|(.+)\}\}",
         r"[http://kb.juniper.net/index?page=content&id=KB\1 \2]", MAIN,
         "process-mw-dump.py:335-339"),
    Rule("leftoffat_aside", r"\{\{leftoffat\|(.+)\}\}",
         r"<aside>💡 You left off at: \1</aside>", MAIN,
         "process-mw-dump.py:342"),
    Rule("msgid_link", r"(?i)\{\{Msgid\|(\S+)\|(.+)\}\}",
         r"[http://marc.info/?i=\1 \2]", MAIN, "process-mw-dump.py:345-350"),
    Rule("mskb_link", r"\{\{MSKB\|(\d+)\|(.+)\}\}",
         r"[http://support.microsoft.com/kb/\1 \2]", MAIN,
         "process-mw-dump.py:353-355"),
    Rule("needsclarification_emoji", r"(?i)\{\{Needsclarification\}\}", "⚠️  ",
         MAIN, "process-mw-dump.py:358"),
    Rule("needswork_emoji", r"(?i)\{\{Needswork\}\}", "🚧 ", MAIN,
         "process-mw-dump.py:361"),
    Rule("rfc_link", r"\{\{RFC\|([-\w\d]+)(?:\|(.+))?\}\}",
         r"[https://tools.ietf.org/html/\1 RFC \1 \2]", MAIN,
         "process-mw-dump.py:364-368"),
    Rule("source_citation", r"(?i)\{\{source\|(.+?)\}\}", r"(source: \1)", MAIN,
         "process-mw-dump.py:371"),
    # Order-sensitive pair: the "url|title" form must rewrite before the
    # "url title|comment" form or the second gobbles both occurrences.
    Rule("sourcelink_pipe", r"\{\{sourcelink\|(\S+)\|(.+?)\}\}",
         r"(source: [\1 \2])", MAIN, "process-mw-dump.py:375"),
    Rule("sourcelink_space", r"\{\{sourcelink\|(\S+)\s(.+?)\|.+?\}\}",
         r"(source: [\1 \2])", MAIN, "process-mw-dump.py:379"),
    Rule("vmwarekb_link", r"\{\{VMwareKB\|(\d+)(?:\|(.+))?\}\}",
         r"[http://kb.vmware.com/kb/\1 \2]", MAIN,
         "process-mw-dump.py:381-384"),
]

UNHANDLED_TEMPLATE_PATTERN = r"\{\{.+?\}\}"  # process-mw-dump.py:252


# ---------------------------------------------------------------------------
# Column-expression application (JVM-side, whole-stage-codegen'd)
# ---------------------------------------------------------------------------

def apply_rules(col: Column, rules: list[Rule], ns_col: Column | None = None) -> Column:
    """Fold the rule table into a chained ``regexp_replace`` expression.

    Consecutive rules sharing a namespace gate are chained linearly and
    wrapped in ONE ``CASE WHEN ns IN (...)`` — wrapping each rule
    individually would duplicate the accumulated expression in both CASE
    branches and blow the plan up exponentially (2^n nodes for n rules).
    The result is a single linear expression Catalyst folds into one
    whole-stage-codegen pass; no Python in the loop.
    """
    out = col
    i = 0
    while i < len(rules):
        gate = rules[i].namespaces
        j = i
        chained = out
        while j < len(rules) and rules[j].namespaces == gate:
            chained = F.regexp_replace(
                chained, rules[j].pattern, rules[j].java_replacement()
            )
            j += 1
        if gate is not None and ns_col is not None:
            out = F.when(ns_col.isin(*gate), chained).otherwise(out)
        else:
            out = chained
        i = j
    return out


def unhandled_template(col: Column) -> Column:
    """First leftover ``{{...}}`` template, '' if none — the WARNING
    side-output of process-mw-dump.py:251-254."""
    return F.regexp_extract(col, UNHANDLED_TEMPLATE_PATTERN, 0)


# ---------------------------------------------------------------------------
# The stateful code fencer (the one transform regexp_replace can't express)
# ---------------------------------------------------------------------------

_CODE_START = re.compile(r"^\s+\S+", re.ASCII)
_CODE_END = re.compile(r"^\S", re.ASCII)
_BOLD = re.compile(r"'''(.+)'''")
_ITALIC = re.compile(r"''(.+)''")


def fence_code_blocks(text: str) -> str:
    """Wrap indented runs in <pre>…</pre> and convert ''' / '' markup
    inside them to backticked Markdown.

    Behavior parity with process-mw-dump.py:213-241: a leading-whitespace
    line opens a block, a column-0 non-space line closes it (stripping
    trailing whitespace before the close tag), blank lines keep state,
    EOF force-closes.  State is per-document, so this stays embarrassingly
    parallel across rows.
    """
    parts: list[str] = []
    inside = False
    for line in text.splitlines(keepends=True):
        if not inside and _CODE_START.match(line):
            parts.append("<pre>\n")
            inside = True
        elif inside and _CODE_END.match(line):
            if parts:
                parts[-1] = parts[-1].rstrip()
            parts.append("</pre>\n\n")
            inside = False
        if inside:
            line = _BOLD.sub(r"`**\1**`", line)
            line = _ITALIC.sub(r"`*\1*`", line)
        parts.append(line)
    if inside:
        parts.append("</pre>")
    return "".join(parts)


def _fence_series(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: None if t is None else fence_code_blocks(t))


_FENCE_UDF = None


def fence_code_blocks_udf(col: Column) -> Column:
    """Arrow-batched fencer UDF (built lazily: pandas_udf needs a live
    session to resolve its return type)."""
    global _FENCE_UDF
    if _FENCE_UDF is None:
        _FENCE_UDF = F.pandas_udf(_fence_series, "string")
    return _FENCE_UDF(col)


# ---------------------------------------------------------------------------
# Full prepare chain (generic + fencer + templates), column-level
# ---------------------------------------------------------------------------

def prepare_wikitext(col: Column, ns_col: Column) -> Column:
    """The whole `WikitextParser.prepare` + `custom_prepare` chain as one
    column expression: regex rules stay JVM-side; only the fencer crosses
    into Python (Arrow-batched)."""
    out = apply_rules(col, PRE_FENCE_RULES)
    out = fence_code_blocks_udf(out)
    out = apply_rules(out, POST_FENCE_RULES)
    out = apply_rules(out, TEMPLATE_RULES, ns_col=ns_col)
    return out


def prepare_wikitext_py(text: str | None, ns_name: str) -> str | None:
    """Pure-Python twin of :func:`prepare_wikitext` (golden-test oracle)."""
    if not text:
        return text
    for rule in PRE_FENCE_RULES:
        text = rule.apply_py(text)
    text = fence_code_blocks(text)
    for rule in POST_FENCE_RULES:
        text = rule.apply_py(text)
    for rule in TEMPLATE_RULES:
        if rule.namespaces is None or ns_name in rule.namespaces:
            text = rule.apply_py(text)
    return text


# --- title / filename projections (process-mw-dump.py:114-128) ---------------

def title_without_namespace(title: Column, ns_id: Column) -> Column:
    """Strip the `NS:` prefix when ns_id > 0 (process-mw-dump.py:114-115)."""
    return F.when(ns_id > 0, F.regexp_replace(title, r"^[^:]*:", "")).otherwise(title)


def safe_filename(title: Column) -> Column:
    """Title → filesystem-safe name (process-mw-dump.py:123-128):
    path separators → '-', keep alnum + ' ._-', strip trailing space.
    The regex's Unicode letter and number classes mirror Python's
    Unicode-aware ``str.isalnum``."""
    cleaned = F.regexp_replace(title, "/", "-")
    cleaned = F.regexp_replace(cleaned, r"[^\p{L}\p{N} ._-]", "")
    return F.rtrim(cleaned)


def safe_filename_py(title: str) -> str:
    """Pure-Python twin of :func:`safe_filename` (golden-test oracle)."""
    name = title.replace("/", "-")
    return "".join(c for c in name if c.isalnum() or c in " ._-").rstrip()


def is_redirect(col: Column) -> Column:
    """#REDIRECT pages are dropped before conversion (process-mw-dump.py:261-263)."""
    return col.startswith("#REDIRECT")


def is_empty_page(col: Column) -> Column:
    """Empty/missing wikitext short-circuits prepare/save
    (process-mw-dump.py:194-196,257-259)."""
    return col.isNull() | (col == "")
