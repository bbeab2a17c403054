"""Golden wikitext→GFM conversion fixtures (pandoc-parity corpus).

The reference converts every page with pandoc: ``pandoc.read(text,
format="mediawiki")`` → ``pandoc.write(doc, format="gfm",
options=["--wrap=none"])`` (process-mw-dump.py:276-292).  Pandoc is not
installable in this environment, so these fixtures pin the repo's
converter against hand-derived expected outputs for exactly the
constructs the reference's cleanup chain leaves in a page when it
reaches pandoc (headings, emphasis, wiki/external links, lists,
``<pre>`` blocks left by the code fencer, tables).

Certification levels, annotated per fixture:
- construct mapping (what a heading/link/list becomes) follows pandoc's
  documented mediawiki-reader → gfm-writer behavior, including the
  ``"wikilink"`` link title and ``<url>`` autolinks;
- marker spacing, the fenced (vs indented) code-block form, and pipe-
  table padding are this repo's canonical whitespace choices — pandoc's
  own byte-level spacing varies across versions, so parity is pinned at
  the construct level and the whitespace is pinned to ONE deterministic
  form here.

Used twice: ``tests/test_gfm_golden.py`` (direct converter check) and
the registered ``gfm_convert_golden`` query, whose DuckDB oracle is a
VALUES table of these expected strings — upgrading the conversion stage
from a rows-only check to a value-checked one.
"""

from __future__ import annotations

# (case_id, wikitext_input, expected_gfm)
GOLDEN_CASES: list[tuple[str, str, str]] = [
    (
        "headings_paragraphs",
        "== Installation ==\n\nInstall the '''latest''' release from ''source''.\n\n"
        "=== Steps ===\n\nRun the installer.",
        "## Installation\n\nInstall the **latest** release from *source*.\n\n"
        "### Steps\n\nRun the installer.",
    ),
    (
        "bold_italic_nesting",
        "'''''Strongly emphasized''''' words and '''bold ''then italic'' inside'''.",
        "***Strongly emphasized*** words and **bold *then italic* inside**.",
    ),
    (
        "wikilinks",
        "See [[Sandbox]] and [[Help:Contents|the help pages]] for details.",
        'See [Sandbox](Sandbox "wikilink") and '
        '[the help pages](Help:Contents "wikilink") for details.',
    ),
    (
        "external_links_autolink",
        "Docs at [https://example.com/docs the docs] or visit "
        "https://example.com directly.",
        "Docs at [the docs](https://example.com/docs) or visit "
        "<https://example.com> directly.",
    ),
    (
        "bullet_list_nested",
        "* one\n* two\n** two point one\n** two point two\n* three",
        "- one\n- two\n  - two point one\n  - two point two\n- three",
    ),
    (
        "ordered_list_sequential",
        "# first\n# second\n# third",
        "1. first\n2. second\n3. third",
    ),
    (
        "ordered_then_new_list",
        "# alpha\n# beta\n\nA paragraph splits the lists.\n\n# gamma\n# delta",
        "1. alpha\n2. beta\n\nA paragraph splits the lists.\n\n1. gamma\n2. delta",
    ),
    (
        "pre_block_fenced",
        "Before the code.\n\n<pre>\n$ make install\nPLUGIN_DIR=/opt\n</pre>\n\nAfter.",
        "Before the code.\n\n```\n$ make install\nPLUGIN_DIR=/opt\n```\n\nAfter.",
    ),
    (
        "inline_code",
        "Set <code>MaxBlocks=50</code> before uploading.",
        "Set `MaxBlocks=50` before uploading.",
    ),
    (
        "table_pipe",
        '{| class="wikitable"\n! Name !! Size\n|-\n| alpha || 10\n|-\n'
        "| beta-longer || 2\n|}",
        "| Name        | Size |\n|-------------|------|\n"
        "| alpha       | 10   |\n| beta-longer | 2    |",
    ),
    (
        "blank_line_normalization",
        "Para one.\n\n\n\nPara two.\n\n",
        "Para one.\n\nPara two.",
    ),
    (
        "file_embed",
        "[[File:diagram.png]] shows the flow.",
        "![diagram.png](diagram.png) shows the flow.",
    ),
    (
        "mixed_page",
        "== Config ==\n* set '''mode''' to [[Fast]]\n* see [https://example.org ref]\n\n"
        "<pre>\nmode=fast\n</pre>",
        '## Config\n\n- set **mode** to [Fast](Fast "wikilink")\n'
        "- see [ref](https://example.org)\n\n```\nmode=fast\n```",
    ),
    (
        # MediaWiki space-indentation is preformatted text; pandoc's
        # reader takes the run as one CodeBlock (fenced form is the
        # repo's canonical choice, de-indented one space)
        "indented_preformatted",
        "Router config follows.\n interface eth0\n  ip address 10.0.0.1/24\n"
        "Plain text resumes.",
        "Router config follows.\n```\ninterface eth0\n ip address 10.0.0.1/24\n"
        "```\nPlain text resumes.",
    ),
    (
        # the code fencer keeps the reference's rstrip, so an indented
        # run followed by a column-0 line closes on the last code line;
        # the fence still goes on its own line
        "pre_close_on_code_line",
        "Intro\n<pre>\n code one\n code two</pre>\n\nAfter\n\n== H ==\nx",
        "Intro\n```\n code one\n code two\n```\n\nAfter\n\n## H\n\nx",
    ),
    (
        "horizontal_rule",
        "Section one.\n----\nSection two.",
        "Section one.\n\n---\n\nSection two.",
    ),
    (
        # <br> is LineBreak in pandoc's AST; gfm hard break =
        # backslash at end of line
        "br_hard_break",
        "First line.<br>Second line.<br/>Third line.",
        "First line.\\\nSecond line.\\\nThird line.",
    ),
    (
        # a URL inside <code> is a Code inline, never an autolink;
        # the same URL in running text still autolinks
        "code_span_suppresses_autolink",
        "Call <code>https://example.com/api</code> or see https://example.com now.",
        "Call `https://example.com/api` or see <https://example.com> now.",
    ),
    (
        # *# / #* mixed nesting: depth = marker-run length, last marker
        # decides the type; a bullet at a depth restarts that depth's
        # ordered numbering (pandoc: type switch = new list)
        "mixed_list_nesting",
        "* top\n*# ordered child\n*# second child\n* next top\n*# restarts",
        "- top\n  1. ordered child\n  2. second child\n- next top\n  1. restarts",
    ),
    (
        # 3-space child indent under an ordered parent (width of "1. ")
        # so CommonMark consumers actually nest it; numbering continues
        # around the nested child
        "ordered_survives_bullet_child",
        "# one\n#* bullet child\n# two",
        "1. one\n   - bullet child\n2. two",
    ),
    (
        # type switch at a depth = new list: the bullet run closes the
        # ordered list, and the next '#' restarts at 1 (pandoc semantics)
        "type_switch_restarts_numbering",
        "# one\n** stray bullets\n# two",
        "1. one\n  - stray bullets\n1. two",
    ),
    (
        # a blank line terminates lists; numbering restarts after it
        "blank_line_ends_list",
        "# one\n\n# two",
        "1. one\n\n1. two",
    ),
    (
        "link_inside_bold",
        "'''bold with [[Target|label]] inside'''",
        '**bold with [label](Target "wikilink") inside**',
    ),
    (
        "table_formatted_cells",
        "{|\n! Col !! '''Num'''\n|-\n| [[Page]] || ''two''\n|}",
        "| Col                     | **Num** |\n"
        "|-------------------------|---------|\n"
        '| [Page](Page "wikilink") | *two*   |',
    ),
    (
        "list_item_with_extlink",
        "* item [https://x.org ref] tail",
        "- item [ref](https://x.org) tail",
    ),
]


def golden_oracle_values_sql() -> str:
    """The expected outputs as a DuckDB VALUES relation — the oracle for
    ``gfm_convert_golden`` (single quotes doubled per SQL)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n      ".join(
        f"({q(cid)}, {q(expected)})" for cid, _, expected in GOLDEN_CASES
    )
    return (
        "SELECT case_id, markdown FROM (VALUES\n      "
        + rows
        + "\n    ) AS t(case_id, markdown)"
    )
