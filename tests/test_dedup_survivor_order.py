"""Survivor-order regression for exact-substring dedup (VERDICT r5 #1).

The survivor of a duplicated window must be the lexicographic
(doc_id, position) minimum.  The r1-r5 implementation encoded that
order as ``min(doc_id * 1_000_000 + p)``, which ALIASES across
documents once any document has >= 1M token windows: position bleeds
into the doc_id digits and the survivor can be picked from the wrong
(higher-doc_id) document.  The DuckDB oracle used the same formula, so
the driver gate could never catch it — this fixture is the only
defence.  Both engines now use a struct/tuple min.
"""

from __future__ import annotations

import os

import pytest

from mediawiki_to_notion_spark.operators import QUERIES, load_all
from mediawiki_to_notion_spark.operators.dedup_ext import SPAN_W

load_all()

# Enough tokens that doc 1's duplicated window sits at p >= 1_000_000:
# under the old composite key, doc1's key (1*1M + 1_000_050) exceeds
# doc2's (2*1M + 0 = 2_000_000), flipping the survivor to doc 2.
DUP_POS = 1_000_050


@pytest.fixture(scope="module")
def million_token_docs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("survivor_order")
    phrase = [f"dup{i}" for i in range(SPAN_W)]
    doc1 = [f"a{i}" for i in range(DUP_POS)] + phrase
    doc2 = phrase + [f"b{i}" for i in range(SPAN_W)]
    df = spark.createDataFrame(
        [(1, " ".join(doc1)), (2, " ".join(doc2))], "doc_id int, text string"
    )
    df.coalesce(1).write.parquet(os.path.join(str(root), "documents.parquet"))
    return str(root)


def test_substring_cut_survivor_is_lexicographic_min(spark, million_token_docs):
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_cut"](spark, million_token_docs).collect()
    }
    # doc 1 holds the (doc_id, p) minimum occurrence -> survives intact.
    assert rows[1]["n_cut_tokens"] == 0
    assert rows[1]["n_kept_tokens"] == DUP_POS + SPAN_W
    # doc 2's copy of the window (its first SPAN_W tokens) is cut.
    assert rows[2]["n_cut_tokens"] == SPAN_W
    assert rows[2]["clean_text"] == " ".join(f"b{i}" for i in range(SPAN_W))


@pytest.fixture(scope="module")
def abutting_runs_docs(spark, tmp_path_factory):
    """Doc 1 contains two DISTINCT shared runs X (shared with doc 2)
    and Y (shared with doc 3) that abut by chance, plus one longer run
    Z (shared with doc 2) elsewhere."""
    root = tmp_path_factory.mktemp("token_exact_spans")
    X = [f"x{i}" for i in range(SPAN_W)]
    Y = [f"y{i}" for i in range(SPAN_W)]
    Z = [f"z{i}" for i in range(SPAN_W + 4)]
    f1 = [f"f{i}" for i in range(10)]
    f2 = [f"g{i}" for i in range(10)]
    doc1 = f1 + X + Y + f2 + Z
    doc2 = [f"h{i}" for i in range(9)] + X + [f"i{i}" for i in range(9)] + Z
    doc3 = [f"j{i}" for i in range(9)] + Y + [f"k{i}" for i in range(9)]
    df = spark.createDataFrame(
        [(1, " ".join(doc1)), (2, " ".join(doc2)), (3, " ".join(doc3))],
        "doc_id int, text string",
    )
    df.coalesce(1).write.parquet(os.path.join(str(root), "documents.parquet"))
    return str(root)


def test_token_exact_spans_split_abutting_runs(spark, abutting_runs_docs):
    """The window-granular query merges X+Y (windows within SPAN_W
    chain) into one 16-token span; the token-exact query splits them
    because no partner document continues through the X->Y junction."""
    exact = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["span_len"])
        for r in QUERIES["dedup_substring_spans_token_exact"](
            spark, abutting_runs_docs
        ).collect()
    }
    # doc 1: X at tokens 10..17, Y at 18..25 — reported separately
    assert (1, 10, 17, SPAN_W) in exact
    assert (1, 18, 25, SPAN_W) in exact
    assert not any(
        d == 1 and s == 10 and e == 25 for d, s, e, _ in exact
    )
    # the longer run Z: token-exact extents on both sides
    assert (1, 36, 36 + SPAN_W + 3, SPAN_W + 4) in exact
    assert (2, 26, 26 + SPAN_W + 3, SPAN_W + 4) in exact
    # the window-granular variant merges X+Y into one span
    granular = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in QUERIES["dedup_substring_spans_exact"](
            spark, abutting_runs_docs
        ).collect()
    }
    assert (1, 10, 25) in granular


def test_substring_spans_extents_unaffected(spark, million_token_docs):
    spans = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in QUERIES["dedup_substring_spans_exact"](
            spark, million_token_docs
        ).collect()
    }
    assert (1, DUP_POS, DUP_POS + SPAN_W - 1) in spans
    assert (2, 0, SPAN_W - 1) in spans


@pytest.fixture(scope="module")
def chain_survivor_docs(spark, tmp_path_factory):
    """Doc 1 = bare run X; docs 2 and 3 = 'pre' + X.  Window-granular
    survivorship splits doc 2's occurrence (its X window loses to doc
    1's), while the token-exact chain 'pre'+X is a DIFFERENT substring
    whose first occurrence is doc 2 — so the span-granular cut must
    keep doc 2 intact."""
    root = tmp_path_factory.mktemp("chain_survivor")
    X = [f"p{i}" for i in range(SPAN_W)]
    df = spark.createDataFrame(
        [(1, " ".join(X)),
         (2, " ".join(["pre"] + X)),
         (3, " ".join(["pre"] + X))],
        "doc_id int, text string",
    )
    df.coalesce(1).write.parquet(os.path.join(str(root), "documents.parquet"))
    return str(root)


def test_cut_exact_survivorship_is_span_granular(spark, chain_survivor_docs):
    exact = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_cut_exact"](
            spark, chain_survivor_docs
        ).collect()
    }
    # doc 1's bare-X chain is unique as a chain -> survives whole.
    assert exact[1]["n_cut_tokens"] == 0
    # doc 2 is the FIRST occurrence of the 'pre'+X chain -> intact.
    assert exact[2]["n_cut_tokens"] == 0
    assert exact[2]["clean_text"] == " ".join(["pre"] + [f"p{i}" for i in range(SPAN_W)])
    # doc 3's occurrence of that chain is cut in full.
    assert exact[3]["n_cut_tokens"] == SPAN_W + 1
    assert exact[3]["clean_text"] == ""
    # contrast: the window-granular cut splits doc 2's occurrence
    # (its X window loses survivorship to doc 1's copy).
    granular = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_cut"](
            spark, chain_survivor_docs
        ).collect()
    }
    assert granular[2]["n_cut_tokens"] == SPAN_W
    assert granular[2]["clean_text"] == "pre"


def test_cut_exact_abutting_runs(spark, abutting_runs_docs):
    """X+Y abut in doc 1 but are distinct chains: each is judged for
    survivorship separately, and doc 1 holds the first occurrence of
    both (and of Z), so only docs 2 and 3 lose tokens."""
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_cut_exact"](
            spark, abutting_runs_docs
        ).collect()
    }
    assert rows[1]["n_cut_tokens"] == 0
    assert rows[2]["n_cut_tokens"] == SPAN_W + (SPAN_W + 4)  # X + Z
    assert rows[3]["n_cut_tokens"] == SPAN_W                 # Y
