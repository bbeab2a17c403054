"""The subword-tokenizer triad (BPE, WordPiece, unigram-LM) shares one
word table, one cutover probe, one BPE/WordPiece merge loop, one
fertility pass and one set of DuckDB templates
(``operators/tokenizer_local.py``), so a slip in a shared piece breaks
several queries at once.  Each of the six queries is checked against
its DuckDB oracle here, in the default tier, at sf0.001."""

from __future__ import annotations

import pytest

from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all
from mediawiki_to_notion_spark.oracle import compare
from tests.conftest import SF_SMOKE

load_all()

TOKENIZER_QUERIES = (
    "bpe_train_merges",
    "bpe_tokenize_fertility",
    "wordpiece_train_merges",
    "wordpiece_tokenize_fertility",
    "unigram_lm_train",
    "unigram_lm_fertility",
)


@pytest.mark.parametrize("name", TOKENIZER_QUERIES)
def test_tokenizer_query_matches_oracle(spark, name):
    result = compare(spark, QUERIES[name], ORACLES[name], SF_SMOKE)
    assert result["match"], f"{name}: {result}"
    assert result["spark_rows"] > 0, name
