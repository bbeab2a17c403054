"""The exact-span family (the five Lee et al. substring-dedup queries
and decontaminate_span_cut) shares one window-hash pass, one
duplicated-window core and one set of oracle CTE templates, so a slip
in a shared piece breaks several queries at once.  Each is checked
against its DuckDB oracle here, in the default tier, at sf0.001."""

from __future__ import annotations

import pytest

from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all
from mediawiki_to_notion_spark.oracle import compare
from tests.conftest import SF_SMOKE

load_all()

EXACT_SPAN_QUERIES = (
    "dedup_duplicate_ngram_spans",
    "dedup_substring_spans_exact",
    "dedup_substring_spans_token_exact",
    "dedup_substring_cut",
    "dedup_substring_cut_exact",
    "decontaminate_span_cut",
)


@pytest.mark.parametrize("name", EXACT_SPAN_QUERIES)
def test_exact_span_query_matches_oracle(spark, name):
    result = compare(spark, QUERIES[name], ORACLES[name], SF_SMOKE)
    assert result["match"], f"{name}: {result}"
    assert result["spark_rows"] > 0, name
