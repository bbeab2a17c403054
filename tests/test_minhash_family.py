"""The MinHash family shares one band-join core (_minhash_pairs and its
DuckDB twin), one calibration core for the two estimator audits, and
one connected-components oracle template, so a slip in a shared piece
breaks several queries at once.  Each query built on them (the three
band-join queries, the two audits, and the four that compose the
band-join pairs) is checked against its DuckDB oracle here, in the
default tier, at sf0.001."""

from __future__ import annotations

import pytest

from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all
from mediawiki_to_notion_spark.oracle import compare
from tests.conftest import SF_SMOKE

load_all()

MINHASH_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "decontaminate_fuzzy_minhash",
    "dedup_minhash_estimate_quality",
    "dedup_minhash_b_bit",
    "dedup_connected_components",
    "dedup_survivorship",
    "dedup_cluster_size_histogram",
    "corpus_prepare_pipeline",
)


@pytest.mark.parametrize("name", MINHASH_QUERIES)
def test_minhash_query_matches_oracle(spark, name):
    result = compare(spark, QUERIES[name], ORACLES[name], SF_SMOKE)
    assert result["match"], f"{name}: {result}"
    assert result["spark_rows"] > 0, name
