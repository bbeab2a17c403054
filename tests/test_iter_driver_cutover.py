"""The r10 iterative-loop scale cutovers (connected components,
PageRank, Lloyd k-means — operators/iter_local.py) must be pure
PHYSICAL choices: the driver-side replay (loop input under
``iter_local._DRIVER_CAP``) and the distributed round loops must
produce bit-identical results on the same input.  Same discipline as
tests/test_tokenizer_driver_cutover.py: run BOTH paths, assert exact
equality — including the float-heavy k-means, whose replay reproduces
every double operation in the engines' order."""

from __future__ import annotations

import os

import pytest

from mediawiki_to_notion_spark.operators import QUERIES, load_all
from mediawiki_to_notion_spark.operators import iter_local as IL

load_all()
SF = "/root/testdata/sf0.001"

NAMES = [
    "dedup_connected_components",
    "dedup_survivorship",          # composes the CC cutover
    "pagerank_word_graph",
    "kmeans_lloyd_refine",
    "dedup_fuzzy_connectivity_certificate",  # two _min_label_components
]


def _both_paths(spark, name, sf, monkeypatch):
    driver = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    monkeypatch.setattr(IL, "_DRIVER_CAP", 0)
    dist = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    return driver, dist


@pytest.mark.parametrize("name", NAMES)
def test_driver_and_distributed_paths_agree(spark, name, monkeypatch):
    driver, dist = _both_paths(spark, name, SF, monkeypatch)
    assert driver, name  # non-empty on the smoke corpus
    assert driver == dist


def test_kmeans_paths_agree_at_bench_scale(spark, monkeypatch):
    """The float-discipline pin at the bench corpus (2000 vectors):
    dimension-sequential folds, Double.toString HALF_UP rounding and
    exact decimal means must survive a larger, denser assignment."""
    driver, dist = _both_paths(
        spark, "kmeans_lloyd_refine", "/root/testdata/sf0.1", monkeypatch)
    assert driver == dist


def test_cap_probe_is_exact(spark, monkeypatch):
    """limit(cap+1) returns EVERY row when under the cap, and None
    exactly when over it; cap 0 disables the driver path."""
    df = spark.range(10).selectExpr("id AS src", "id + 1 AS dst")
    monkeypatch.setattr(IL, "_DRIVER_CAP", 10)
    rows = IL.collect_capped(df)
    assert rows is not None and len(rows) == 10
    monkeypatch.setattr(IL, "_DRIVER_CAP", 9)
    assert IL.collect_capped(df) is None
    monkeypatch.setattr(IL, "_DRIVER_CAP", 0)
    assert IL.collect_capped(df) is None


def test_min_label_components_deep_chain_both_paths(spark, monkeypatch):
    """A 500-deep chain: union-find (driver) and pointer-jumping
    (distributed, converging in O(log d) rounds) must label every node
    with the chain minimum."""
    from mediawiki_to_notion_spark.operators.dedup import (
        _min_label_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(500)], "doc_a long, doc_b long")
    driver = sorted(map(tuple, _min_label_components(pairs).collect()))
    monkeypatch.setattr(IL, "_DRIVER_CAP", 0)
    dist = sorted(map(tuple, _min_label_components(pairs).collect()))
    assert driver == dist == [(i, 0) for i in range(501)]


def test_cc_min_labels_unit():
    """Union-find helper: min-id labels over disjoint chains, cliques,
    and self-loops."""
    edges = (
        [(5, 4), (4, 3)]             # chain labeled 3
        + [(10, 11), (11, 12), (10, 12)]  # triangle labeled 10
        + [(20, 20)]                  # self-loop, singleton component
    )
    labels = IL.cc_min_labels(edges)
    assert labels == {3: 3, 4: 3, 5: 3, 10: 10, 11: 10, 12: 10, 20: 20}


def test_pagerank_paths_agree_on_unicode_corpus(spark, monkeypatch,
                                                tmp_path):
    """Token identity beyond ASCII (split/compare by code point vs
    UTF-8 bytes must not matter for the rank map)."""
    texts = [
        "café 中文词 café \U0001f600",
        "中文词 élève café",
        "\U0001f600 élève élève 中文词",
    ]
    spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars int",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    driver, dist = _both_paths(
        spark, "pagerank_word_graph", str(tmp_path), monkeypatch)
    assert driver
    assert driver == dist


def test_kmeans_empty_cluster_keeps_previous_centroid(spark, monkeypatch,
                                                      tmp_path):
    """All vectors identical → every vector assigns to cluster 0 (tie
    broken by lowest cluster_id); clusters 1..K-1 stay empty and must
    keep their initial centroids on BOTH paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vec = [0.125 * ((i % 7) - 3) for i in range(64)]
    tbl = pa.table({
        "vec_id": pa.array(range(16), type=pa.int64()),
        "embedding": pa.array([vec] * 16,
                              type=pa.list_(pa.float32())),
        "label": pa.array([0] * 16, type=pa.int32()),
    })
    pq.write_table(tbl, os.path.join(str(tmp_path), "embeddings.parquet"))
    driver, dist = _both_paths(
        spark, "kmeans_lloyd_refine", str(tmp_path), monkeypatch)
    assert driver == dist
    # 8 clusters x 64 dims, all centroids equal to the one vector
    assert len(driver) == 8 * 64
