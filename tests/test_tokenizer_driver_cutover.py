"""The r9 tokenizer scale cutover must be a pure PHYSICAL choice: the
driver-side replay (word table under ``iter_local._DRIVER_CAP``) and the
distributed round loop must produce bit-identical results on the same
input, for all six tokenizer queries.  This is the pin that makes the
cutover semantics-free — the 100 TB path and the bench path are the
same operator."""

from __future__ import annotations

import pytest

from mediawiki_to_notion_spark.operators import QUERIES, load_all
from mediawiki_to_notion_spark.operators import iter_local as IL

load_all()
SF = "/root/testdata/sf0.001"

NAMES = [
    "bpe_train_merges",
    "bpe_tokenize_fertility",
    "wordpiece_train_merges",
    "wordpiece_tokenize_fertility",
    "unigram_lm_train",
    "unigram_lm_fertility",
]


@pytest.mark.parametrize("name", NAMES)
def test_driver_and_distributed_paths_agree(spark, name, monkeypatch):
    driver = sorted(map(tuple, QUERIES[name](spark, SF).collect()))
    assert driver, name  # non-empty on the smoke corpus
    monkeypatch.setattr(IL, "_DRIVER_CAP", 0)  # force distributed
    dist = sorted(map(tuple, QUERIES[name](spark, SF).collect()))
    assert driver == dist


def test_cap_probe_is_exact(spark, monkeypatch):
    """limit(cap+1) returns EVERY row when under the cap, and None
    exactly when over it."""
    df = spark.createDataFrame(
        [(f"w{i}", i + 1) for i in range(10)], "word string, freq long")
    rows = IL.collect_capped(df)
    assert rows is not None and sorted(rows) == [
        (f"w{i}", i + 1) for i in range(10)]
    monkeypatch.setattr(IL, "_DRIVER_CAP", 9)
    assert IL.collect_capped(df) is None
    monkeypatch.setattr(IL, "_DRIVER_CAP", 10)
    assert len(IL.collect_capped(df)) == 10


@pytest.mark.parametrize("name", NAMES)
def test_paths_agree_on_unicode_corpus(spark, name, monkeypatch, tmp_path):
    """Path parity beyond ASCII: Python compares strings by code point,
    Spark/DuckDB by UTF-8 bytes — orders that agree (UTF-8 preserves
    code-point order), pinned here on a corpus with combining marks,
    CJK, and astral-plane symbols."""
    texts = [
        "café café naïve",
        "café 中文词 中文",
        "\U0001f600\U0001f600 élève 中文词",
        "naïve élève café",
    ]
    rows = [(i, t, len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    driver = sorted(map(tuple, QUERIES[name](spark, str(tmp_path)).collect()))
    assert driver, name
    monkeypatch.setattr(IL, "_DRIVER_CAP", 0)
    dist = sorted(map(tuple, QUERIES[name](spark, str(tmp_path)).collect()))
    assert driver == dist
