from __future__ import annotations

import pytest

from mediawiki_to_notion_spark.session import get_spark
from mediawiki_to_notion_spark.streaming import ingest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


MD_A = "# Page A\n\npara one\n\n- item\n"
MD_B = "# Page B\n\n## sub\n\ntext\n"


@pytest.fixture()
def staged_tables(spark, tmp_path):
    """Two markdown pages ingested into fresh state tables."""
    staged = spark.createDataFrame(
        [("wiki/A.md", MD_A), ("wiki/B.md", MD_B)],
        "s3_object_key string, markdown string",
    )
    tables_dir = str(tmp_path / "tables")
    ingest.ingest_batch(spark, staged, tables_dir)
    return tables_dir
