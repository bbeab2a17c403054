r"""Pipeline-shaped queries for the driver harness: the document→block
explosion and the full prepare/convert chain, run over markdown/wikitext
synthesized from the documents table.

`markdown_block_explode` is the interesting one: the Spark side runs the
*real* Python block parser (mapInPandas, functions/markdown_blocks.py)
while the oracle re-derives the expected rows relationally — pinning the
parser's per-line classification and index assignment against SQL.  The
synthesized markdown deliberately has no consecutive plain lines, so
paragraph merging is inactive and every line is exactly one block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.functions import wikitext as wt
from mediawiki_to_notion_spark.functions.gfm_convert import (
    CONVERT_DDL_SUFFIX,
    convert_batches,
    convert_document,
)
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame, store_blocks
from mediawiki_to_notion_spark.sources.tables import load_table


def _well_formed(d: DataFrame) -> DataFrame:
    """Documents whose synthesized markdown yields exactly 6 non-blank
    lines: text/lang/source present and both text slices non-blank
    after trimming.  A NULL column would null the whole concat (no
    document at all) and a blank slice would drop a line in the parser
    but not in the relational oracle — the NULL-injection sweep caught
    both divergences.  Malformed documents are the ingest layer's
    quarantine concern; the explode contract is over well-formed docs."""
    return d.filter(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
        & (F.trim(F.substring("text", 1, 30)) != "")
        & (F.trim(F.substring("text", 31, 20)) != "")
    )


_WELL_FORMED_SQL = """
      WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
        AND trim(substr(text, 1, 30)) != '' AND trim(substr(text, 31, 20)) != ''
"""


def _synth_md(d: DataFrame) -> DataFrame:
    return _well_formed(d).select(
        F.concat(F.lit("docs/"), F.col("doc_id"), F.lit(".md")).alias("s3_object_key"),
        F.concat(
            F.lit("# Doc "), F.col("doc_id"), F.lit("\n"),
            F.substring("text", 1, 30), F.lit("\n"),
            F.lit("- "), F.col("lang"), F.lit("\n"),
            F.lit("- "), F.col("source"), F.lit("\n"),
            F.lit("> quoted "), F.col("doc_id"), F.lit("\n"),
            F.substring("text", 31, 20),
        ).alias("markdown"),
    )


@register(
    "markdown_block_explode",
    oracle=rf"""
    WITH synth AS (
      SELECT 'docs/' || doc_id || '.md' AS key,
             ['# Doc ' || doc_id,
              trim(substr(text, 1, 30)),
              '- ' || lang,
              '- ' || source,
              '> quoted ' || doc_id,
              trim(substr(text, 31, 20))] AS lines
      FROM documents
      {_WELL_FORMED_SQL}
    )
    SELECT md5(key) AS batch_id,
           u.i - 1 AS block_index,
           key AS s3_object_key,
           CASE WHEN lines[u.i] LIKE '# %' THEN 'header'
                WHEN lines[u.i] LIKE '- %' THEN 'bulleted_list'
                WHEN lines[u.i] LIKE '> %' THEN 'quote'
                ELSE 'text' END AS block_type,
           CASE WHEN lines[u.i] LIKE '# %' THEN substr(lines[u.i], 3)
                WHEN lines[u.i] LIKE '- %' THEN substr(lines[u.i], 3)
                WHEN lines[u.i] LIKE '> %' THEN substr(lines[u.i], 3)
                ELSE lines[u.i] END AS title
    FROM synth,
    LATERAL (SELECT unnest(generate_series(1, len(lines))) AS i) u
    """,
)
def markdown_block_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → ordered typed block rows through the real mapInPandas
    parser + content-addressed batch ids (store_notion_blocks.py:115-137
    equivalent), oracle-checked relationally."""
    d = load_table(spark, "documents", sf_dir)
    blocks, _pages = store_blocks(_synth_md(d))
    return blocks.select(
        "batch_id", "block_index", "s3_object_key", "block_type",
        F.get_json_object("block_json", "$.title").alias("title"),
    )


from mediawiki_to_notion_spark.functions.gfm_golden import (  # noqa: E402
    GOLDEN_CASES,
    golden_oracle_values_sql,
)


@register("gfm_convert_golden", oracle=golden_oracle_values_sql())
def gfm_convert_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked conversion parity: run the real GFM converter
    (the same mapInPandas stage the pipeline uses) over the golden
    wikitext corpus; the DuckDB oracle is the expected-output VALUES
    table.  This upgrades the conversion stage from the rows-only
    check on ``pipeline_prepare_convert`` to an exact value check
    against pandoc-parity fixtures (process-mw-dump.py:276-292)."""
    src = local_frame(
        spark, [(cid, wikitext) for cid, wikitext, _ in GOLDEN_CASES],
        "case_id string, cleaned string",
    )
    converted = src.mapInPandas(
        convert_batches, f"case_id string, cleaned string, {CONVERT_DDL_SUFFIX}"
    )
    return converted.select("case_id", "markdown")


from mediawiki_to_notion_spark.functions.markdown_golden import (  # noqa: E402
    GOLDEN_BLOCK_CASES,
    golden_block_values_sql,
)


@register("markdown_blocks_golden", oracle=golden_block_values_sql())
def markdown_blocks_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked md2notion parity: the real block parser
    (mapInPandas, same stage as the pipeline) over the golden markdown
    corpus, against a VALUES oracle of the expected (index, type, title)
    rows — pinning store_notion_blocks.py:115-137 semantics at the
    driver's correctness gate, not just in pytest."""
    from mediawiki_to_notion_spark.functions.markdown_blocks import (
        BLOCK_ROWS_DDL,
        markdown_to_block_rows,
    )

    src = local_frame(
        spark, [(cid, cid, md) for cid, md, _ in GOLDEN_BLOCK_CASES],
        "batch_id string, s3_object_key string, markdown string",
    )
    rows = src.mapInPandas(markdown_to_block_rows, BLOCK_ROWS_DDL)
    return rows.select(
        F.col("s3_object_key").alias("case_id"),
        "block_index",
        "block_type",
        F.get_json_object("block_json", "$.title").alias("title"),
    )


def _synth_wikitext_py(doc_id: int, lang: str, text: str) -> str | None:
    """Pure-Python twin of the synthesized-wikitext expression below —
    MUST mirror the Spark concat construct for construct."""
    if lang is None or text is None:
        return None
    return (
        "== Intro ==\n"
        f"[[Category:{lang}]]\n"
        f"{text[:50]}\n"
        f"  code line {doc_id}\n"
        f"tail {{{{RFC|{doc_id % 999}}}}}\n"
    )


PREPARE_CONVERT_SF_DIRS = (
    "/root/testdata/sf0.001", "/root/testdata/sf0.01",
)


def _prepare_convert_oracle(
        sf_dirs: tuple[str, ...] = PREPARE_CONVERT_SF_DIRS) -> str | None:
    """SEQUENTIAL-REFERENCE oracle for the Phase-1 chain (VERDICT r6
    brief #6): the fencer and fallback converter are deterministic
    Python that no SQL engine can express, so the oracle is an
    expected-output VALUES table computed by running the SAME
    functions sequentially (prepare_wikitext_py + convert_document,
    the split-vs-whole discipline of sources/xml_dump.py's tests) over
    the driver-visible SF dirs at registration time.  Rows are keyed
    by (doc_id, md5(lang || '|' || text)) so a changed input joins
    NOTHING and fails loudly as a row-count mismatch rather than
    silently passing; converter SEMANTICS stay pinned by the
    pandoc-parity golden corpus (gfm_convert_golden) — this gate
    certifies that Spark's distributed chain (rule-table codegen pass,
    Arrow fencer batches, mapInPandas converter) reproduces the
    sequential reference bit for bit."""
    import hashlib

    import duckdb

    rows: list[str] = []
    for sf in sf_dirs:
        try:
            con = duckdb.connect()
            recs = con.execute(
                "SELECT doc_id, lang, text FROM "
                f"read_parquet('{sf}/documents.parquet')"
            ).fetchall()
            con.close()
        except Exception:  # pragma: no cover - testdata absent
            continue
        for doc_id, lang, text in recs:
            wik = _synth_wikitext_py(doc_id, lang, text)
            cleaned = wt.prepare_wikitext_py(wik, "Main")
            if cleaned is not None:
                md, err = convert_document(cleaned)
            else:
                md, err = None, "empty"
            in_key = f"{lang or ''}|{text or ''}".encode("utf-8")
            in_md5 = hashlib.md5(in_key).hexdigest()
            md_md5 = (
                "NULL" if md is None
                else f"'{hashlib.md5(md.encode('utf-8')).hexdigest()}'"
            )
            err_flag = 0 if err is None else 1
            rows.append(f"({doc_id}, '{in_md5}', {md_md5}, {err_flag})")
    if not rows:  # pragma: no cover - no readable SF dir: rows-only
        return None
    values = ",\n      ".join(rows)
    return f"""
    WITH expected(doc_id, in_md5, md_md5, err_flag) AS (
      VALUES {values}
    )
    SELECT d.doc_id, e.md_md5,
           CAST(e.err_flag AS INT) AS err_flag
    FROM documents d
    JOIN expected e
      ON e.doc_id = d.doc_id
     AND e.in_md5 = md5(coalesce(d.lang, '') || '|' || coalesce(d.text, ''))
    """


@register("pipeline_prepare_convert", oracle=_prepare_convert_oracle())
def pipeline_prepare_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Phase-1 chain at corpus scale: rule table → fencer UDF →
    template rules → GFM conversion with error side-channel.  Python
    stages are Arrow-batched.  Output is the hash-checkable digest
    (doc_id, md5(markdown), err_flag) — value-gated against the
    sequential-reference oracle (see ``_prepare_convert_oracle``),
    upgrading this from the last r1-era rows-only row to a full hash
    gate (VERDICT r6 brief #6)."""
    d = load_table(spark, "documents", sf_dir)
    pages = d.select(
        F.col("doc_id"),
        F.lit("Main").alias("ns_name"),
        F.concat(
            F.lit("== Intro ==\n"),
            F.lit("[[Category:"), F.col("lang"), F.lit("]]\n"),
            F.substring("text", 1, 50), F.lit("\n"),
            F.lit("  code line "), F.col("doc_id"), F.lit("\n"),
            F.lit("tail {{RFC|"), F.col("doc_id") % 999, F.lit("}}\n"),
        ).alias("wikitext"),
    )
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    prepared = ensure_parallelism(pages).withColumn(
        "cleaned", wt.prepare_wikitext(F.col("wikitext"), F.col("ns_name"))
    )
    converted = prepared.select("doc_id", "cleaned").mapInPandas(
        convert_batches, f"doc_id long, cleaned string, {CONVERT_DDL_SUFFIX}"
    )
    return converted.select(
        "doc_id",
        F.md5("markdown").alias("md_md5"),
        F.when(F.col("convert_error").isNotNull(), F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("err_flag"),
    )
