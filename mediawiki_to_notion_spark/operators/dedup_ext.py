r"""Second-generation dedup operators (north-star extension).

- ``dedup_duplicate_ngram_spans`` — the *exact-substring* dedup signal
  of Lee et al., "Deduplicating Training Data Makes Language Models
  Better" (2021), re-expressed relationally: instead of a suffix array,
  hash every W-token sliding window, find window hashes shared by ≥2
  documents, and report per-document duplicated-span coverage.
- ``semantic_dedup_clustered`` — SemDeDup (Abbas et al., 2023):
  k-means-style cluster assignment against a deterministic codebook,
  then near-duplicate pairs *within* clusters only — the subquadratic
  path to embedding-level dedup.

Both are fully DuckDB-oracled (portable md5-based hashing, 6-dp rounded
cosines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.functions import hashing as H
from mediawiki_to_notion_spark.operators.dedup import _SHINGLES_SQL
from mediawiki_to_notion_spark.functions import vectors as V
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.sources.tables import load_table

SPAN_W = 8  # tokens per sliding window (Lee et al. use 50 BPE tokens)

SEMDEDUP_K = 16  # codebook size (deterministic: the first K vectors)
SEMDEDUP_THRESHOLD = 0.35


def _rebuild_excising_spans(toks: DataFrame, spans: DataFrame) -> DataFrame:
    """Rebuild every document with its cut token spans excised — the
    shared final stage of dedup_substring_cut / dedup_substring_cut_exact
    / decontaminate_span_cut.  ``toks`` is (doc_id, t: array<string>),
    ``spans`` is (doc_id, s, e) inclusive 0-based token ranges to cut
    (possibly overlapping, never exact duplicates).  Returns
    (doc_id, n_tokens, n_cut_tokens, n_kept_tokens, clean_text).

    Scale shape (r10, guide §8 "decide with small rows, move big rows
    once"): the old rebuild posexploded the ENTIRE corpus token stream,
    left-joined it against the exploded+distinct'd cut-token ids at
    (doc_id, tok_i) granularity, and re-assembled each document with a
    corpus-wide collect_list — two corpus-scale shuffles of one-row-per-
    TOKEN data.  Cut decisions are span-sized, not corpus-sized: collect
    the (few) cut spans per document (one shuffle over cut spans only),
    join them onto the packed token arrays at DOC granularity, and do
    the merge/excise/count entirely with array higher-order functions
    beside the scan — zero token-level shuffles, values bit-identical
    (same kept tokens in the same order, re-verified vs the unchanged
    DuckDB oracles)."""
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("s"), F.col("e")))
        ).alias("spans")
    )
    j = toks.join(per_doc, "doc_id", "left")
    sp = F.coalesce(F.col("spans"), F.array().cast("array<struct<s:int,e:int>>"))
    n = F.size("t")
    zero = F.struct(
        F.lit(0).alias("pos"),
        F.lit(0).cast("long").alias("cut"),
        F.array().cast("array<struct<o:int,l:int>>").alias("segs"),
    )

    def step(acc, s):
        # tokens kept before this span starts (0 when it overlaps the
        # already-covered prefix), newly covered tokens, advanced cursor
        keep_l = F.greatest(s["s"] - acc["pos"], F.lit(0))
        new_cut = acc["cut"] + F.greatest(
            s["e"] + 1 - F.greatest(s["s"], acc["pos"]), F.lit(0)
        ).cast("long")
        new_pos = F.greatest(acc["pos"], s["e"] + 1)
        new_segs = F.when(
            keep_l > 0,
            F.concat(
                acc["segs"],
                F.array(F.struct(
                    (acc["pos"] + 1).alias("o"), keep_l.alias("l")
                )),
            ),
        ).otherwise(acc["segs"])
        return F.struct(
            new_pos.alias("pos"), new_cut.alias("cut"), new_segs.alias("segs")
        )

    def fin(acc):
        tail_l = n - acc["pos"]
        segs = F.when(
            tail_l > 0,
            F.concat(
                acc["segs"],
                F.array(F.struct(
                    (acc["pos"] + 1).alias("o"), tail_l.alias("l")
                )),
            ),
        ).otherwise(acc["segs"])
        kept = F.flatten(
            F.transform(segs, lambda g: F.slice(F.col("t"), g["o"], g["l"]))
        )
        return F.struct(acc["cut"].alias("cut"), kept.alias("kept"))

    j2 = j.select("doc_id", "t", F.aggregate(sp, zero, step, fin).alias("r"))
    return j2.select(
        "doc_id",
        n.alias("n_tokens"),
        F.col("r.cut").alias("n_cut_tokens"),
        (n.cast("long") - F.col("r.cut")).alias("n_kept_tokens"),
        F.concat_ws(" ", F.col("r.kept")).alias("clean_text"),
    )


# --- Exact-substring spans (Lee et al. 2021) -------------------------------
#
# Five queries here and decontaminate_span_cut share one pipeline:
# hash every W-token window (_token_windows), keep the windows whose
# hash occurs in >= 2 documents (_dup_windows), chain them into spans
# (_span_islands), then report the spans (_span_extents) or cut them
# (_rebuild_excising_spans).  The DuckDB templates below mirror each
# step CTE for CTE.


def _token_windows(spark: SparkSession, sf_dir: str,
                   w: int) -> tuple[DataFrame, DataFrame]:
    """The ``documents`` token arrays and their ``w``-token windows:
    ``toks`` is (doc_id, t: array<string>) for documents of >= ``w``
    space-separated tokens, ``win`` is (doc_id, p, h) with one row per
    window start ``p`` and ``h`` the window's 60-bit hash.

    Scale shape: the window expansion is a narrow per-row transform
    (array slices hashed to 60-bit ids), so every later shuffle keyed
    on a window is keyed on 8 bytes; nothing here shuffles."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= w
    )
    win = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - w),
                lambda i: H.token_hash60(
                    F.concat_ws(" ", F.slice("t", i + 1, w))
                ),
            )
        ).alias("p", "h"),
    )
    return toks, win


def _dup_windows(win: DataFrame) -> DataFrame:
    """The rows of ``win`` whose hash occurs in >= 2 documents, as
    (h, doc_id, p).

    Scale shape: the duplicated-hash set is one partial-aggregate
    shuffle keyed by the 8-byte hash, and the match is a hash
    equi-join on it; nothing is quadratic and nothing is collected."""
    dup = (
        win.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return win.join(dup, "h")


def _span_islands(win: DataFrame, token_exact: bool) -> DataFrame:
    """Chain each document's duplicated windows into spans:
    (doc_id, p, h, span_id), span ids counting from 1 in position order.

    ``token_exact=False`` is the gap rule: a duplicated window within
    SPAN_W of the previous one continues its span (gaps-and-islands
    lag/cumsum).  A token is then covered iff it sits in some
    duplicated window, Lee et al.'s cut criterion, and distinct runs
    that abut or overlap by chance merge into one span.

    ``token_exact=True`` is the edge rule.  Inside one shared run every
    window position is duplicated, so the run's windows are consecutive.
    A chain continues from p-1 to p only when the pair (hash@p-1,
    hash@p) itself occurs in >= 2 documents, i.e. some partner document
    continues the run through the same junction.  Every span is then a
    maximal co-moving window chain: one duplicated substring with
    token-exact start and end.  (Two runs overlapping by >= SPAN_W+1
    tokens inside one document still chain, as in every windowed
    method.)

    Scale shape: the lag/cumsum windows run only over the duplicated
    windows (a small fraction of the corpus) partitioned by doc_id,
    never over the full window stream.  The edge rule adds one hash
    aggregate keyed on the 8-byte hash pair and an equi-join back.  Its
    duplicated-window sequence is checkpointed eagerly because both the
    edge set and the flags read it; it holds only duplicated windows
    (output-bounded), so the checkpoint is small at any scale, unlike
    ``win`` itself, which is token-scale and left re-evaluated."""
    from pyspark.sql import Window as W

    byp = W.partitionBy("doc_id").orderBy("p")
    dw = _dup_windows(win)
    if token_exact:
        seq = dw.select(
            "doc_id", "p", "h",
            F.lag("p").over(byp).alias("pp"),
            F.lag("h").over(byp).alias("ph"),
        ).localCheckpoint()
        dup_edges = (
            seq.filter(F.col("pp") == F.col("p") - 1)
            .groupBy(F.col("ph").alias("ha"), F.col("h").alias("hb"))
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= 2)
            .select("ha", "hb")
        )
        flagged = seq.join(
            dup_edges,
            (F.col("ph") == F.col("ha")) & (F.col("h") == F.col("hb")),
            "left",
        ).select(
            "doc_id", "p", "h",
            F.when(
                (F.col("pp") == F.col("p") - 1) & F.col("ha").isNotNull(),
                F.lit(0),
            ).otherwise(F.lit(1)).alias("new_span"),
        )
    else:
        flagged = dw.select(
            "doc_id", "p", "h",
            F.when(
                F.col("p") - F.lag("p").over(byp) <= SPAN_W, F.lit(0)
            ).otherwise(F.lit(1)).alias("new_span"),
        )
    return flagged.select(
        "doc_id", "p", "h",
        F.sum("new_span").over(
            byp.rowsBetween(W.unboundedPreceding, 0)
        ).alias("span_id"),
    )


def _span_extents(islands: DataFrame) -> DataFrame:
    """One row per span of ``islands``: (doc_id, span_id, start_tok,
    end_tok, span_len, n_windows), token bounds inclusive."""
    return islands.groupBy(
        "doc_id", F.col("span_id").cast("int").alias("span_id")
    ).agg(
        F.min("p").alias("start_tok"),
        (F.max("p") + SPAN_W - 1).alias("end_tok"),
        (F.max("p") - F.min("p") + SPAN_W).alias("span_len"),
        F.count(F.lit(1)).alias("n_windows"),
    )


def _windows_sql(w: int) -> str:
    """DuckDB twin of :func:`_token_windows`: opens a WITH clause with
    the ``toks`` and ``win`` CTEs."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= {w}
    ), win AS (
      SELECT doc_id, u.i AS p,
             {H.token_hash60_sql(f"array_to_string(t[u.i+1 : u.i+{w}], ' ')")} AS h
      FROM toks, LATERAL (SELECT unnest(range(0, len(t) - {w} + 1)) AS i) u
    )"""


# the SPAN_W windows plus the duplicated-hash set (_dup_windows)
_DUP_WIN_SQL = _windows_sql(SPAN_W) + """, dup AS (
      SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    )"""

# _span_islands(win, token_exact=True)
_TOKEN_EXACT_ISLANDS_SQL = """, seq AS (
      SELECT w.doc_id, w.p, w.h,
             lag(w.p) OVER (PARTITION BY w.doc_id ORDER BY w.p) AS pp,
             lag(w.h) OVER (PARTITION BY w.doc_id ORDER BY w.p) AS ph
      FROM win w JOIN dup USING (h)
    ), dup_edges AS (
      SELECT ph AS ha, h AS hb FROM seq WHERE pp = p - 1
      GROUP BY ph, h HAVING count(DISTINCT doc_id) >= 2
    ), flagged AS (
      SELECT s.doc_id, s.p, s.h,
             CASE WHEN s.pp = s.p - 1 AND d.ha IS NOT NULL
                  THEN 0 ELSE 1 END AS new_span
      FROM seq s LEFT JOIN dup_edges d ON d.ha = s.ph AND d.hb = s.h
    ), islands AS (
      SELECT doc_id, p, h,
             SUM(new_span) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    )"""

# _span_extents
_SPAN_EXTENTS_SQL = f"""
    SELECT doc_id, CAST(span_id AS INT) AS span_id,
           CAST(min(p) AS BIGINT) AS start_tok,
           CAST(max(p) + {SPAN_W} - 1 AS BIGINT) AS end_tok,
           CAST(max(p) - min(p) + {SPAN_W} AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM islands GROUP BY doc_id, span_id
    """

# _rebuild_excising_spans over a ``cut_toks`` (doc_id, tok_i) CTE
_REBUILD_SQL = """, stream AS (
      SELECT t.doc_id, len(t.t) AS n_tokens, u.i AS tok_i,
             t.t[u.i + 1] AS tok
      FROM toks t, LATERAL (SELECT unnest(range(0, len(t.t))) AS i) u
    ), rebuilt AS (
      SELECT s.doc_id, s.n_tokens,
             count(c.tok_i) AS n_cut_tokens,
             coalesce(string_agg(
               CASE WHEN c.tok_i IS NULL THEN s.tok END, ' '
               ORDER BY s.tok_i), '') AS clean_text
      FROM stream s
      LEFT JOIN cut_toks c ON c.doc_id = s.doc_id AND c.tok_i = s.tok_i
      GROUP BY s.doc_id, s.n_tokens
    )
    SELECT doc_id, n_tokens,
           CAST(n_cut_tokens AS BIGINT) AS n_cut_tokens,
           CAST(n_tokens - n_cut_tokens AS BIGINT) AS n_kept_tokens,
           clean_text
    FROM rebuilt
    """


@register(
    "dedup_duplicate_ngram_spans",
    oracle=f"""{_DUP_WIN_SQL}, dw AS (
      SELECT w.doc_id, w.p FROM win w JOIN dup USING (h)
    ), cov AS (
      SELECT DISTINCT doc_id, u.tok_i
      FROM dw, LATERAL (SELECT unnest(range(p, p + {SPAN_W})) AS tok_i) u
    ), perdoc AS (
      SELECT doc_id, len(t) AS n_tokens, len(t) - {SPAN_W} + 1 AS n_windows
      FROM toks
    )
    SELECT perdoc.doc_id, n_tokens, n_windows,
           coalesce(d.nw, 0) AS n_dup_windows,
           coalesce(c.nt, 0) AS n_dup_tokens,
           coalesce(c.nt, 0)::DOUBLE / n_tokens AS dup_token_fraction
    FROM perdoc
    LEFT JOIN (SELECT doc_id, count(*) AS nw FROM dw GROUP BY doc_id) d
      ON perdoc.doc_id = d.doc_id
    LEFT JOIN (SELECT doc_id, count(*) AS nt FROM cov GROUP BY doc_id) c
      ON perdoc.doc_id = c.doc_id
    """,
)
def dedup_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal: for every document, how much of it
    is covered by ``SPAN_W``-token windows that also occur verbatim in
    another document (suffix-array dedup's relational twin; reference
    corpus-prep parity: the hot duplicated wiki boilerplate of
    FAQ.md:68 is exactly what this flags for span removal)."""
    toks, win = _token_windows(spark, sf_dir, SPAN_W)
    dw = _dup_windows(win).select("doc_id", "p")
    # r10: count covered tokens by folding the SORTED window starts per
    # doc (fixed width W ⇒ interval union length in one pass) instead of
    # exploding every dup window W ways and distinct-counting token ids —
    # one per-doc aggregate replaces the explode + distinct + second agg
    # (three shuffles → one), same interval-union count by construction.
    zero = F.struct(
        F.lit(0).alias("pos"), F.lit(0).cast("long").alias("cnt")
    )

    def step(acc, a):
        return F.struct(
            (a + SPAN_W).alias("pos"),
            (acc["cnt"]
             + (a + SPAN_W - F.greatest(a, acc["pos"])).cast("long")
             ).alias("cnt"),
        )

    agg = dw.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nw"),
        F.aggregate(
            F.array_sort(F.collect_list("p")), zero, step, lambda s: s["cnt"]
        ).alias("nt"),
    )
    perdoc = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        (F.size("t") - SPAN_W + 1).alias("n_windows"),
    )
    return (
        perdoc.join(agg, "doc_id", "left")
        .select(
            "doc_id", "n_tokens", "n_windows",
            F.coalesce("nw", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("nt", F.lit(0)).alias("n_dup_tokens"),
            (
                F.coalesce("nt", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("dup_token_fraction"),
        )
    )


_SEMDEDUP_ASSIGN_SQL = f"""
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb
      FROM embeddings WHERE vec_id < {SEMDEDUP_K}
    ), assign_scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(
                 e.embedding::DOUBLE[], c.c_emb::DOUBLE[]), 6) DESC,
                 c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN cent c
    ), assigned AS (
      SELECT vec_id, embedding, centroid_id FROM assign_scored WHERE rn = 1
    )
"""


@register(
    "semantic_dedup_clustered",
    oracle=V.hygiene_oracle(f"""
    WITH {_SEMDEDUP_ASSIGN_SQL}
    SELECT a.centroid_id AS cluster_id,
           a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(
             a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine_r
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(
            a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
          >= {SEMDEDUP_THRESHOLD}
    """),
)
def semantic_dedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): assign every embedding to its
    nearest codebook centroid (deterministic codebook — the first
    ``SEMDEDUP_K`` vectors — so the oracle shares it verbatim), then emit
    near-duplicate pairs with cosine ≥ ``SEMDEDUP_THRESHOLD`` scored only
    *within* a cluster.

    Scale shape: the codebook is broadcast, so assignment is a map-side
    cross join with an argmax window per vec (no shuffle of the big
    side beyond the window's partition-by-vec, which AQE coalesces);
    pair scoring shuffles ONCE by centroid_id and runs one vectorized
    Arrow tile per cluster, quadratic only in the cluster size — with
    k sized so clusters are ~|corpus|/k, the work is |corpus|²/k, the
    SemDeDup contract.  A skewed mega-cluster is the known failure
    mode: cap it by raising k or sub-clustering (documented, not hit
    on this codebook)."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    e = ensure_parallelism(
        V.hygiene(load_table(spark, "embeddings", sf_dir))
    )
    cent = e.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    from pyspark.sql import Window as W

    scored = e.join(F.broadcast(cent)).select(
        "vec_id", "embedding", "centroid_id",
        F.round(V.cosine(F.col("embedding"), F.col("c_emb")), 6).alias("cos_c"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.asc("centroid_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "centroid_id")
    )
    # within-cluster pair scoring: one Arrow batch per cluster, scored
    # as a vectorized tile with dimension-sequential folds (bit-parity
    # with the SQL cosine, ~100x the per-row JVM lambda fold) — the
    # same kernel as dedup_embedding_cosine_lsh's verify stage
    import numpy as np
    import pandas as pd

    prefilter = SEMDEDUP_THRESHOLD - 1e-6

    def pair_tile(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"cluster_id": [], "vec_a": [], "vec_b": [],
                                 "cosine": []})
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        cos = V.np_fold_dots(E, E)
        nrm = np.sqrt(V.np_fold_sq(E))
        cos /= np.multiply.outer(nrm, nrm)
        ia, ib = np.nonzero((ids[:, None] < ids[None, :]) & (cos >= prefilter))
        return pd.DataFrame({
            "cluster_id": pdf["centroid_id"].iloc[0],
            "vec_a": ids[ia], "vec_b": ids[ib], "cosine": cos[ia, ib],
        })

    tiles = assigned.groupBy("centroid_id").applyInPandas(
        pair_tile, "cluster_id BIGINT, vec_a BIGINT, vec_b BIGINT, cosine DOUBLE"
    )
    return (
        tiles.select(
            "cluster_id", "vec_a", "vec_b",
            F.round(F.col("cosine"), 6).alias("cosine_r"),
        )
        .filter(F.col("cosine_r") >= SEMDEDUP_THRESHOLD)
    )


MAX_SHINGLE_DF = 50       # posting-list cap: boilerplate shingles don't pair
CONTAINMENT_THRESHOLD = 0.5


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    hot AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > {MAX_SHINGLE_DF}),
    cold AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id != b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           n_common::DOUBLE / x.n AS containment
    FROM common JOIN sizes x ON doc_a = x.doc_id
    WHERE n_common::DOUBLE / x.n >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by shingle *containment*
    C(A,B) = |A∩B| / |A| — catches truncated copies, quote inclusion,
    and boilerplate-wrapped duplicates that symmetric Jaccard misses
    (a 10-line excerpt of a 1000-line doc has Jaccard ≈ 0.01 but
    containment ≈ 1.0).  Broder's containment measure, Lee et al.'s
    partial-overlap case.

    Scale shape: pairs come from the shared-shingle equi-join, so work
    is proportional to posting-list co-occurrence, not |corpus|²; the
    posting-list cap (df > ``MAX_SHINGLE_DF`` shingles are dropped from
    pairing — identically in both engines) bounds the hot-boilerplate
    blowup that would otherwise quadratically explode one shingle's
    postings.  Capped shingles still count toward |A|, so containment
    is a (documented) slight underestimate for boilerplate-heavy docs."""
    from mediawiki_to_notion_spark.operators.dedup import _hashed_shingles

    d = load_table(spark, "documents", sf_dir)
    sh = _hashed_shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    hot = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("h")
    )
    cold = sh.join(hot, "h", "left_anti")
    a = cold.alias("a")
    b = cold.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a")
        .select(
            "doc_a", "doc_b", "n_common",
            (F.col("n_common").cast("double") / F.col("n")).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


@register(
    "dedup_normalized_exact",
    oracle=r"""
    WITH base AS (
      SELECT doc_id AS base_id, text FROM documents WHERE doc_id % 4 = 0
    ),
    variants AS (
      SELECT d.doc_id,
             CASE CAST(d.doc_id % 4 AS INTEGER)
               WHEN 0 THEN b.text
               WHEN 1 THEN upper(b.text)
               WHEN 2 THEN b.text || '!!'
               ELSE replace(b.text, ' ', '  ')
             END AS text
      FROM documents d JOIN base b ON (d.doc_id // 4) * 4 = b.base_id
    ),
    normed AS (
      SELECT doc_id,
             regexp_replace(
               trim(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g'))),
               ' +', ' ', 'g') AS norm_text
      FROM variants
    ),
    grouped AS (
      SELECT norm_text, count(*) AS n_docs, min(doc_id) AS keeper_doc
      FROM normed GROUP BY norm_text
    )
    SELECT keeper_doc, n_docs, n_docs - 1 AS n_removed
    FROM grouped WHERE n_docs > 1
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup (Dolma's 'exact' dedup pass): lowercase,
    strip punctuation, collapse whitespace, then group identical
    normalized bodies — catches trivial near-dups (case or punctuation
    edits) that byte-exact hashing (dedup_exact_hash) misses, at
    exact-dedup cost rather than MinHash cost.

    The synthetic corpus has no organic case/punctuation variants, so
    each group of 4 docs is deterministically rewritten as variants of
    its base doc's REAL text (identity / UPPER / trailing '!!' /
    doubled spaces) — identically in both engines — and the dedup must
    collapse exactly those groups.

    100 TB shape: normalization is a narrow codegen'd pass; one groupBy
    on the normalized text (at real scale: on its 60-bit hash — see
    _hashed_shingles' rationale) with map-side partial aggregation;
    only duplicate groups are emitted."""
    d = load_table(spark, "documents", sf_dir)
    base = d.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("base_id"), F.col("text").alias("base_text")
    )
    variants = d.select("doc_id").join(
        base, (F.col("doc_id") / 4).cast("long") * 4 == F.col("base_id")
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.col("base_text"))
        .when(F.col("doc_id") % 4 == 1, F.upper("base_text"))
        .when(F.col("doc_id") % 4 == 2, F.concat("base_text", F.lit("!!")))
        .otherwise(F.regexp_replace("base_text", " ", "  "))
        .alias("text"),
    )
    norm = F.regexp_replace(
        F.trim(F.lower(F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9 ]", " "))),
        " +", " ")
    normed = variants.select("doc_id", norm.alias("norm_text"))
    return (
        normed.groupBy("norm_text")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .select("keeper_doc", "n_docs", (F.col("n_docs") - 1).alias("n_removed"))
    )


@register(
    "dedup_substring_spans_exact",
    oracle=f"""{_DUP_WIN_SQL}, dw AS (
      SELECT w.doc_id, w.p FROM win w JOIN dup USING (h)
    ), flagged AS (
      SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                       <= {SPAN_W} THEN 0 ELSE 1 END AS new_span
      FROM dw
    ), islands AS (
      SELECT doc_id, p,
             SUM(new_span) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    ){_SPAN_EXTENTS_SQL}""",
)
def dedup_substring_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal EXACT duplicated-substring spans (Lee et al. 2021 §4's
    deliverable, one step past ``dedup_duplicate_ngram_spans``'s
    coverage ratios): overlapping-or-adjacent duplicated ``SPAN_W``-token
    windows chain into maximal spans (the gap rule of
    ``_span_islands``), yielding exact span extents (start/end token,
    length) per document — the spans an exact-substring dedup pass
    would cut.  The per-RUN variant that splits runs abutting by
    chance is ``dedup_substring_spans_token_exact``."""
    _, win = _token_windows(spark, sf_dir, SPAN_W)
    return _span_extents(_span_islands(win, token_exact=False))


@register(
    "dedup_substring_spans_token_exact",
    oracle=f"{_DUP_WIN_SQL}{_TOKEN_EXACT_ISLANDS_SQL}{_SPAN_EXTENTS_SQL}",
)
def dedup_substring_spans_token_exact(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """TOKEN-EXACT duplicated-substring spans (VERDICT r5 item 4 — the
    Lee et al. 2021 per-run deliverable): the edge rule of
    ``_span_islands``, so every reported span is one maximal co-moving
    window chain, a genuine single duplicated substring with
    token-exact start/end, not ``dedup_substring_spans_exact``'s
    window-granular union (which bridges runs separated by a gap of up
    to ``SPAN_W`` and splices runs that merely abut)."""
    _, win = _token_windows(spark, sf_dir, SPAN_W)
    return _span_extents(_span_islands(win, token_exact=True))


@register(
    "dedup_substring_cut",
    oracle=f"""{_DUP_WIN_SQL}, firsts AS (
      -- survivor copy: the globally FIRST occurrence of each
      -- duplicated window (doc_id, then position) is NOT cut.
      -- Lexicographic struct min, NOT a composite integer key: a
      -- doc_id*BASE+p encoding aliases across documents once any
      -- document has >= BASE token windows (VERDICT r5 "What's
      -- wrong" #1).
      SELECT h, min({{'doc_id': doc_id, 'p': p}}) AS first_pos
      FROM win JOIN dup USING (h) GROUP BY h
    ), cut_wins AS (
      SELECT w.doc_id, w.p
      FROM win w JOIN firsts f USING (h)
      WHERE {{'doc_id': w.doc_id, 'p': w.p}} != f.first_pos
    ), cut_toks AS (
      SELECT DISTINCT doc_id, u.tok_i
      FROM cut_wins, LATERAL (
        SELECT unnest(range(p, p + {SPAN_W})) AS tok_i) u
    ){_REBUILD_SQL}""",
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup END TO END (the actual Lee et al. 2021
    rewrite, one step past span REPORTING): every duplicated
    ``SPAN_W``-token window is cut from every document EXCEPT the
    globally first occurrence (doc_id-then-position order — the same
    survivor rule as dedup_paragraph_chunks), and each document is
    rebuilt from its surviving tokens.

    Scale shape: the duplicated-window set and survivor choice ride ONE
    hash-keyed partial aggregate (min(struct) shares the count's
    shuffle) whose filtered output joins back small; the rebuild is
    ``_rebuild_excising_spans``."""
    toks, win = _token_windows(spark, sf_dir, SPAN_W)
    # ONE aggregate computes the duplicated-hash set AND its survivor
    # (r10): min(struct(doc_id, p)) rides the same partial-agg shuffle
    # as the distinct-doc count, so the old dup→join→firsts→join chain
    # (two aggregates, two window-stream joins) collapses to a single
    # agg plus a single join against the small filtered survivor table.
    # Survivor = lexicographic (doc_id, p) min.  Struct min, never a
    # doc_id*BASE+p composite integer: that encoding aliases across
    # documents once a document has >= BASE token windows (a 1M-token
    # doc is plausible in a web corpus), silently moving the survivor.
    firsts = (
        win.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min(F.struct("doc_id", "p")).alias("first_pos"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "first_pos")
    )
    cut_wins = win.join(firsts, "h").filter(
        F.struct("doc_id", "p") != F.col("first_pos")
    )
    spans = cut_wins.select(
        "doc_id",
        F.col("p").alias("s"),
        (F.col("p") + SPAN_W - 1).alias("e"),
    )
    return _rebuild_excising_spans(toks, spans)


@register(
    "dedup_substring_cut_exact",
    oracle=f"""{_DUP_WIN_SQL}{_TOKEN_EXACT_ISLANDS_SQL}, spans AS (
      -- chain_sig identifies the span's CONTENT: the hash of its
      -- ordered window-hash sequence (two spans share a sig iff they
      -- are the same duplicated substring, window for window)
      SELECT doc_id, span_id,
             min(p) AS start_tok, max(p) + {SPAN_W} - 1 AS end_tok,
             {H.token_hash60_sql("string_agg(h, ',' ORDER BY p)")}
               AS chain_sig
      FROM islands GROUP BY doc_id, span_id
    ), keepers AS (
      -- survivor occurrence per duplicated substring: lexicographic
      -- (doc_id, start_tok) struct min (the dedup_substring_cut rule,
      -- lifted from window granularity to span granularity)
      SELECT chain_sig,
             min({{'doc_id': doc_id, 'start_tok': start_tok}}) AS keep
      FROM spans GROUP BY chain_sig
    ), cut_spans AS (
      SELECT s.doc_id, s.start_tok, s.end_tok
      FROM spans s JOIN keepers k USING (chain_sig)
      WHERE {{'doc_id': s.doc_id, 'start_tok': s.start_tok}} != k.keep
    ), cut_toks AS (
      SELECT DISTINCT doc_id, u.tok_i
      FROM cut_spans, LATERAL (
        SELECT unnest(range(start_tok, end_tok + 1)) AS tok_i) u
    ){_REBUILD_SQL}""",
)
def dedup_substring_cut_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Lee et al. 2021 pipeline as one operator (VERDICT r6
    brief #8): token-exact span detection composed with the
    end-to-end cut.  ``dedup_substring_cut`` decides survivorship per
    WINDOW, so one chain's windows can split survivorship across
    documents and the kept extent is window-granular; here the unit
    of survivorship is the TOKEN-EXACT SPAN (the edge rule of
    ``_span_islands``), and every occurrence of a duplicated substring
    except the globally first (lexicographic (doc_id, start_tok)
    struct min) is cut in full, token for token.

    A span's identity is its chain signature: the 60-bit hash of its
    ordered window-hash sequence, so two spans match iff they are the
    same substring window-for-window (superstring occurrences form
    their own chains and survive independently — the standard
    windowed-method granularity).  Span signatures and survivor choice
    are two more hash-keyed partial aggregates over span-level rows."""
    toks, win = _token_windows(spark, sf_dir, SPAN_W)
    islands = _span_islands(win, token_exact=True)
    # span-level rows (tiny): keepers and cut_spans both read it —
    # one checkpoint stops the islands window + chain-sig aggregation
    # running twice (r10, guide §2.4)
    spans = islands.groupBy("doc_id", "span_id").agg(
        F.min("p").alias("start_tok"),
        (F.max("p") + SPAN_W - 1).alias("end_tok"),
        H.token_hash60(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "h"))),
                    lambda s: s["h"].cast("string"),
                ),
            )
        ).alias("chain_sig"),
    ).localCheckpoint()
    keepers = spans.groupBy("chain_sig").agg(
        F.min(F.struct("doc_id", "start_tok")).alias("keep")
    )
    cut_spans = spans.join(keepers, "chain_sig").filter(
        F.struct("doc_id", "start_tok") != F.col("keep")
    )
    return _rebuild_excising_spans(
        toks,
        cut_spans.select(
            "doc_id",
            F.col("start_tok").alias("s"),
            F.col("end_tok").alias("e"),
        ),
    )


# --- Winnowing fingerprints (MOSS) -----------------------------------------

WINNOW_K = 4   # tokens per k-gram
WINNOW_W = 4   # hashes per winnowing window
# Guarantee threshold t = K + W - 1: any shared token run of >= 7 tokens
# is certain to share at least one selected fingerprint (Schleimer,
# Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD 2003, theorem in section 4).
MAX_WINNOW_DF = 50       # posting-list cap, same discipline as MAX_SHINGLE_DF
WINNOW_MIN_SHARED = 2    # single shared fingerprint = noise, not a match


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, h) — the distinct winnowing-selected fingerprint set per
    document (min hash per ``WINNOW_W``-hash window, ties rightmost).
    Exposed for the guarantee-property fixture (test_winnowing.py)."""
    from pyspark.sql import Window as W

    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= WINNOW_K
    )
    grams = toks.select(
        "doc_id",
        (F.size("t") - WINNOW_K + 1).alias("ng"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - WINNOW_K),
                lambda i: H.token_hash60(
                    F.concat_ws(" ", F.slice("t", i + 1, WINNOW_K))
                ),
            )
        ).alias("p", "h"),
    )
    win = W.partitionBy("doc_id").orderBy("p").rowsBetween(0, WINNOW_W - 1)
    sel = grams.withColumn(
        "sk",
        F.min(F.struct(F.col("h").alias("h"), (-F.col("p")).alias("np"))).over(win),
    ).filter(F.col("p") <= F.greatest(F.col("ng") - WINNOW_W, F.lit(0)))
    return sel.select("doc_id", F.col("sk.h").alias("h")).distinct()


@register(
    "dedup_winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= {WINNOW_K}
    ), grams AS (
      SELECT doc_id, len(t) - {WINNOW_K} + 1 AS ng, u.i AS p,
             {H.token_hash60_sql(f"array_to_string(t[u.i+1 : u.i+{WINNOW_K}], ' ')")} AS h
      FROM toks, LATERAL (SELECT unnest(range(0, len(t) - {WINNOW_K} + 1)) AS i) u
    ), sel AS (
      SELECT doc_id, ng, p,
             min({{'h': h, 'np': -p}}) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS sk
      FROM grams
    ), fp AS (
      SELECT DISTINCT doc_id, sk['h'] AS h
      FROM sel WHERE p <= greatest(ng - {WINNOW_W}, 0)
    ), sizes AS (
      SELECT doc_id, count(*) AS nfp FROM fp GROUP BY doc_id
    ), hot AS (
      SELECT h FROM fp GROUP BY h HAVING count(*) > {MAX_WINNOW_DF}
    ), cold AS (
      SELECT * FROM fp WHERE h NOT IN (SELECT h FROM hot)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           round(n_shared::DOUBLE / (sa.nfp + sb.nfp - n_shared), 6)
             AS jaccard_fp
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_shared >= {WINNOW_MIN_SHARED}
    """,
)
def dedup_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    ``WINNOW_K``-token k-gram, slide a window of ``WINNOW_W`` consecutive
    hashes, and in each window select the minimum hash (ties broken
    toward the RIGHTMOST position, per the paper) — the selected set is
    a position-robust sketch with a hard guarantee: any verbatim token
    run of >= K+W-1 = {WINNOW_K + WINNOW_W - 1} tokens shared by two
    documents shares at least one fingerprint.  Docs shorter than one
    full window keep their global-min gram so every doc has >= 1
    fingerprint.  Output: candidate pairs sharing >= ``WINNOW_MIN_SHARED``
    fingerprints with the Jaccard over fingerprint sets.

    Complements the registry's other sketches: MinHash estimates
    set-Jaccard, SimHash cosine-of-profile; winnowing is the only one
    with a deterministic match-length GUARANTEE, which is why
    plagiarism/clone detection uses it.

    Scale shape: the k-gram expansion and per-window min are per-doc
    (window function over doc-partitioned, position-ordered rows — no
    cross-doc shuffle beyond the doc_id hash partition); selection
    keeps ~2/(W+1) of grams, so the pairing join runs on a winnowed
    fraction of the corpus; the posting-list cap (df > ``MAX_WINNOW_DF``
    dropped from pairing, identically in both engines) bounds hot
    boilerplate exactly as in dedup_containment.  The tie-break is
    min(struct(h, -p)): smallest hash, then largest position — the
    cross-engine-proven struct-min survivor-key pattern."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    # r10 (guide §2.4): materialize the winnowed fingerprints once —
    # sizes, the hot-hash posting cap, and BOTH sides of the pairing
    # self-join are separate plan subtrees, so the k-gram expansion +
    # sliding-min window (the expensive per-doc stage) previously ran
    # ~5x per query; the selection keeps ~2/(W+1) of grams, so the
    # checkpoint is a winnowed fraction of the token stream.
    fp = winnow_fingerprints(d).localCheckpoint()
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    hot = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_WINNOW_DF)
        .select("h")
    )
    cold = fp.join(hot, "h", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return (
        pairs.join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "nfp": "nfp_a"}), "doc_a"
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_b", "nfp": "nfp_b"}), "doc_b"
        )
        .select(
            "doc_a", "doc_b", "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("nfp_a") + F.col("nfp_b") - F.col("n_shared")),
                6,
            ).alias("jaccard_fp"),
        )
    )
