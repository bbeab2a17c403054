r"""Text-analysis queries over the documents table (north-star extension:
language-ID, quality scoring, token counting, fingerprinting).

All expressions stay JVM-side; ratios are integer-over-integer double
divisions (deterministic), so every query is fully oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.functions import text as tx
from mediawiki_to_notion_spark.operators import tokenizer_local as TL
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame
from mediawiki_to_notion_spark.sources.tables import load_table


@register(
    "text_token_counting",
    oracle=rf"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split_regex(text, '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{tx.BPE_TOKEN_PATTERN}')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        tx.ws_token_count(F.col("text")).alias("n_ws_tokens"),
        tx.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {tx.lang_predict_sql('text')} AS pred_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-anchor language-ID heuristic (argmax of per-language
    marker-word hit counts, deterministic tie order)."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tx.lang_predict(F.col("text")).alias("pred_lang"),
    )


@register(
    "text_quality_score",
    oracle=rf"""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(text, '\s+')) AS n_tokens,
             len(regexp_extract_all(text, '{tx.PUNCT_PATTERN}')) AS n_punct,
             len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE n_chars::DOUBLE / n_tokens END AS avg_token_len,
           CASE WHEN n_chars = 0 THEN 0.0
                ELSE n_punct::DOUBLE / n_chars END AS punct_ratio,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE n_stop::DOUBLE / n_tokens END AS stopword_ratio,
           (n_tokens >= 5 AND n_tokens <= 100000
            AND (n_chars = 0 OR n_punct::DOUBLE / n_chars < 0.2)) AS quality_ok
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + gate —
    the standard pre-training corpus quality filter shape."""
    d = load_table(spark, "documents", sf_dir)
    n_chars = F.length("text")
    n_tokens = tx.ws_token_count(F.col("text"))
    n_punct = tx.punct_count(F.col("text"))
    n_stop = tx.lang_score(F.col("text"), "en")
    m = d.select(
        "doc_id",
        n_chars.alias("n_chars"), n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"), n_stop.alias("n_stop"),
    )
    safe = lambda num, den: F.when(den == 0, F.lit(0.0)).otherwise(  # noqa: E731
        num.cast("double") / den
    )
    return m.select(
        "doc_id", "n_chars", "n_tokens",
        safe(F.col("n_chars"), F.col("n_tokens")).alias("avg_token_len"),
        safe(F.col("n_punct"), F.col("n_chars")).alias("punct_ratio"),
        safe(F.col("n_stop"), F.col("n_tokens")).alias("stopword_ratio"),
        (
            (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100000)
            & ((F.col("n_chars") == 0)
               | (F.col("n_punct").cast("double") / F.col("n_chars") < 0.2))
        ).alias("quality_ok"),
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' '))
               AS fingerprint
      FROM documents
    )
    SELECT fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_docs
    FROM fp GROUP BY fingerprint
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-token-multiset fingerprint → canonical representative per
    fingerprint group (order-insensitive exact dedup key).

    The per-document token sort is the CPU hot spot; spread a
    single-file input across the cluster before it (no-op at scale)."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    return (
        d.select("doc_id", tx.sorted_token_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_language_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS total_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_language_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup (per-language/source sizes) — the
    bookkeeping query every training-data pipeline runs first."""
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SEARCH_TERMS = ("window", "scan", "sort")
SEARCH_TOP_K = 20




def _tfidf_token_weights(d, terms=None):
    """(doc_id, token, tf, w) with w = DECIMAL(18,6) TF-IDF weight —
    the scaffold shared by keyword_search_tfidf (terms=query probe,
    filtered BEFORE the tf shuffle — the inverted-index optimization)
    and doc_keyword_extraction (terms=None: every token scores).
    IDF rounds to 6 dp before the TF multiply (pinned parity pattern).

    The document-frequency table broadcasts; for query probes it is a
    handful of rows, for the full vocabulary it is vocabulary-sized —
    fine for curated corpora, but web-scale raw vocabularies (1e8+
    tokens) should drop the broadcast hint to a shuffle join (the
    text_unigram_logprob caveat)."""
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tok = tok.filter(
        F.col("token").isin(*terms) if terms else (F.col("token") != "")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))         .crossJoin(F.broadcast(n_docs))
    idf = F.round(F.log(F.col("n_docs") / F.col("df")), 6)
    return tf.join(F.broadcast(df_.withColumn("idf", idf)), "token").select(
        "doc_id", "token", "tf",
        F.round(F.col("tf") * F.col("idf"), 6).cast("decimal(18,6)")
         .alias("w"),
    )


@register(
    "keyword_search_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok
      WHERE token IN {SEARCH_TERMS} GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id,
             SUM(CAST(round(t.tf * round(ln(n.n_docs::DOUBLE / d.df), 6), 6)
                      AS DECIMAL(18,6))) AS score_d,
             count(*) AS n_terms_hit
      FROM tf t JOIN df d ON t.token = d.token CROSS JOIN n
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(score_d AS DOUBLE) AS score, n_terms_hit
    FROM scored
    ORDER BY score_d DESC, doc_id
    LIMIT {SEARCH_TOP_K}
    """,
)
def keyword_search_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval: top-``SEARCH_TOP_K`` documents by summed TF-IDF
    over the query terms ``SEARCH_TERMS``.

    Scale shape: tokens are filtered to the query terms *before* any
    shuffle (the inverted-index probe), document frequencies are a tiny
    aggregate joined back by broadcast, and the final top-k is a
    TakeOrdered — no global sort.  IDF is rounded to 6 dp before the
    TF multiply so Spark's and DuckDB's `ln` (both ≤1 ulp) can never
    disagree post-rounding."""
    d = load_table(spark, "documents", sf_dir)
    scored = (
        _tfidf_token_weights(d, SEARCH_TERMS)
        .groupBy("doc_id")
        .agg(
            F.sum("w").alias("score_d"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return (
        scored.orderBy(F.desc("score_d"), F.asc("doc_id"))
        .limit(SEARCH_TOP_K)
        .select(
            "doc_id",
            F.col("score_d").cast("double").alias("score"),
            "n_terms_hit",
        )
    )


@register(
    "text_repetition_ratio",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ), tri AS (
      SELECT doc_id, t[u.i+1] || ' ' || t[u.i+2] || ' ' || t[u.i+3] AS shingle
      FROM toks, LATERAL (SELECT unnest(range(0, len(t) - 2)) AS i) u
    )
    SELECT doc_id,
           count(*) AS n_trigrams,
           count(DISTINCT shingle) AS n_distinct,
           1.0 - count(DISTINCT shingle)::DOUBLE / count(*) AS repetition_ratio,
           1.0 - count(DISTINCT shingle)::DOUBLE / count(*) > 0.2 AS is_repetitive
    FROM tri GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram fraction per document — the Gopher-rules
    repetition signal that catches boilerplate/spam (a doc whose
    trigrams are 20 %+ duplicates is flagged).  Integer-over-integer
    double division keeps the ratio engine-exact; one shuffle
    (groupBy doc_id) with partial counts map-side."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t")) \
        .filter(F.size("t") >= 3)
    tri = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("t"), i + 1),
                    F.element_at(F.col("t"), i + 2),
                    F.element_at(F.col("t"), i + 3),
                ),
            )
        ).alias("shingle"),
    )
    # two-level aggregation, NOT count(*) + count_distinct in one agg:
    # mixing distinct and plain aggregates forces Catalyst's Expand
    # path (row stream doubled before the partial agg) — measured 2.1x
    # slower at sf0.1.  The (doc_id, shingle) partial agg combines
    # map-side, so the trigram stream collapses before the shuffle.
    lvl1 = tri.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("c"))
    agg = lvl1.groupBy("doc_id").agg(
        F.sum("c").alias("n_trigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    ratio = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_trigrams")
    return agg.select(
        "doc_id", "n_trigrams", "n_distinct",
        ratio.alias("repetition_ratio"),
        (ratio > 0.2).alias("is_repetitive"),
    )


BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "keyword_search_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), corpus AS (
      SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok
      WHERE token IN {SEARCH_TERMS} GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ), idf AS (
      SELECT token,
             round(ln(1.0 + (c.n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
      FROM df CROSS JOIN corpus c
    ), norm AS (
      SELECT d.doc_id,
             round(1.0 - {BM25_B} + {BM25_B} * d.dl * c.n_docs
                   / c.total_tokens, 6) AS dlnorm
      FROM dl d CROSS JOIN corpus c
    ), scored AS (
      SELECT t.doc_id,
             SUM(CAST(round(i.idf * t.tf * (1.0 + {BM25_K1})
                            / (t.tf + {BM25_K1} * n.dlnorm), 6)
                      AS DECIMAL(18,6))) AS score_d,
             count(*) AS n_terms_hit
      FROM tf t JOIN idf i ON t.token = i.token
                JOIN norm n ON t.doc_id = n.doc_id
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(score_d AS DOUBLE) AS score, n_terms_hit
    FROM scored
    ORDER BY score_d DESC, doc_id
    LIMIT {SEARCH_TOP_K}
    """,
)
def keyword_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson/Spärck Jones; k1=``BM25_K1``, b=``BM25_B``):
    top-``SEARCH_TOP_K`` documents for the query terms ``SEARCH_TERMS`` under
    the saturating-TF, length-normalized ranking function — the lexical
    retriever a training pipeline pairs with dense similarity search.

    Scale shape mirrors keyword_search_tfidf: the token stream is
    filtered to the query terms before any shuffle (inverted-index
    probe); document frequencies and the per-doc length norm are small
    aggregates joined back by broadcast; the final top-k is a
    TakeOrdered, no global sort.  Parity: the length norm uses the
    exact integer ratio dl*n_docs/total_tokens (never a pre-divided
    avgdl) and every per-term score is rounded to 6 dp then summed as
    DECIMAL(18,6), the engine-exact pattern of the TF-IDF twin."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # length is a scalar expression on the intact row — no explode, no shuffle
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens")
    )
    tf = (
        tok.filter(F.col("token").isin(*SEARCH_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.crossJoin(F.broadcast(corpus)).select(
        "token",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
            6,
        ).alias("idf"),
    )
    norm = dl.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        F.round(
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * F.col("dl") * F.col("n_docs") / F.col("total_tokens"),
            6,
        ).alias("dlnorm"),
    )
    scored = (
        tf.join(F.broadcast(idf), "token")
        .join(norm, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(
                    F.col("idf") * F.col("tf") * F.lit(1.0 + BM25_K1)
                    / (F.col("tf") + F.lit(BM25_K1) * F.col("dlnorm")),
                    6,
                ).cast("decimal(18,6)")
            ).alias("score_d"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return (
        scored.orderBy(F.desc("score_d"), F.asc("doc_id"))
        .limit(SEARCH_TOP_K)
        .select(
            "doc_id",
            F.col("score_d").cast("double").alias("score"),
            "n_terms_hit",
        )
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), tk AS (SELECT doc_id, t FROM tok WHERE t != ''),
    vocab AS (
      SELECT t,
             round(ln(count(*)::DOUBLE / (SELECT count(*) FROM tk)), 6) AS lp
      FROM tk GROUP BY t
    )
    SELECT tk.doc_id, count(*) AS n_tokens,
           round(sum(CAST(v.lp AS DECIMAL(18,6)))::DOUBLE / count(*), 6)
             AS mean_logprob
    FROM tk JOIN vocab v USING (t)
    GROUP BY tk.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: each document's mean token
    log-probability under the corpus's own unigram distribution — the
    cheap perplexity proxy used to rank documents for quality filtering
    (the KenLM-filter shape with the n-gram order turned down to 1; a
    very negative mean = rare-token gibberish).

    Scale shape: the vocabulary is one partial-agg shuffle keyed by
    token and broadcasts back (for web-scale vocabularies swap the
    broadcast for a shuffle join on token — nothing else changes).
    Parity: per-token log-probs are rounded to 6 dp THEN summed as
    DECIMAL(18,6), so the cross-engine float risk is confined to ln()
    of identical doubles (verified bit-stable on this corpus)."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    # the explode feeds BOTH the vocab agg and the scoring join — split
    # the scan so neither branch serializes on a single-file partition
    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("n").cast("double") / F.col("total")), 6).alias("lp"),
    )
    return (
        tok.join(F.broadcast(lp), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.col("lp").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)), 6,
            ).alias("mean_logprob"),
        )
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


@register(
    "text_bigram_pmi",
    oracle=f"""
    WITH {tx.ADJ_BIGRAMS_SQL.strip()}, big AS (
      SELECT a, b, count(*) AS n_ab FROM adj GROUP BY a, b
    ), tot_b AS (SELECT sum(n_ab)::BIGINT AS bt FROM big),
    uni AS (
      SELECT token, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
      ) WHERE token != '' GROUP BY token
    ), tot_u AS (SELECT sum(n)::BIGINT AS ut FROM uni)
    SELECT g.a, g.b, g.n_ab,
           round(ln((g.n_ab::DOUBLE * ut * ut) / (bt::DOUBLE * x.n * y.n)), 6)
             AS pmi
    FROM big g
    JOIN uni x ON g.a = x.token JOIN uni y ON g.b = y.token
    CROSS JOIN tot_b CROSS JOIN tot_u
    WHERE g.n_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, g.a, g.b
    LIMIT {PMI_TOP_K}
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-``PMI_TOP_K`` adjacent-token bigrams by
    pointwise mutual information, ln(p(ab)/(p(a)p(b))), with a
    min-count floor of ``PMI_MIN_COUNT`` — the statistic behind tokenizer
    merge candidates and multi-word-expression detection.

    Scale shape: ONE partial-agg shuffle builds the bigram counts, the
    unigram table joins in by broadcast (vocabulary ≪ corpus; swap for
    a shuffle join at web-vocab scale), the totals are scalar
    broadcasts, and the final top-k is a TakeOrdered.  Parity: the PMI
    ratio is formed in one double expression with identical association
    order in both engines, then rounded to 6 dp."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    big = tx.adjacent_bigrams(d).groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    uni = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot_b = big.agg(F.sum("n_ab").alias("bt"))
    tot_u = uni.agg(F.sum("n").alias("ut"))
    scored = (
        big.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .join(F.broadcast(uni.select(F.col("token").alias("a"),
                                     F.col("n").alias("n_a"))), "a")
        .join(F.broadcast(uni.select(F.col("token").alias("b"),
                                     F.col("n").alias("n_b"))), "b")
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_u))
        .select(
            "a", "b", "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("ut") * F.col("ut"))
                    / (F.col("bt").cast("double") * F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b")).limit(PMI_TOP_K)


BPE_TOP_K = 50


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word != '' GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, u.i, 2) AS pair, freq
      FROM words, LATERAL (SELECT unnest(range(1, len(word))) AS i) u
      WHERE len(word) >= 2
    ),
    scored AS (
      -- BIGINT cast: SUM(BIGINT) is HUGEINT → float64 on the driver's
      -- pandas hash path (the pack_sequences_greedy r2 failure class)
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
      FROM pairs GROUP BY pair
    )
    SELECT pair, n_occurrences FROM scored
    ORDER BY n_occurrences DESC, pair ASC LIMIT {BPE_TOP_K}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE merge-candidate counting (Sennrich et al. 2016,
    the statistic tokenizer training iterates): corpus-weighted counts
    of adjacent symbol pairs inside words, top-``BPE_TOP_K`` by count —
    the highest pair is the next merge rule.  Complements text_bigram_pmi
    (word-level collocations) with the character-level tokenizer view.

    100 TB shape: the corpus collapses to the word-frequency table
    FIRST (one groupBy; vocabulary, not corpus, cardinality), so the
    pair explosion runs over distinct words only — the trick that makes
    BPE training tractable at corpus scale.  Top-k plans as
    TakeOrdered, never a global sort."""
    d = load_table(spark, "documents", sf_dir)
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


@register("quality_signal_ensemble", oracle=None)  # assembled below
def quality_signal_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble document-quality score: quartile scores of three
    registered signals — stopword ratio (text_quality_score),
    repetition ratio (text_repetition_ratio, inverted: less repetition
    is better), unigram mean log-probability (text_unigram_logprob) —
    summed into one 3..12 ensemble (the multi-signal quality gate
    pretraining pipelines run after the hard filter funnel;
    cf. RefinedWeb's combined heuristics).

    Coverage: EVERY document gets a row (text_quality_score is
    unfiltered; the other signals attach by LEFT join).  A document too
    short/degenerate for a signal scores that signal's WORST quartile
    (repetition -> 4, logprob -> 1) — junk the signal cannot measure
    must not slip past the gate unscored.

    Scale shape: doc_id equi-joins; quartile BOUNDARIES from one 1-row
    percentile aggregate broadcast back (functions.stats — the RFM
    pattern), never a corpus-wide rank window."""
    from mediawiki_to_notion_spark.functions import stats as S

    q = text_quality_score(spark, sf_dir).select("doc_id", "stopword_ratio")
    r = text_repetition_ratio(spark, sf_dir).select(
        "doc_id", "repetition_ratio"
    )
    u = text_unigram_logprob(spark, sf_dir).select("doc_id", "mean_logprob")
    sig = q.join(r, "doc_id", "left").join(u, "doc_id", "left")
    bounds = S.quartile_bounds(
        sig,
        {"s": "stopword_ratio", "r": "repetition_ratio", "l": "mean_logprob"},
    )
    scored = sig.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        S.quartile_score("stopword_ratio", "s").alias("q_stopword"),
        S.quartile_score("repetition_ratio", "r", null_score=4)
         .alias("q_repetition"),
        S.quartile_score("mean_logprob", "l", null_score=1)
         .alias("q_logprob"),
    )
    return scored.select(
        "doc_id", "q_stopword", "q_repetition", "q_logprob",
        (
            F.col("q_stopword") + (5 - F.col("q_repetition"))
            + F.col("q_logprob")
        ).alias("ensemble_score"),
    )


def _register_ensemble_oracle() -> None:
    from mediawiki_to_notion_spark.functions import stats as S
    from mediawiki_to_notion_spark.operators.similarity import _subquery

    from mediawiki_to_notion_spark.operators.registry import ORACLES
    bounds_sql = S.quartile_bounds_sql(
        {"s": "stopword_ratio", "r": "repetition_ratio", "l": "mean_logprob"}
    )
    ORACLES["quality_signal_ensemble"] = f"""
    WITH qq AS ({_subquery("text_quality_score")}),
    rr AS ({_subquery("text_repetition_ratio")}),
    uu AS ({_subquery("text_unigram_logprob")}),
    sig AS (
      SELECT qq.doc_id, stopword_ratio, repetition_ratio, mean_logprob
      FROM qq LEFT JOIN rr ON qq.doc_id = rr.doc_id
              LEFT JOIN uu ON qq.doc_id = uu.doc_id
    ),
    bounds AS (SELECT {bounds_sql} FROM sig),
    scored AS (
      SELECT doc_id,
             {S.quartile_score_sql("stopword_ratio", "s")} AS q_stopword,
             {S.quartile_score_sql("repetition_ratio", "r", null_score=4)}
               AS q_repetition,
             {S.quartile_score_sql("mean_logprob", "l", null_score=1)}
               AS q_logprob
      FROM sig CROSS JOIN bounds
    )
    SELECT doc_id, q_stopword, q_repetition, q_logprob,
           q_stopword + (5 - q_repetition) + q_logprob AS ensemble_score
    FROM scored
    """


_register_ensemble_oracle()


@register("lang_confusion_matrix", oracle=None)  # assembled below
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeling-QA confusion matrix: labeled language x predicted
    language with counts and row-normalized rates — the audit that
    decides whether to trust the corpus's lang labels or re-run
    language-ID (composed on text_lang_id).

    100 TB shape: the heavy part is the per-doc prediction (one narrow
    pass, inside text_lang_id); the matrix itself is a
    |langs|^2-row partial-agg aggregate with the per-label totals
    broadcast back."""
    pred = text_lang_id(spark, sf_dir)
    cells = pred.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("n_label_total")
    )
    return cells.join(F.broadcast(totals), "labeled_lang").select(
        "labeled_lang", "pred_lang", "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_label_total"), 6
        ).alias("rate_within_label"),
    )


def _register_confusion_oracle() -> None:
    from mediawiki_to_notion_spark.operators.registry import ORACLES
    from mediawiki_to_notion_spark.operators.similarity import _subquery

    ORACLES["lang_confusion_matrix"] = f"""
    WITH pred AS ({_subquery("text_lang_id")}),
    cells AS (
      SELECT labeled_lang, pred_lang, count(*) AS n_docs
      FROM pred GROUP BY labeled_lang, pred_lang
    ),
    totals AS (
      SELECT labeled_lang, sum(n_docs) AS n_label_total
      FROM cells GROUP BY labeled_lang
    )
    SELECT c.labeled_lang, pred_lang, n_docs,
           round(n_docs::DOUBLE / n_label_total, 6) AS rate_within_label
    FROM cells c JOIN totals t ON c.labeled_lang = t.labeled_lang
    """


_register_confusion_oracle()


KWIC_TERM = "vector"
KWIC_CTX = 3  # words of context each side


@register(
    "text_kwic_concordance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    occ AS (
      SELECT doc_id, t, u.i AS pos
      FROM toks, LATERAL (SELECT unnest(range(0, len(t))) AS i) u
      WHERE t[u.i+1] = '{KWIC_TERM}'
    )
    SELECT doc_id, pos,
           array_to_string(
             t[greatest(1, pos+1-{KWIC_CTX}) : pos+1+{KWIC_CTX}], ' '
           ) AS context
    FROM occ
    """,
)
def text_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance for '``KWIC_TERM``': every
    occurrence with ``KWIC_CTX`` words of context each side — the corpus
    inspection tool linguists and data auditors reach for when a
    filter/dedup decision needs human eyes on actual usage.

    100 TB shape: a narrow posexplode + slice per occurrence — no
    shuffle at all; at real scale the context slice rides the same
    scan as the match (the token array is carried only to the project,
    never shuffled)."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    occ = toks.select(
        "doc_id", "t", F.posexplode("t").alias("pos", "tok")
    ).filter(F.col("tok") == KWIC_TERM)
    start = F.greatest(F.lit(1), F.col("pos") + 1 - KWIC_CTX)
    length = (F.col("pos") + 1 + KWIC_CTX) - start + 1
    return occ.select(
        "doc_id", "pos",
        F.concat_ws(" ", F.slice("t", start, length)).alias("context"),
    )


KEYWORDS_PER_DOC = 3


@register(
    "doc_keyword_extraction",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok
      WHERE token != '' GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.token,
             CAST(round(t.tf * round(ln(n.n_docs::DOUBLE / d.df), 6), 6)
                  AS DECIMAL(18,6)) AS w
      FROM tf t JOIN df d ON t.token = d.token CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, w,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY w DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id,
           string_agg(token, ' ' ORDER BY rn) AS keywords,
           CAST(max(w) AS DOUBLE) AS top_weight
    FROM ranked WHERE rn <= {KEYWORDS_PER_DOC}
    GROUP BY doc_id
    """,
)
def doc_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-``KEYWORDS_PER_DOC``
    tokens by TF-IDF weight (deterministic tie order) concatenated as
    the document's keyword label — the distinguishing-term summary
    behind faceted browsing, weak topic labels, and cluster naming.

    Differs from keyword_search_tfidf (fixed query terms -> top docs):
    here EVERY token scores and the top-k is per document.

    100 TB shape: tf is one (doc, token) partial-agg shuffle; the
    IDF table aggregates to vocabulary cardinality and broadcasts —
    fine for curated vocabularies; a web-scale raw vocabulary (1e8+
    distinct tokens) swaps the broadcast for a shuffle join, like
    text_unigram_logprob's caveat.  The per-doc top-k prunes via
    WindowGroupLimit; weights stay DECIMAL through ranking."""
    d = load_table(spark, "documents", sf_dir)
    scored = _tfidf_token_weights(d)
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("token"))
    )
    ranked = scored.withColumn("rn", rn).filter(
        F.col("rn") <= KEYWORDS_PER_DOC
    )
    return ranked.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("token")))
                ),
                lambda s: s["token"],
            ),
        ).alias("keywords"),
        F.max("w").cast("double").alias("top_weight"),
    )


VOCAB_COVERAGE_K = 200  # tokenizer vocabulary budget under evaluation


@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), tk AS (SELECT doc_id, t FROM tok WHERE t != ''),
    counts AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY c DESC, t) AS rn FROM counts
      ) WHERE rn <= {VOCAB_COVERAGE_K}
    )
    SELECT tk.doc_id,
           count(*) AS n_tokens,
           CAST(count(*) FILTER (v.t IS NULL) AS BIGINT) AS n_oov,
           round(count(*) FILTER (v.t IS NULL)::DOUBLE / count(*), 6)
             AS oov_rate
    FROM tk LEFT JOIN vocab v USING (t)
    GROUP BY tk.doc_id
    """,
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary-coverage evaluation: freeze a
    ``VOCAB_COVERAGE_K``-entry vocabulary (top corpus frequencies,
    deterministic tie order — the budget a tokenizer trainer would
    allocate) and report each document's out-of-vocabulary token count
    and rate — the fertility/coverage metric that decides whether a
    vocabulary budget fits a corpus before committing to a full
    tokenizer train (and the per-document signal for routing
    high-OOV documents to byte-fallback handling).

    100 TB shape: the frequency table is one map-side-combinable
    groupBy; the top-K rank runs on the vocabulary-sized aggregate
    (gate-allowed bounded window), and membership joins back as a
    broadcast onto the exploded token stream.  The OOV flag is a
    null-side check on a LEFT join, so no second pass."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism
    from pyspark.sql import Window as W

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("c"), F.asc("t")))
        )
        .filter(F.col("rn") <= VOCAB_COVERAGE_K)
        .select("t", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1))
                .cast("double") / F.count(F.lit(1)), 6,
            ).alias("oov_rate"),
        )
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
      -- (?s) so '.' matches newline chars too, mirroring Spark's
      -- split-per-character exactly (RE2 '.' excludes newlines)
      SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch
      FROM documents
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    totals AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY doc_id),
    terms AS (
      SELECT counts.doc_id, n,
             round((c::DOUBLE / n) * ln(c::DOUBLE / n), 6) AS term
      FROM counts JOIN totals USING (doc_id)
    )
    SELECT doc_id,
           max(n) AS n_chars_counted,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(-sum(CAST(term AS DECIMAL(18,6)))::DOUBLE, 6)
             AS char_entropy_nats
    FROM terms GROUP BY doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/encoding-artifact quality signal (low entropy = repeated
    characters / base64 walls collapse to few symbols; compare
    text_repetition_ratio, which works at the token level).

    100 TB shape: the char explode is linear; per-(doc, char) counts
    partial-aggregate map-side, and everything after runs on the
    alphabet-sized per-doc count table.  Parity: each entropy term
    p*ln(p) is one division, one ln, one multiply on exact-integer
    inputs, rounded to 6 dp, then summed as DECIMAL — the
    text_unigram_logprob recipe, immune to accumulation order."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    chars = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    terms = counts.join(totals, "doc_id").select(
        "doc_id", "n", F.round(p * F.log(p), 6).alias("term")
    )
    return terms.groupBy("doc_id").agg(
        F.max("n").alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.round(
            -F.sum(F.col("term").cast("decimal(18,6)")).cast("double"), 6
        ).alias("char_entropy_nats"),
    )


@register(
    "text_readability_flesch",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id,
             len(string_split_regex(text, '\s+')) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS n_sentences,
             greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
               AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835
                 - 1.015 * (n_words::DOUBLE / n_sentences)
                 - 84.6 * (n_syllables::DOUBLE / n_words), 6)
             AS flesch_score
    FROM feats
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948 — the standard
    readability screen in web-corpus quality stacks): 206.835 -
    1.015*(words/sentences) - 84.6*(syllables/words), with syllables
    approximated by vowel-group counts (the usual heuristic) and
    sentence count floored at 1 for fragment documents.

    100 TB shape: three regexp counts inside one codegen'd scan —
    zero shuffles.  Parity: all inputs are exact integer counts and
    the score expression tree is written identically for both engines
    (fixed operation order), so the rounded doubles agree bitwise."""
    d = load_table(spark, "documents", sf_dir)
    n_words = F.size(F.split("text", r"\s+"))
    n_sentences = F.greatest(
        F.lit(1), F.regexp_count("text", F.lit(r"[.!?]+"))
    )
    n_syllables = F.greatest(
        F.lit(1), F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
    )
    feats = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return feats.select("*", F.round(score, 6).alias("flesch_score"))


BPE_TRAIN_ROUNDS = 8


def _bpe_train_oracle(rounds: int = BPE_TRAIN_ROUNDS,
                      final: str = "merges") -> str:
    """Unrolled per-round DuckDB twin of the Sennrich training loop
    (``tokenizer_local._merge_ctes`` with no continuation marker,
    ranked by pair count).  ``final='merges'`` selects the rule table;
    ``final='fertility'`` applies the final vocabulary back to the
    corpus and selects per-document BPE token counts."""
    if final == "fertility":
        return TL._fertility_sql(
            TL._merge_ctes("", rounds),
            "SELECT word, len(string_split(substr(s, 2, len(s) - 2), '><'))"
            f" AS n_pieces FROM w{rounds}",
            "n_bpe_tokens",
        )
    return TL._merge_rules_sql("", rounds, None,
                               "a, b, n_pair AS n_occurrences")


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the Sennrich merge loop; returns (merge_rules, vocab) where
    merge_rules is [(round, a, b, count)] and vocab is the final
    (word, l, freq) frame with each word rewritten into its
    post-merge symbol sequence.  Shared by ``bpe_train_merges`` (rule
    table), ``bpe_tokenize_fertility`` (apply/encode side) and
    ``cli tokenizer-train``.  The loop is the shared merge trainer
    (``tokenizer_local._merge_train``: driver replay under the cap, the
    distributed round loop past it) ranked by pair count."""
    merges, vocab, _wf = TL._merge_train(spark, sf_dir, "", BPE_TRAIN_ROUNDS)
    return [(r, a, b, n) for r, a, b, _m, n, _s in merges], vocab


def _bpe_pieces(vocab: DataFrame) -> DataFrame:
    """(word, n_pieces): the symbol count of each trained word."""
    return vocab.select("word", F.size("l").alias("n_pieces"))


@register("bpe_train_merges", oracle=_bpe_train_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016): iterate
    ``BPE_TRAIN_ROUNDS`` merge rounds — count adjacent symbol pairs over
    the word-frequency table, adopt the most frequent pair (ties:
    lexicographic) as the next merge rule, rewrite the vocabulary, and
    repeat with the merged vocab as loop state.  Output is the ordered
    merge-rule table (round, a, b, count) — the artifact a tokenizer
    ships.

    100 TB shape: the corpus collapses to the word-frequency table
    FIRST (one groupBy; vocabulary-, not corpus-, sized), the loop
    state is that same table rewritten in place (localCheckpoint per
    round, the kmeans/CC discipline), each round's shuffle is one
    vocabulary-sized pair groupBy, and the driver sees exactly ONE row
    per round (the argmax).  The merge rewrite is a JVM-side
    ``aggregate`` fold — greedy left-to-right non-overlapping, the
    reference algorithm's semantics — so no Python touches the data.
    """
    merges, _vocab = _bpe_train(spark, sf_dir)
    return local_frame(
        spark, merges, "round int, a string, b string, n_occurrences long"
    ).orderBy("round")


@register("bpe_tokenize_fertility", oracle=_bpe_train_oracle(final="fertility"))
def bpe_tokenize_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the trained tokenizer: apply the
    ``BPE_TRAIN_ROUNDS`` learned merges back to the corpus and report
    per-document BPE token counts and fertility (BPE tokens per
    whitespace word) — the compression/efficiency eval every tokenizer
    train ends with (cf. tokenizer_vocab_coverage for the OOV view).

    100 TB shape: encoding is a vocabulary-sized problem — the merges
    rewrite the distinct-word table (already materialized by the
    trainer), and the corpus pass is ONE word-keyed equi-join of the
    exploded token stream against that (word → symbol count) dim
    followed by a map-side-combinable per-doc sum.  No per-document
    re-derivation of the merge chain."""
    _merges, vocab = _bpe_train(spark, sf_dir)
    return TL._fertility(spark, sf_dir, _bpe_pieces(vocab), "n_bpe_tokens")


KN_DISCOUNT = 0.75   # the standard absolute-discount value
KN_TOP_K = 200       # report the K most probable bigrams


@register(
    "ngram_lm_kneser_ney",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS (
      SELECT t[u.i] AS v, t[u.i + 1] AS w
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) u
    ), c_vw AS (
      SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY v, w
    ), c_v AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS cv,
             CAST(count(*) AS BIGINT) AS n1v  -- distinct continuations
      FROM c_vw GROUP BY v
    ), p_cont AS (
      SELECT w, CAST(count(*) AS BIGINT) AS npw  -- distinct predecessors
      FROM c_vw GROUP BY w
    ), nb AS (
      SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM c_vw
    )
    SELECT v, w, c AS c_vw, cv AS c_v,
           round(
             greatest(c - {KN_DISCOUNT}, 0) / cv
             + {KN_DISCOUNT} * n1v / cv * (npw::DOUBLE / n_bigram_types),
             6
           ) AS p_kn
    FROM c_vw JOIN c_v USING (v) JOIN p_cont USING (w), nb
    ORDER BY p_kn DESC, v ASC, w ASC LIMIT {KN_TOP_K}
    """,
)
def ngram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney
    1995; Chen & Goodman 1999's standard formulation) — the count-based
    LM behind CCNet-style perplexity filtering when no neural LM is in
    the loop: absolute discount ``KN_DISCOUNT`` with the lower-order
    CONTINUATION distribution (distinct-predecessor counts, the
    signature KN ingredient).  Reports the top-``KN_TOP_K`` bigrams by
    smoothed probability.

    Cross-engine parity: every input is an exact integer count and the
    float expression tree is written with IDENTICAL operation order in
    both engines (the Flesch-score recipe), rounded once at the end.

    100 TB shape: the corpus collapses to the bigram-type table first
    (one groupBy; vocabulary², not corpus, cardinality) and is
    MATERIALIZED there (r10: eager localCheckpoint — its four
    consumers, the model join plus the v-/w-marginals and the global
    type count, each re-ran the corpus explode+groupBy as separate
    subtrees, so one corpus pass became four); the v- and w-marginals
    aggregate FROM the type table; the single global scalar (bigram
    type count) is a broadcast 1-row join; top-k plans as
    TakeOrdered."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(F.split("text", " ").alias("t")) \
        .filter(F.size("t") >= 2)
    big = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("v"),
                    F.element_at("t", i + 1).alias("w"),
                ),
            )
        ).alias("p")
    ).select("p.v", "p.w")
    # r11 (VERDICT r10 #4): the eager checkpoint re-measured with an
    # interleaved in-session A/B (arms alternating per round, min-of-5,
    # sf0.1): eager ckpt 0.776 s, lazy ckpt 0.795, plain 1.068, cache
    # 1.462 — the r10 materialization stands (the pooled-currency
    # "regression" was cross-window drift plus the r10 8-cpu history
    # contamination fixed in bench.py this round); kept eager, which
    # also keeps the type-table statistics deterministic for the
    # downstream broadcast decision.
    c_vw = (
        big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    c_v = c_vw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1v")
    )
    p_cont = c_vw.groupBy("w").agg(F.count(F.lit(1)).alias("npw"))
    nb = c_vw.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    p_kn = F.round(
        F.greatest(F.col("c") - KN_DISCOUNT, F.lit(0.0)) / F.col("cv")
        + F.lit(KN_DISCOUNT) * F.col("n1v") / F.col("cv")
        * (F.col("npw").cast("double") / F.col("n_bigram_types")),
        6,
    )
    return (
        c_vw.join(c_v, "v").join(p_cont, "w")
        .crossJoin(F.broadcast(nb))
        .select(
            "v", "w",
            F.col("c").alias("c_vw"),
            F.col("cv").alias("c_v"),
            p_kn.alias("p_kn"),
        )
        .orderBy(F.desc("p_kn"), F.asc("v"), F.asc("w"))
        .limit(KN_TOP_K)
    )


@register(
    "ngram_lm_doc_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), big AS (
      SELECT doc_id, t[u.i] AS v, t[u.i + 1] AS w
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) u
    ), c_vw AS (
      SELECT v, w, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY v, w
    ), c_v AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS cv,
             CAST(count(*) AS BIGINT) AS n1v
      FROM c_vw GROUP BY v
    ), p_cont AS (
      SELECT w, CAST(count(*) AS BIGINT) AS npw FROM c_vw GROUP BY w
    ), nb AS (
      SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM c_vw
    ), model AS (
      SELECT v, w,
             round(ln(round(
               greatest(c - {{D}}, 0) / cv
               + {{D}} * n1v / cv * (npw::DOUBLE / n_bigram_types),
               6)), 6) AS lp
      FROM c_vw JOIN c_v USING (v) JOIN p_cont USING (w), nb
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(round(
             (sum(CAST(m.lp AS DECIMAL(18,6)))::DOUBLE / count(*)) * 1e6
           ) AS BIGINT) AS kn_logprob_micro
    FROM big b JOIN model m ON b.v = m.v AND b.w = m.w
    GROUP BY b.doc_id
    """.format(D=KN_DISCOUNT),
)
def ngram_lm_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of the Kneser-Ney bigram LM (train→apply
    symmetry, like bpe_train_merges → bpe_tokenize_fertility): every
    document scored by its mean KN log-probability — the CCNet-style
    perplexity signal a quality-filtering pass ranks on — in integer
    micro-nats.

    Cross-engine float parity (the corpus_perplexity_buckets recipe):
    the smoothed probability is rounded to 6 dp FIRST (proven
    identical cross-engine by ``ngram_lm_kneser_ney``'s hash-green
    row), its log is rounded to 6 dp, and the per-doc sum runs over
    DECIMAL(18,6) — exact and order-independent — so no multi-term
    float reduction ever depends on accumulation order.

    100 TB shape: the model is the bigram-TYPE table (vocabulary²
    ceiling, not corpus); scoring is one (v, w) equi-join of the
    bigram stream against it plus one map-side-combinable per-doc
    aggregate.  Every bigram is in-model by construction (trained on
    the same corpus), so the join is total — a held-out scorer would
    left-join and backstop with the continuation distribution."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t")) \
        .filter(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("v"),
                    F.element_at("t", i + 1).alias("w"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.v", "p.w")
    # r10 examined, deliberately unchanged: the four consumers of the
    # bigram-type table (model join, v-/w-marginals, global count) do
    # re-run the corpus explode+groupBy as separate subtrees, but both
    # materialization variants measured SLOWER at sf0.1 (min-of-8:
    # plain 1.45 s, cache() 1.80 s, eager localCheckpoint 1.62 s) —
    # the type table here is bigram-TYPE-cardinality (large, unlike
    # kneser_ney's top-k output), so storing it costs more than the
    # parallel re-evaluation it saves on an unsaturated box.  At true
    # cluster saturation the kneser_ney-style checkpoint is the right
    # call; swap it in via the same one-line change if this query ever
    # dominates a saturated-cluster profile.
    c_vw = big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
    c_v = c_vw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1v")
    )
    p_cont = c_vw.groupBy("w").agg(F.count(F.lit(1)).alias("npw"))
    nb = c_vw.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    p_kn = F.round(
        F.greatest(F.col("c") - KN_DISCOUNT, F.lit(0.0)) / F.col("cv")
        + F.lit(KN_DISCOUNT) * F.col("n1v") / F.col("cv")
        * (F.col("npw").cast("double") / F.col("n_bigram_types")),
        6,
    )
    model = (
        c_vw.join(c_v, "v").join(p_cont, "w")
        .crossJoin(F.broadcast(nb))
        .select("v", "w", F.round(F.log(p_kn), 6).alias("lp"))
    )
    return (
        big.join(model, ["v", "w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                (F.sum(F.col("lp").cast("decimal(18,6)")).cast("double")
                 / F.count(F.lit(1))) * 1e6
            ).cast("long").alias("kn_logprob_micro"),
        )
    )


ZIPF_TOP_N = 256  # ranks entering the log-log least-squares fit


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH tf AS (
      SELECT u.token, count(*) AS cnt
      FROM documents, LATERAL unnest(string_split(text, ' ')) u(token)
      WHERE u.token != ''
      GROUP BY u.token
    ), ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM tf
    ), pts AS (
      SELECT round(ln(rnk), 6)::DECIMAL(18,6) AS x,
             round(ln(cnt), 6)::DECIMAL(18,6) AS y
      FROM ranked WHERE rnk <= {ZIPF_TOP_N}
    ), sums AS (
      SELECT count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pts
    ), nt AS (SELECT count(*) AS n_types FROM tf)
    SELECT n_types, n AS n_top,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS zipf_slope,
           round((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                                / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
                 / n, 6) AS intercept,
           round((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
                 / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE),
                 6) AS r2
    FROM sums, nt
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: least-squares
    slope of ln(frequency) vs ln(rank) over the top ``ZIPF_TOP_N`` ranks
    (natural text sits near slope -1; synthetic/templated or
    boilerplate-flooded corpora flatten or steepen it, which makes the
    slope a cheap corpus-health monitor next to the entropy and
    repetition gates).  Output: one row — vocabulary size, points
    fitted, slope, intercept, R^2.

    Cross-engine float discipline (the embedding_label_outliers rule):
    per-point logs round to 6 dp and enter DECIMAL(18,6), so every sum
    and cross-product is EXACT and order-independent in both engines;
    doubles reappear only in the final five scalar divisions.

    100 TB shape: the frequency table is one map-side-partial groupBy;
    the top-``ZIPF_TOP_N`` cut is a TakeOrdered (distributed partial
    top-k, never a global sort); the rank window then runs over
    ``ZIPF_TOP_N`` rows — bounded, not corpus-sized — and the fit is one
    single-row aggregate."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = tf.orderBy(F.col("cnt").desc(), "token").limit(ZIPF_TOP_N)
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(W.orderBy(F.col("cnt").desc(), "token")),
    )
    pts = ranked.select(
        F.round(F.log("rnk"), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log("cnt"), 6).cast("decimal(18,6)").alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nt = tf.agg(F.count(F.lit(1)).alias("n_types"))
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return sums.crossJoin(F.broadcast(nt)).select(
        "n_types", F.col("n").alias("n_top"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / n, 6
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


@register(
    "text_bigram_entropy_rate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ), big AS (
      SELECT t[u.i+1] AS w1, t[u.i+2] AS w2
      FROM toks, LATERAL (SELECT unnest(range(0, len(t) - 1)) AS i) u
    ), c12 AS (
      SELECT w1, w2, count(*) AS n12 FROM big GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1
    ), terms AS (
      SELECT CAST(n12 AS BIGINT) AS n12,
             CAST(round(ln(n1::DOUBLE / n12), 6) AS DECIMAL(18,6)) AS lp
      FROM c12 JOIN c1 USING (w1)
    )
    -- global aggregate (no GROUP BY): exactly one row even when terms
    -- is empty, matching Spark's global agg shape (ADVICE r7 —
    -- sum() -> NULL, count() -> 0 on an all-short-document corpus)
    SELECT CAST(sum(n12) AS BIGINT) AS n_bigrams,
           count(*) AS n_bigram_types,
           round(CAST(sum(n12 * lp) AS DOUBLE)
                 / CAST(sum(n12) AS BIGINT), 6) AS entropy_rate_nats,
           round(CAST(sum(n12 * lp) AS DOUBLE)
                 / CAST(sum(n12) AS BIGINT) / ln(2), 6)
             AS entropy_rate_bits
    FROM terms
    """,
)
def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional entropy rate H(w2|w1) =
    -sum p(w1,w2) ln p(w2|w1) — the sequence-predictability health
    stat that completes the monitor trio (char entropy = alphabet
    health, Zipf slope = frequency-distribution health, entropy rate
    = SEQUENCE health): templated/boilerplate-flooded corpora collapse
    toward 0 bits (every next word is determined), token soup runs at
    ln(vocabulary).  One row: bigram count, type count, rate in nats
    and bits.

    Exactness: each distinct bigram contributes count * round(ln(c1/
    c12), 6), the rounded per-TYPE log enters DECIMAL(18,6) (the tfidf
    idf pattern) and the n12 multiplier is exact, so the sum is
    accumulation-order independent; doubles reappear in the two final
    divisions only.

    100 TB shape: two map-side-partial aggregates (bigram counts,
    then prefix-marginal counts from the BIGRAM TYPE table, never a
    second corpus pass — the ngram_lm_kneser_ney discipline), one
    broadcast-sized join on w1, a single-row result."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    big = toks.select(
        F.posexplode(F.slice("t", 1, F.size("t") - 1)).alias("i", "w1"),
        F.col("t"),
    ).select("w1", F.col("t")[F.col("i") + 1].alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    terms = c12.join(c1, "w1").select(
        F.col("n12").cast("long").alias("n12"),
        F.round(F.log(F.col("n1").cast("double") / F.col("n12")), 6)
        .cast("decimal(18,6)").alias("lp"),
    )
    return terms.agg(
        F.sum("n12").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_bigram_types"),
        F.round(
            F.sum(F.col("n12") * F.col("lp")).cast("double")
            / F.sum("n12").cast("long"), 6
        ).alias("entropy_rate_nats"),
        F.round(
            F.sum(F.col("n12") * F.col("lp")).cast("double")
            / F.sum("n12").cast("long") / math.log(2), 6
        ).alias("entropy_rate_bits"),
    )
