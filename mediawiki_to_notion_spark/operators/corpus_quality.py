r"""Corpus-cleaning queries: the C4/RefinedWeb-style gate funnel,
temperature-based mixture flattening, and length histograms (north-star
extension — the filtering layer every pretraining pipeline runs before
dedup/mixing).

Everything is JVM-side expressions over one scan; no shuffles except the
tiny key-count aggregates, which broadcast.  Cross-engine parity notes:
all ratios divide integers (exact inputs), and the resample avoids any
multi-term float reduction (min over integer counts, then one sqrt) so
DuckDB and Spark floor identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.functions import hashing as H
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.sources.tables import load_table

MIN_TOKENS = 20          # C4 drops pages with too few words
MAX_CHARS = 500          # truncation-suspect outliers
ALLOWED_LANGS = ("en", "de", "fr")
MIN_DISTINCT_RATIO = 0.55  # low type/token ratio = TEMPLATE/boilerplate text
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# gate order IS the attribution order: a document failing several gates
# reports the first, mirroring how filter funnels count drop reasons
_GATES_SQL = f"""
      CASE
        WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
        WHEN n_chars > {MAX_CHARS} THEN 'too_long'
        WHEN lang NOT IN ({', '.join(f"'{lang}'" for lang in ALLOWED_LANGS)})
          THEN 'lang_not_allowed'
        WHEN regexp_matches(text, '{EMAIL_RE}')
          OR regexp_matches(text, '{IPV4_RE}') THEN 'pii_detected'
        WHEN distinct_ratio < {MIN_DISTINCT_RATIO} THEN 'low_diversity'
        ELSE NULL
      END
"""


@register(
    "corpus_filter_funnel",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, text, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')), 6) AS distinct_ratio
      FROM documents
    )
    SELECT doc_id, lang, n_tokens, n_chars, distinct_ratio,
           {_GATES_SQL} AS drop_reason,
           ({_GATES_SQL}) IS NULL AS keep
    FROM sized
    """,
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-gate quality funnel with drop-reason attribution: length
    bounds, language allowlist, PII pattern screens (email/IPv4), and a
    type/token-ratio boilerplate gate, evaluated in a fixed order so
    each dropped document reports its FIRST failing gate — the shape of
    the C4 cleaning pipeline (Raffel et al. 2020 §2.2) and RefinedWeb's
    filter funnel, where per-gate drop counts are the primary qc signal.

    One narrow pass beside the scan: every gate is a JVM expression, the
    funnel adds zero shuffles, and `groupBy(drop_reason).count()` on the
    result is the funnel report."""
    return apply_funnel(load_table(spark, "documents", sf_dir))


def apply_funnel(d: DataFrame, with_text: bool = False) -> DataFrame:
    """The funnel core over any (doc_id, lang, text, n_chars) frame —
    batch table or readStream: every gate is a stateless narrow
    expression, so the SAME code is the streaming ingest filter (tested
    on a stream in test_metrics_and_watermark.py).  ``with_text=True``
    passes the text column through so further gate batteries (the
    Gopher rules in ``apply_crawl_funnel``) can chain in the same
    narrow pass."""
    toks = F.split(F.col("text"), " ")
    sized = d.select(
        "doc_id", "lang", "text", "n_chars",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("distinct_ratio"),
    )
    first_fail = (
        F.when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("n_chars") > MAX_CHARS, "too_long")
        .when(~F.col("lang").isin(*ALLOWED_LANGS), "lang_not_allowed")
        .when(
            F.regexp_like("text", F.lit(EMAIL_RE))
            | F.regexp_like("text", F.lit(IPV4_RE)),
            "pii_detected",
        )
        .when(F.col("distinct_ratio") < MIN_DISTINCT_RATIO, "low_diversity")
        .otherwise(F.lit(None).cast("string"))
    )
    cols = ["doc_id", "lang", "n_tokens", "n_chars", "distinct_ratio"]
    if with_text:
        cols.append("text")
    return sized.select(
        *cols,
        first_fail.alias("drop_reason"),
        first_fail.isNull().alias("keep"),
    )


TEMP_ALPHA_SQRT = True   # alpha = 0.5 flattening (sqrt temperature)


@register(
    "lang_temperature_resample",
    oracle="""
    WITH counts AS (
      SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
    ), floor_n AS (
      SELECT min(n_lang) AS min_n FROM counts
    ), rated AS (
      SELECT c.lang, c.n_lang,
             greatest(1, CAST(floor(
               100 * sqrt(f.min_n::DOUBLE / c.n_lang)) AS INT)) AS keep_pct
      FROM counts c, floor_n f
    )
    SELECT d.doc_id, d.lang, r.n_lang, r.keep_pct
    FROM documents d JOIN rated r USING (lang)
    WHERE ('0x' || substr(md5('temp:' || d.doc_id), 1, 15))::BIGINT % 100
          < r.keep_pct
    """,
)
def lang_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixture (alpha = 0.5): each
    language is downsampled toward the SMALLEST language's share with
    keep-rate 100*sqrt(min_n/n_lang)%, the multilingual rebalancing used
    for pretraining mixes (sampling p_l proportional to n_l^alpha,
    cf. multilingual LM data schedules) — unlike `corpus_mixture_sample`
    whose tier rates are configured, these rates are DATA-DERIVED.

    Scale shape: the per-language counts are a partial-agg over the key
    column only; the 5-row rate table broadcast-joins back; the keep
    decision is the same content-addressed md5 bucket as the mixture
    sampler (stable under re-runs and retries).  Parity note: the rate
    math is min over integer counts then a single sqrt — no float
    summation whose order could differ between engines."""
    d = load_table(spark, "documents", sf_dir)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    min_n = counts.agg(F.min("n_lang").alias("min_n"))
    rated = counts.crossJoin(F.broadcast(min_n)).select(
        "lang", "n_lang",
        F.greatest(
            F.lit(1),
            F.floor(
                100 * F.sqrt(F.col("min_n").cast("double") / F.col("n_lang"))
            ).cast("int"),
        ).alias("keep_pct"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("temp:"), F.col("doc_id"))), 1, 15),
            16, 10,
        ).cast("long") % 100
    )
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(rated), "lang")
        .filter(bucket < F.col("keep_pct"))
        .select("doc_id", "lang", "n_lang", "keep_pct")
    )


HIST_BUCKET_CHARS = 50


@register(
    "doc_length_histogram",
    oracle=f"""
    SELECT (n_chars // {HIST_BUCKET_CHARS}) * {HIST_BUCKET_CHARS} AS bucket_lo,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           round(sum(n_chars)::DOUBLE / count(*), 6) AS avg_chars
    FROM documents
    GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-width document-length histogram — the size-profile
    sanity check run before choosing packing window / truncation
    length.  Integer bucket arithmetic and integer sums keep it
    bit-exact across engines; one partial-agg shuffle over at most
    max_chars/``HIST_BUCKET_CHARS`` groups."""
    d = load_table(spark, "documents", sf_dir)
    bucket = (F.floor(F.col("n_chars") / HIST_BUCKET_CHARS)
              * HIST_BUCKET_CHARS).cast("long")
    return (
        d.groupBy(bucket.alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_chars"),
        )
    )


CHUNK_TOKENS = 64      # window length (tokens)
CHUNK_STRIDE = 48      # window start spacing -> 16-token overlap


@register(
    "context_window_chunks",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
      SELECT doc_id, u.i AS chunk_idx,
             u.i * {CHUNK_STRIDE} AS start_token,
             least(u.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}, len(t)) AS end_token,
             array_to_string(
               t[u.i * {CHUNK_STRIDE} + 1 :
                 least(u.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}, len(t))],
               ' ') AS chunk_text
      FROM sized, LATERAL (
        SELECT unnest(range(0,
          greatest(1, ceil((len(t) - {CHUNK_TOKENS})::DOUBLE
                           / {CHUNK_STRIDE})::BIGINT + 1))) AS i
      ) u
      WHERE u.i * {CHUNK_STRIDE} < len(t)
    )
    SELECT doc_id, chunk_idx, start_token, end_token,
           end_token - start_token AS n_tokens, chunk_text
    FROM spans
    """,
)
def context_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: each document splits into
    ``CHUNK_TOKENS``-token windows every ``CHUNK_STRIDE`` tokens (16-token
    overlap) — the span decomposition behind RAG indexing and
    fixed-window pretraining tokenization.  Every document yields at
    least one (possibly short) chunk, and a trailing stride that would
    start past the text yields none.

    Pure narrow ops: `sequence` + `transform` build the span table
    inline and `posexplode` flattens it — zero shuffles, zero Python.
    At 100 TB chunking is embarrassingly parallel beside the scan."""
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(CHUNK_TOKENS)).cast("double") / CHUNK_STRIDE)
        .cast("long") + 1,
    )
    spans = F.filter(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.alias("chunk_idx"),
                (i * CHUNK_STRIDE).alias("start_token"),
                F.least(i * CHUNK_STRIDE + CHUNK_TOKENS, n).alias("end_token"),
            ),
        ),
        lambda s: s.start_token < n,
    )
    return (
        d.select("doc_id", toks.alias("t"), F.explode(spans).alias("s"))
        .select(
            "doc_id",
            F.col("s.chunk_idx").alias("chunk_idx"),
            F.col("s.start_token").alias("start_token"),
            F.col("s.end_token").alias("end_token"),
            (F.col("s.end_token") - F.col("s.start_token")).alias("n_tokens"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    F.col("s.start_token") + 1,
                    F.col("s.end_token") - F.col("s.start_token"),
                ),
            ).alias("chunk_text"),
        )
    )


N_LENGTH_BINS = 4  # quartile bins


@register(
    "doc_length_equal_freq_bins",
    oracle=f"""
    WITH b AS (
      SELECT round(quantile_cont(n_chars, 0.25), 6) AS q1,
             round(quantile_cont(n_chars, 0.50), 6) AS q2,
             round(quantile_cont(n_chars, 0.75), 6) AS q3
      FROM documents
    ), binned AS (
      SELECT d.doc_id,
             CASE WHEN d.n_chars <= b.q1 THEN 0
                  WHEN d.n_chars <= b.q2 THEN 1
                  WHEN d.n_chars <= b.q3 THEN 2
                  ELSE 3 END AS bin_id
      FROM documents d CROSS JOIN b
    )
    SELECT bin_id, count(*) AS n_docs,
           min(d.n_chars) AS min_chars, max(d.n_chars) AS max_chars
    FROM binned JOIN documents d ON binned.doc_id = d.doc_id
    GROUP BY bin_id
    """,
)
def doc_length_equal_freq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quartile) binning of document lengths — the
    curriculum/bucketing signal for length-balanced batch construction
    (and the skew diagnosis for shard sizing).

    Scale shape: the three boundaries are ONE exact-percentile aggregate
    (Spark `percentile` and DuckDB `quantile_cont` share the linear
    interpolation rule — the proven parity pair), broadcast back; bin
    assignment is a map-side CASE, and the final count is one
    partial-agg shuffle over ``N_LENGTH_BINS`` keys.  A global-sort
    `ntile` would pull the corpus through one partition; this never
    sorts."""
    d = load_table(spark, "documents", sf_dir)
    b = d.agg(
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(n_chars, 0.50)"), 6).alias("q2"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("q3"),
    )
    bin_id = (
        F.when(F.col("n_chars") <= F.col("q1"), 0)
        .when(F.col("n_chars") <= F.col("q2"), 1)
        .when(F.col("n_chars") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        d.crossJoin(F.broadcast(b))
        .select("doc_id", "n_chars", bin_id.alias("bin_id"))
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


DRIFT_BUCKET = 50      # chars per histogram bucket
DRIFT_THRESHOLD = 0.1  # total-variation flag level


@register(
    "source_drift_detect",
    oracle=f"""
    WITH b AS (
      SELECT source, CAST(doc_id % 2 AS INTEGER) AS half,
             (n_chars // {DRIFT_BUCKET}) * {DRIFT_BUCKET} AS bucket
      FROM documents
    ), h AS (
      SELECT source, half, bucket, count(*) AS n FROM b GROUP BY 1, 2, 3
    ), tot AS (
      SELECT source, half, sum(n)::BIGINT AS tot FROM h GROUP BY 1, 2
    ), buckets AS (
      SELECT DISTINCT source, bucket FROM h
    ), px AS (
      SELECT bk.source, bk.bucket,
             coalesce(o.n, 0)::DOUBLE / ot.tot AS p,
             coalesce(nw.n, 0)::DOUBLE / nt.tot AS q,
             ot.tot AS n_old, nt.tot AS n_new
      FROM buckets bk
      JOIN tot ot ON ot.source = bk.source AND ot.half = 0
      JOIN tot nt ON nt.source = bk.source AND nt.half = 1
      LEFT JOIN h o  ON o.source = bk.source AND o.bucket = bk.bucket
                    AND o.half = 0
      LEFT JOIN h nw ON nw.source = bk.source AND nw.bucket = bk.bucket
                    AND nw.half = 1
    )
    SELECT source, min(n_old) AS n_old, min(n_new) AS n_new,
           count(*) AS n_buckets,
           round(CAST(sum(CAST(round(abs(p - q), 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / 2, 6) AS tv_distance,
           round(CAST(sum(CAST(round(abs(p - q), 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / 2, 6) > {DRIFT_THRESHOLD} AS drift_flag
    FROM px GROUP BY source
    """,
)
def source_drift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor per source: total-variation distance
    between the length histograms of two corpus halves (doc_id parity
    stands in for the old-crawl/new-crawl time split) — the batch
    statistics check a production pipeline runs on every new crawl to
    catch a source silently changing shape before it poisons the mix.

    Scale shape: two partial-agg shuffles over (source, half, bucket)
    key grains (thousands of groups, never corpus-sized), a broadcast-
    sized totals join, and a per-source fold of 6-dp-rounded per-bucket
    deviations summed as DECIMAL — order-exact at any parallelism."""
    d = load_table(spark, "documents", sf_dir)
    b = d.select(
        "source",
        (F.col("doc_id") % 2).cast("int").alias("half"),
        ((F.col("n_chars") / DRIFT_BUCKET).cast("long") * DRIFT_BUCKET)
        .alias("bucket"),
    )
    h = b.groupBy("source", "half", "bucket").agg(F.count(F.lit(1)).alias("n"))
    tot = h.groupBy("source", "half").agg(F.sum("n").alias("tot"))
    buckets = h.select("source", "bucket").distinct()
    ot = tot.filter(F.col("half") == 0).select(
        "source", F.col("tot").alias("tot_old")
    )
    nt = tot.filter(F.col("half") == 1).select(
        "source", F.col("tot").alias("tot_new")
    )
    ho = h.filter(F.col("half") == 0).select(
        "source", "bucket", F.col("n").alias("n_old_b")
    )
    hn = h.filter(F.col("half") == 1).select(
        "source", "bucket", F.col("n").alias("n_new_b")
    )
    px = (
        buckets.join(F.broadcast(ot), "source")
        .join(F.broadcast(nt), "source")
        .join(ho, ["source", "bucket"], "left")
        .join(hn, ["source", "bucket"], "left")
        .select(
            "source",
            (F.coalesce("n_old_b", F.lit(0)).cast("double") / F.col("tot_old"))
            .alias("p"),
            (F.coalesce("n_new_b", F.lit(0)).cast("double") / F.col("tot_new"))
            .alias("q"),
            F.col("tot_old").alias("n_old"), F.col("tot_new").alias("n_new"),
        )
    )
    tv = (
        F.sum(F.round(F.abs(F.col("p") - F.col("q")), 6).cast("decimal(18,6)"))
        .cast("double") / 2
    )
    return px.groupBy("source").agg(
        F.min("n_old").alias("n_old"),
        F.min("n_new").alias("n_new"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(tv, 6).alias("tv_distance"),
        (F.round(tv, 6) > DRIFT_THRESHOLD).alias("drift_flag"),
    )


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT source,
             {H.token_hash60_sql(
                 "t[u.i+1] || ' ' || t[u.i+2] || ' ' || t[u.i+3]")} AS h
      FROM toks, LATERAL (SELECT unnest(range(0, len(t) - 2)) AS i) u
    )
    SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS n_shared_shingles
    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    number of distinct word-trigram shingles they share — the
    before-you-mix audit that catches one crawl being a re-scrape of
    another (the corpus-level analog of dedup_containment's per-doc
    view).

    100 TB shape: the corpus collapses to DISTINCT (source, shingle)
    first (one groupBy; shingle-vocabulary cardinality), and the
    self-join on the shingle hash fans out at most C(n_sources, 2)
    pairs per shingle — bounded by the source count, never by corpus
    size."""
    from mediawiki_to_notion_spark.operators.dedup import _hashed_shingles

    d = load_table(spark, "documents", sf_dir)
    # the shared shingle recipe, keyed by source; distinct() collapses
    # the same shingle appearing in many docs of one source
    sh = _hashed_shingles(d.select("source", "text"), key="source").distinct()
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# Gopher quality rules (Rae et al. 2021, table A1 — public paper):
# the standard pretraining document-quality ruleset.  Thresholds follow
# the paper where the synthetic corpus can exercise them.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WORD_LEN = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1        # '#' or '...' per word
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8    # words containing a letter
GOPHER_MIN_STOPWORDS = 2             # distinct stop words present
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")

_SW_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)


@register(
    "text_gopher_quality_rules",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t, text FROM documents
    ),
    feats AS (
      SELECT doc_id,
             len(t) AS n_words,
             round(len(replace(text, ' ', ''))::DOUBLE / len(t), 6)
               AS mean_word_len,
             round((
               (len(text) - len(replace(text, '#', '')))
               + (len(text) - len(replace(text, '...', ''))) / 3
             )::DOUBLE / len(t), 6) AS symbol_ratio,
             round(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                   ::DOUBLE / len(t), 6) AS alpha_word_ratio,
             len(list_distinct(list_filter(t,
               w -> list_contains([{_SW_SQL}], lower(w))))) AS n_stopwords
      FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
           n_stopwords,
           (n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS})
             AS fail_word_count,
           (mean_word_len < {GOPHER_MEAN_WORD_LEN[0]}
            OR mean_word_len > {GOPHER_MEAN_WORD_LEN[1]})
             AS fail_mean_word_len,
           symbol_ratio > {GOPHER_MAX_SYMBOL_RATIO} AS fail_symbol_ratio,
           alpha_word_ratio < {GOPHER_MIN_ALPHA_WORD_RATIO}
             AS fail_alpha_ratio,
           n_stopwords < {GOPHER_MIN_STOPWORDS} AS fail_stopwords,
           NOT (n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS}
                OR mean_word_len < {GOPHER_MEAN_WORD_LEN[0]}
                OR mean_word_len > {GOPHER_MEAN_WORD_LEN[1]}
                OR symbol_ratio > {GOPHER_MAX_SYMBOL_RATIO}
                OR alpha_word_ratio < {GOPHER_MIN_ALPHA_WORD_RATIO}
                OR n_stopwords < {GOPHER_MIN_STOPWORDS}) AS keep
    FROM feats
    """,
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality ruleset (Rae et al. 2021, table A1 —
    the filter battery MassiveText/Dolma/RefinedWeb all derive from):
    word-count bounds, mean-word-length band, symbol-to-word ratio
    ('#'/'...' artifacts), alphabetic-word ratio, and a minimum count
    of distinct stop words.  Per-rule flags are emitted alongside the
    combined keep bit so the funnel report can attribute drops to
    individual rules (the qc view the paper's appendix tabulates).

    100 TB shape: one narrow JVM-side pass beside the scan — every
    feature is an expression over the token array, no shuffle at all.
    Cross-engine parity: ratios are single divisions of exact integer
    counts (mean word length = non-space chars / words), so both
    engines round identical doubles."""
    return apply_gopher_rules(load_table(spark, "documents", sf_dir))


def apply_gopher_rules(d: DataFrame, passthrough: bool = False) -> DataFrame:
    """The Gopher rule core over any (doc_id, text) frame — batch table
    or readStream: all features are stateless narrow expressions, so
    the SAME code gates a streaming ingest (stream-vs-batch parity
    pinned in test_metrics_and_watermark.py), exactly like
    ``apply_funnel``.  ``passthrough=True`` keeps every input column
    (for composition into the crawl funnel)."""
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mean_wl = F.round(
        F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words, 6
    )
    n_hash = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    n_ellipsis = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / 3
    symbol_ratio = F.round(
        (n_hash + n_ellipsis).cast("double") / n_words, 6
    )
    alpha_ratio = F.round(
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
        .cast("double") / n_words, 6,
    )
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_sw = F.size(F.array_distinct(
        F.filter(toks, lambda w: F.array_contains(sw, F.lower(w)))
    ))
    base = d.columns if passthrough else ["doc_id"]
    feats = d.select(
        *base,
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_sw.alias("n_stopwords"),
    )
    f_wc = (F.col("n_words") < GOPHER_MIN_WORDS) | \
        (F.col("n_words") > GOPHER_MAX_WORDS)
    f_mwl = (F.col("mean_word_len") < GOPHER_MEAN_WORD_LEN[0]) | \
        (F.col("mean_word_len") > GOPHER_MEAN_WORD_LEN[1])
    f_sym = F.col("symbol_ratio") > GOPHER_MAX_SYMBOL_RATIO
    f_alpha = F.col("alpha_word_ratio") < GOPHER_MIN_ALPHA_WORD_RATIO
    f_sw = F.col("n_stopwords") < GOPHER_MIN_STOPWORDS
    return feats.select(
        "*",
        f_wc.alias("fail_word_count"),
        f_mwl.alias("fail_mean_word_len"),
        f_sym.alias("fail_symbol_ratio"),
        f_alpha.alias("fail_alpha_ratio"),
        f_sw.alias("fail_stopwords"),
        (~(f_wc | f_mwl | f_sym | f_alpha | f_sw)).alias("keep"),
    )


def apply_crawl_funnel(d: DataFrame) -> DataFrame:
    """The FULL crawl quality battery: C4 funnel gates then the five
    Gopher rules, composed in ONE narrow zero-shuffle pass with
    first-failing-gate drop attribution (C4 gates keep their fixed
    order and precedence; the Gopher rules follow in the paper's
    table order).  This is what `cli crawl` runs, so a corpus job
    gets the r4 quality battery without writing code."""
    c4 = (
        apply_funnel(d, with_text=True)
        .withColumnRenamed("drop_reason", "c4_reason")
        .withColumnRenamed("keep", "c4_keep")
    )
    g = apply_gopher_rules(c4, passthrough=True)
    first_fail = F.coalesce(
        F.col("c4_reason"),
        F.when(F.col("fail_word_count"), "gopher_word_count")
        .when(F.col("fail_mean_word_len"), "gopher_mean_word_len")
        .when(F.col("fail_symbol_ratio"), "gopher_symbol_ratio")
        .when(F.col("fail_alpha_ratio"), "gopher_alpha_ratio")
        .when(F.col("fail_stopwords"), "gopher_stopwords"),
    )
    return g.select(
        "doc_id", "lang", "n_tokens", "n_chars", "distinct_ratio",
        "n_words", "mean_word_len", "symbol_ratio", "alpha_word_ratio",
        "n_stopwords",
        first_fail.alias("drop_reason"),
        first_fail.isNull().alias("keep"),
    )


MIX_EPOCH_CAP = 5  # max oversampling epochs for tiny sources


@register(
    "corpus_mixture_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    mx AS (SELECT max(n_tokens) AS max_tokens FROM per_source)
    SELECT source, n_docs, n_tokens,
           round(sqrt(n_tokens::DOUBLE / max_tokens), 6) AS rel_weight,
           least({MIX_EPOCH_CAP}, CAST(ceil(
             sqrt(max_tokens::DOUBLE / n_tokens)) AS BIGINT)) AS epochs
    FROM per_source, mx
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weight table: per-source token counts flattened
    with a sqrt temperature (alpha = 0.5, the multilingual-LM mixing
    rule) into a relative sampling weight against the LARGEST source,
    plus the capped oversampling epoch count small sources need to hit
    that weight — the table a data-loading pipeline consumes to mix
    domains (complements lang_temperature_resample, which applies
    per-document resampling; this emits the source-level plan).

    100 TB shape: one map-side-combinable groupBy(source) over the
    corpus; everything after runs on the source-count-sized aggregate.
    Cross-engine parity: weights derive from ONE division of exact
    integer token counts followed by ONE sqrt — no multi-term float
    reductions, so both engines round the same doubles (the
    lang_temperature_resample recipe)."""
    d = load_table(spark, "documents", sf_dir)
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    mx = per_source.agg(F.max("n_tokens").alias("max_tokens"))
    return per_source.crossJoin(F.broadcast(mx)).select(
        "source", "n_docs", "n_tokens",
        F.round(
            F.sqrt(F.col("n_tokens").cast("double") / F.col("max_tokens")), 6
        ).alias("rel_weight"),
        F.least(
            F.lit(MIX_EPOCH_CAP).cast("long"),
            F.ceil(
                F.sqrt(F.col("max_tokens").cast("double") / F.col("n_tokens"))
            ),
        ).alias("epochs"),
    )


# CCNet-style head/middle/tail split fractions (exact tertiles); the
# literal is Python's repr of 1/3 so Spark and DuckDB parse the SAME
# double for the interpolated-percentile position.
PPL_T1 = "0.3333333333333333"
PPL_T2 = "0.6666666666666666"


@register(
    "corpus_perplexity_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), tk AS (SELECT doc_id, t FROM tok WHERE t != ''),
    vocab AS (
      SELECT t,
             round(ln(count(*)::DOUBLE / (SELECT count(*) FROM tk)), 6) AS lp
      FROM tk GROUP BY t
    ),
    scored AS (
      SELECT tk.doc_id,
             CAST(round(
               (sum(CAST(v.lp AS DECIMAL(18,6)))::DOUBLE / count(*)) * 1e6
             ) AS BIGINT) AS score_micro
      FROM tk JOIN vocab v USING (t) GROUP BY tk.doc_id
    ),
    th AS (
      SELECT round(quantile_cont(score_micro, {PPL_T1}), 6) AS t1,
             round(quantile_cont(score_micro, {PPL_T2}), 6) AS t2
      FROM scored
    )
    SELECT doc_id, score_micro,
           CASE WHEN score_micro >= t2 THEN 'head'
                WHEN score_micro >= t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored CROSS JOIN th
    """,
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020 §4.3):
    rank every document by its language-model score — here the unigram
    mean log-probability, text_unigram_logprob's proven-parity recipe —
    and cut the corpus at exact tertiles: 'head' = most natural third,
    'tail' = the third a quality-focused pretraining run drops or
    downweights.  The score is carried as integer micro-units so the
    tertile thresholds interpolate over exact integers (the
    doc_length_equal_freq_bins parity pattern).

    100 TB shape: scoring is the unigram-LM join (vocab-sized partial
    agg broadcast back); the tertiles are ONE exact-percentile aggregate
    broadcast back (at real scale, swap in approx_percentile — the
    CASE assignment is unchanged); no global sort, no corpus window."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("n").cast("double") / F.col("total")), 6)
        .alias("lp"),
    )
    scored = (
        tok.join(F.broadcast(lp), "t")
        .groupBy("doc_id")
        .agg(
            F.round(
                (F.sum(F.col("lp").cast("decimal(18,6)")).cast("double")
                 / F.count(F.lit(1))) * 1e6
            ).cast("long").alias("score_micro")
        )
    )
    th = scored.agg(
        F.round(F.expr(f"percentile(score_micro, {PPL_T1})"), 6).alias("t1"),
        F.round(F.expr(f"percentile(score_micro, {PPL_T2})"), 6).alias("t2"),
    )
    bucket = (
        F.when(F.col("score_micro") >= F.col("t2"), "head")
        .when(F.col("score_micro") >= F.col("t1"), "middle")
        .otherwise("tail")
    )
    return scored.crossJoin(F.broadcast(th)).select(
        "doc_id", "score_micro", bucket.alias("bucket")
    )


QC_BUCKETS = 4096          # feature-hash buckets (fastText-style)
QC_WEIGHT_MULT = 2654435761  # Knuth multiplicative constant (public)


@register(
    "quality_classifier_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    big AS (
      SELECT doc_id, t[u.i] || '|' || t[u.i + 1] AS bg
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) u
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(bg), 1, 15))::BIGINT % {QC_BUCKETS}
               AS bucket
      FROM big
    ),
    weights AS (
      SELECT range AS bucket,
             (range * {QC_WEIGHT_MULT}) % 2001 - 1000 AS w_micro
      FROM range({QC_BUCKETS})
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(w_micro) AS BIGINT) AS sum_micro,
           round(CAST(sum(w_micro) AS BIGINT)::DOUBLE
                 / (count(*) * 1000), 6) AS score,
           CAST(sum(w_micro) AS BIGINT) >= 0 AS keep
    FROM hashed JOIN weights USING (bucket)
    GROUP BY doc_id
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-bigram linear quality classifier (the
    FineWeb-Edu / CCNet model-based-filter shape): adjacent token
    bigrams feature-hash into ``QC_BUCKETS`` buckets, a linear weight
    per bucket (here a deterministic public multiplicative-hash
    weight table standing in for trained parameters — the PLUMBING is
    the operator; swapping in real weights is a table swap), and the
    document scores the mean bucket weight; keep = non-negative score.

    Weights are exact integer micro-units so the mean is ONE division
    of exact integers — the cross-engine float-parity recipe.

    100 TB shape: one narrow pass explodes bigrams beside the scan,
    the ``QC_BUCKETS``-row weight table broadcast-joins onto the hashed
    stream (never a shuffle of the corpus against the model), and the
    per-doc aggregation is a single map-side-combinable groupBy.
    Documents with fewer than two tokens score no row (no features),
    identically in both engines."""
    return apply_quality_classifier(
        spark, load_table(spark, "documents", sf_dir))


def apply_quality_classifier(spark: SparkSession, d: DataFrame) -> DataFrame:
    """The classifier core over any (doc_id, text) frame — batch table
    or readStream (stream-static broadcast join + keyed aggregation;
    stream-vs-batch parity pinned in test_metrics_and_watermark.py,
    the apply_funnel/apply_gopher_rules discipline)."""
    toks = d.select("doc_id", F.split("text", " ").alias("t")) \
        .filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat(
                    F.element_at("t", i), F.lit("|"),
                    F.element_at("t", i + 1),
                ),
            )
        ).alias("bg"),
    )
    hashed = bigrams.select(
        "doc_id",
        (F.conv(F.substring(F.md5("bg"), 1, 15), 16, 10).cast("long")
         % QC_BUCKETS).alias("bucket"),
    )
    # r10 (guide §2.4): the stand-in weight table is closed-form in the
    # bucket id, so the broadcast join is inlined as the expression
    # itself — one hash-probe per bigram removed from the hot stream
    # (measured interleaved at sf0.1: 1.45 → 1.01 s).  Swapping in
    # REAL trained weights reintroduces the broadcast join exactly
    # where this projection sits; the streaming twin is unaffected
    # (a pure projection is stream-safe, as the join was).
    scored = hashed.select(
        "doc_id",
        (F.col("bucket") * QC_WEIGHT_MULT % 2001 - 1000).alias("w_micro"),
    )
    return (
        scored
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("w_micro").alias("sum_micro"),
            F.round(
                F.sum("w_micro").cast("double")
                / (F.count(F.lit(1)) * 1000), 6,
            ).alias("score"),
            (F.sum("w_micro") >= 0).alias("keep"),
        )
    )


ANNEAL_BOOST = 3  # phase-3 upweight factor for above-average sources


@register(
    "mixture_anneal_schedule",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), big AS (
      SELECT source, t[u.i] || '|' || t[u.i + 1] AS bg
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) u
    ), hashed AS (
      SELECT source,
             ('0x' || substr(md5(bg), 1, 15))::BIGINT % {QC_BUCKETS}
               AS bucket
      FROM big
    ), weights AS (
      SELECT range AS bucket,
             (range * {QC_WEIGHT_MULT}) % 2001 - 1000 AS w_micro
      FROM range({QC_BUCKETS})
    ), per_source AS (
      SELECT h.source,
             CAST(sum(w_micro) AS BIGINT) AS sum_micro,
             CAST(count(*) AS BIGINT) AS n_feats
      FROM hashed h JOIN weights USING (bucket) GROUP BY h.source
    ), tok_counts AS (
      SELECT source,
             CAST(sum(len(t)) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source
    ), gtot AS (
      SELECT CAST(sum(sum_micro) AS BIGINT) AS g_micro,
             CAST(sum(n_feats) AS BIGINT) AS g_feats
      FROM per_source
    ), rated AS (
      SELECT s.source, t.n_tokens, s.sum_micro, s.n_feats,
             -- exact cross-multiplied comparison: source mean vs
             -- corpus mean, no float division
             (s.sum_micro * g.g_feats >= g.g_micro * s.n_feats)
               AS above_avg
      FROM per_source s JOIN tok_counts t USING (source), gtot g
    ), phased AS (
      SELECT source, n_tokens, above_avg, ph.phase,
             n_tokens * CASE WHEN ph.phase = 3 AND above_avg
                             THEN {ANNEAL_BOOST} ELSE 1 END AS w
      FROM rated, (SELECT unnest([1, 2, 3]) AS phase) ph
    )
    SELECT source, phase, n_tokens, above_avg,
           CAST(w AS BIGINT) AS weight,
           round(100.0 * w / CAST(sum(w) OVER (PARTITION BY phase)
                                  AS BIGINT), 6) AS weight_pct
    FROM phased
    """,
)
def mixture_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annealed data-mixture schedule (the Llama-3 / MiniCPM two-stage
    recipe): phases 1-2 sample sources proportional to token count;
    the final anneal phase upweights ABOVE-AVERAGE-quality sources by
    ``ANNEAL_BOOST``x, with quality = the hashed-bigram classifier's
    per-source mean micro score.  The above-average test is an exact
    cross-multiplied integer comparison (sum_micro * g_feats >=
    g_micro * n_feats) — no float threshold to disagree on.

    100 TB shape (r10, guide §2.3 "aggregate before you shuffle" +
    §2.4): ONE corpus pass — the per-document classifier sum is an
    array fold beside the scan (the bucket weight is a closed-form
    function of the bucket id, bucket * QC_WEIGHT_MULT % 2001 - 1000,
    so it is inlined as an expression instead of a broadcast join
    against a materialized weight table), and a single map-side-
    combinable groupBy(source) carries classifier sum, feature count
    AND token count together.  The old shape ran the corpus three
    times (per_source re-evaluated under both `glob` and `rated`,
    plus the separate tok_counts groupBy); the fused source-
    cardinality table is localCheckpoint'ed so everything after
    (global mean, phase fan-out, normalization) is arithmetic over a
    handful of rows."""
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.split("text", " ").alias("t")
    )

    def bucket_of(bg):
        return (
            F.conv(F.substring(F.md5(bg), 1, 15), 16, 10).cast("long")
            % QC_BUCKETS
        )

    buckets = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: bucket_of(
                F.concat(
                    F.element_at("t", i), F.lit("|"),
                    F.element_at("t", i + 1),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    per_doc = toks.select(
        "source",
        F.size("t").alias("n_tok"),
        F.aggregate(
            buckets, F.lit(0).cast("long"),
            lambda acc, b: acc + (b * QC_WEIGHT_MULT % 2001 - 1000),
        ).alias("w_sum"),
        F.size(buckets).alias("n_bg"),
    )
    per_source = (
        per_doc.groupBy("source")
        .agg(
            F.sum("w_sum").alias("sum_micro"),
            F.sum("n_bg").alias("n_feats"),
            F.sum("n_tok").alias("n_tokens"),
        )
        # sources whose every document is shorter than 2 tokens had no
        # bigram row in the pre-r10 shape and were dropped by its
        # per_source ⋈ tok_counts inner join — preserve that, and the
        # same join's equi-key NULL semantics (a NULL source never
        # matched, so it never reached the output)
        .filter(F.col("n_feats") > 0)
        .filter(F.col("source").isNotNull())
        .localCheckpoint()
    )
    glob = per_source.agg(
        F.sum("sum_micro").alias("g_micro"),
        F.sum("n_feats").alias("g_feats"),
    )
    rated = (
        per_source
        .crossJoin(F.broadcast(glob))
        .select(
            "source", "n_tokens",
            (F.col("sum_micro") * F.col("g_feats")
             >= F.col("g_micro") * F.col("n_feats")).alias("above_avg"),
        )
    )
    phases = spark.range(1, 4).select(F.col("id").cast("int").alias("phase"))
    phased = rated.crossJoin(F.broadcast(phases)).select(
        "source", "phase", "n_tokens", "above_avg",
        (
            F.col("n_tokens")
            * F.when(
                (F.col("phase") == 3) & F.col("above_avg"),
                F.lit(ANNEAL_BOOST),
            ).otherwise(F.lit(1))
        ).alias("weight"),
    )
    from pyspark.sql import Window as W

    return phased.select(
        "source", "phase", "n_tokens", "above_avg", "weight",
        F.round(
            F.lit(100.0) * F.col("weight")
            / F.sum("weight").over(W.partitionBy("phase")), 6
        ).alias("weight_pct"),
    )


# Gopher repetition thresholds (Rae et al. 2021, table A1): max char
# fraction in the top n-gram / in duplicated n-grams
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 8: 0.12, 10: 0.10}


def _rep_oracle() -> str:
    cols = []
    g_defs = []
    c_defs = []
    for n in (2, 3, 4, 5, 8, 10):
        g_defs.append(
            f"CASE WHEN len(t) >= {n} THEN list_transform("
            f"range(1, len(t) - {n} + 2), "
            f"i -> array_to_string(t[i:i+{n}-1], ' ')) "
            f"ELSE [] END AS g{n}"
        )
        c_defs.append(
            f"list_transform(g{n}, x -> len(list_filter(g{n}, "
            f"y -> y = x))) AS c{n}"
        )
    for n, thr in GOPHER_TOP_NGRAM_MAX.items():
        cols.append(f"""
           CASE WHEN len(g{n}) = 0 THEN 0.0 ELSE round(
             CAST(list_aggregate(c{n}, 'max')
                  * (len(list_aggregate(list_transform(list_filter(
                        list_zip(g{n}, c{n}),
                        z -> z[2] = list_aggregate(c{n}, 'max')),
                      z -> z[1]), 'max')) - {n - 1}) AS BIGINT)::DOUBLE
             / nonspace, 6) END AS top{n}_frac""")
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        cols.append(f"""
           CASE WHEN len(g{n}) = 0 THEN 0.0 ELSE round(
             CAST(coalesce(list_aggregate(list_transform(
               list_distinct(flatten(list_transform(
                 list_filter(range(1, len(g{n}) + 1),
                             i -> c{n}[i] >= 2),
                 i -> range(i, i + {n})))),
               i -> len(t[i])), 'sum'), 0) AS BIGINT)::DOUBLE
             / nonspace, 6) END AS dup{n}_frac""")
    keep = " AND ".join(
        [f"top{n}_frac <= {t}" for n, t in GOPHER_TOP_NGRAM_MAX.items()]
        + [f"dup{n}_frac <= {t}" for n, t in GOPHER_DUP_NGRAM_MAX.items()]
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t,
             len(replace(text, ' ', '')) AS nonspace
      FROM documents
    ), g AS (
      SELECT doc_id, t, nonspace, {', '.join(g_defs)} FROM base
    ), c AS (
      SELECT *, {', '.join(c_defs)} FROM g
    ), feats AS (
      SELECT doc_id, CAST(nonspace AS BIGINT) AS n_chars, {','.join(cols)}
      FROM c
    )
    SELECT *, {keep} AS keep FROM feats
    """


_REP_TOP_NS = tuple(sorted(GOPHER_TOP_NGRAM_MAX))
_REP_DUP_NS = tuple(sorted(GOPHER_DUP_NGRAM_MAX))
_REP_OUT_COLS = (["doc_id", "nonspace"]
                 + [f"topc{n}" for n in _REP_TOP_NS]
                 + [f"covc{n}" for n in _REP_DUP_NS])


def _rep_features_row(doc_id, text):
    """Integer repetition numerators for ONE document (row-local, no
    Spark): (doc_id, nonspace, topc{2,3,4}, covc{5,8,10}).  None for
    NULL text, and per-n None when the doc has fewer than n tokens.
    Kept module-level so the hypothesis property test can pin it
    against a naive reference independent of the driver's data."""
    from collections import Counter

    if text is None:
        return (doc_id,) + (None,) * (len(_REP_OUT_COLS) - 1)
    toks = [w for w in text.split(" ") if w]
    lens = [len(w) for w in toks]
    m = len(toks)
    # sum of token lengths == length(replace(text, ' ', '')) exactly:
    # split-by-space segments are the non-space chars
    row = [doc_id, sum(lens)]
    for n in _REP_TOP_NS:
        if m < n:
            row.append(None)
            continue
        cnt = Counter(tuple(toks[i:i + n]) for i in range(m - n + 1))
        cmax = max(cnt.values())
        # tie-break: lexicographically greatest joined gram (ASCII/UTF-8
        # byte order == code-point order, the same ordering Spark
        # max()/DuckDB max use)
        best = max(" ".join(g) for g, c in cnt.items() if c == cmax)
        row.append(cmax * (len(best) - (n - 1)))
    for n in _REP_DUP_NS:
        if m < n:
            row.append(None)
            continue
        grams = [tuple(toks[i:i + n]) for i in range(m - n + 1)]
        cnt = Counter(grams)
        covered = set()
        for i, g in enumerate(grams):
            if cnt[g] >= 2:
                covered.update(range(i, i + n))
        row.append(sum(lens[i] for i in covered))
    return tuple(row)


@register("text_gopher_repetition_rules", oracle=_rep_oracle())
def text_gopher_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher REPETITION battery (Rae et al. 2021, table A1 —
    the half of the ruleset ``text_gopher_quality_rules`` does not
    cover): per document, the character fraction in the single most
    frequent {2,3,4}-gram and the character fraction COVERED by any
    duplicated {5,8,10}-gram (coverage counts each token once, the
    DataTrove/Dolma overlap-aware reading), with the paper's
    thresholds folded into a combined ``keep``.

    Tie-break for the top n-gram: lexicographically greatest among the
    max-count grams — pinned identically in both engines.

    100 TB shape: per-document statistics need NO shuffle at all — the
    whole battery is one row-local Arrow `mapInPandas` kernel over the
    (doc_id, text) scan (the DataTrove/Dolma execution shape:
    embarrassingly parallel, scales with executors, never amplifies
    the corpus into a 6x gram-string stream).  Measured at sf0.1
    (noop sink): 1.2 s vs 6.2 s for the keyed (doc_id, n, gram)
    hash-aggregation formulation (r5's first rewrite, itself faster
    than the r4 two-shuffle form's 7.7 s and 7x faster than per-row
    Catalyst HOF filter-counts — lessons recorded in SCALING.md).
    The kernel emits INTEGER numerators only (top-gram chars,
    duplicated-coverage chars, nonspace chars); every division and
    rounding stays JVM-side so cross-engine float/rounding parity is
    untouched."""
    return apply_repetition_rules(load_table(spark, "documents", sf_dir))


def apply_repetition_rules(d: DataFrame) -> DataFrame:
    """The repetition battery as a reusable core over any (doc_id,
    text) frame — batch OR readStream: the kernel is a stateless
    row-local ``mapInPandas`` plus narrow projections, so it is
    streaming-capable unchanged (parity pinned in
    test_metrics_and_watermark.py, the apply_gopher_rules /
    apply_quality_classifier discipline)."""
    out_cols = _REP_OUT_COLS
    schema = ", ".join(f"{c} long" for c in out_cols)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = [_rep_features_row(doc_id, text)
                   for doc_id, text in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame(out, columns=out_cols).astype(
                {c: "Int64" for c in out_cols})

    # r10 (guide §2.2): the single-file scan serialized the 0.9 s
    # Python battery through ONE task; spread it first (stream-safe
    # no-op on the readStream twin, no-op at real scale)
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    out = ensure_parallelism(d.select("doc_id", "text")).mapInPandas(
        kernel, schema)
    cols = [F.col("doc_id"), F.col("nonspace").cast("long").alias("n_chars")]
    for n in GOPHER_TOP_NGRAM_MAX:
        cols.append(
            F.when(
                F.col(f"topc{n}").isNull(), F.lit(0.0)
            ).otherwise(
                F.round(
                    F.col(f"topc{n}").cast("double") / F.col("nonspace"), 6
                )
            ).alias(f"top{n}_frac")
        )
    for n in GOPHER_DUP_NGRAM_MAX:
        # a doc with grams but no duplicates still reports 0.0 (the
        # full-join row exists via top_chars when n in both sets, or
        # not at all when size(t) < n — both coalesce to 0.0)
        cols.append(
            F.coalesce(
                F.round(
                    F.col(f"covc{n}").cast("double") / F.col("nonspace"), 6
                ),
                F.lit(0.0),
            ).alias(f"dup{n}_frac")
        )
    feats = out.select(*cols)
    keep = None
    for n, t in GOPHER_TOP_NGRAM_MAX.items():
        cond = F.col(f"top{n}_frac") <= t
        keep = cond if keep is None else keep & cond
    for n, t in GOPHER_DUP_NGRAM_MAX.items():
        keep = keep & (F.col(f"dup{n}_frac") <= t)
    return feats.select("*", keep.alias("keep"))


DSIR_BUCKETS = 4096        # hashed n-gram feature buckets (paper uses 1e4)
DSIR_TARGET_SOURCE = "src1"  # stands in for the curated target domain
DSIR_TOP_K = 100


@register(
    "dsir_importance_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), big AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(t[u.i] || '|' || t[u.i + 1]), 1, 15))::BIGINT
               % {DSIR_BUCKETS} AS bucket
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) u
    ), tgt AS (
      SELECT bucket, count(*) AS ct FROM big
      WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket
    ), raw AS (
      SELECT bucket, count(*) AS cr FROM big
      WHERE source != '{DSIR_TARGET_SOURCE}' GROUP BY bucket
    ), tot AS (
      SELECT (SELECT coalesce(sum(ct), 0) FROM tgt) AS ct_tot,
             (SELECT coalesce(sum(cr), 0) FROM raw) AS cr_tot
    ), ratio AS (
      SELECT coalesce(t.bucket, r.bucket) AS bucket,
             round(ln(
               ((coalesce(t.ct, 0) + 1)::DOUBLE * (cr_tot + {DSIR_BUCKETS}))
               / ((coalesce(r.cr, 0) + 1)::DOUBLE * (ct_tot + {DSIR_BUCKETS}))
             ), 6) AS lr
      FROM tgt t FULL OUTER JOIN raw r ON t.bucket = r.bucket, tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
           round(sum(CAST(lr AS DECIMAL(18,6)))::DOUBLE, 6) AS log_ratio
    FROM big JOIN ratio USING (bucket)
    WHERE source != '{DSIR_TARGET_SOURCE}'
    GROUP BY doc_id
    ORDER BY log_ratio DESC, doc_id
    LIMIT {DSIR_TOP_K}
    """,
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    public): pick the raw-pool documents whose hashed-bigram feature
    distribution looks most like a curated target domain.  Both the
    target sample (source = '``DSIR_TARGET_SOURCE``') and the raw pool
    (every other source) are summarized as Laplace-smoothed bag-of-
    hashed-ngrams multinomials over ``DSIR_BUCKETS`` buckets; each pool
    document scores the sum over its bigram OCCURRENCES of
    ln(p_target(bucket) / p_raw(bucket)), i.e. the multinomial
    log-likelihood ratio; the top ``DSIR_TOP_K`` by that importance
    weight are selected (the deterministic top-k variant of the
    paper's Gumbel resample — for the stochastic version compose with
    weighted_sample_systematic).

    100 TB shape: ONE bigram explode beside the scan feeds both count
    aggregations and the scoring join; the log-ratio table is at most
    ``DSIR_BUCKETS`` rows and broadcast-joins onto the hashed stream, so
    the corpus is never shuffled against the model; per-doc scoring is
    a map-side-combinable groupBy and the final selection a
    TakeOrdered.  Parity: per-bucket log-ratios round to 6 dp with an
    identically-associated ln() argument in both engines, then sum as
    DECIMAL(18,6); totals and smoothing are exact integers."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", "source", F.split("text", " ").alias("t")) \
        .filter(F.size("t") >= 2)
    big = toks.select(
        "doc_id", "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat(
                    F.element_at("t", i), F.lit("|"),
                    F.element_at("t", i + 1),
                ),
            )
        ).alias("bg"),
    ).select(
        "doc_id", "source",
        (F.conv(F.substring(F.md5("bg"), 1, 15), 16, 10).cast("long")
         % DSIR_BUCKETS).alias("bucket"),
    )
    # r10 (guide §2.3/§2.4): ONE conditional aggregation computes the
    # target and raw counts per bucket — the old shape ran the corpus
    # bigram explode twice (once per filtered groupBy) and full-outer
    # sort-merge-joined the halves back together; a single groupBy
    # over the unfiltered stream produces the identical per-bucket
    # (ct, cr) table (buckets absent from one side count 0, exactly
    # what the old coalesce(NULL, 0) yielded) with one corpus pass
    # and no join.  The table is DSIR_BUCKETS-bounded, so the totals
    # derive from it for free.  NULL sources satisfied NEITHER old
    # filter (= and != are both NULL-false), so a bucket seen only in
    # NULL-source docs produced no row at all — drop those rows first
    # rather than letting them mint (0, 0) bucket rows.
    counts = big.filter(F.col("source").isNotNull()).groupBy("bucket").agg(
        F.count(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, 1)
        ).alias("ct"),
        F.count(
            F.when(F.col("source") != DSIR_TARGET_SOURCE, 1)
        ).alias("cr"),
    ).localCheckpoint()
    tot = counts.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).alias("ct_tot"),
        F.coalesce(F.sum("cr"), F.lit(0)).alias("cr_tot"),
    )
    ratio = (
        counts
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                     * (F.col("cr_tot") + DSIR_BUCKETS))
                    / ((F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                       * (F.col("ct_tot") + DSIR_BUCKETS))
                ), 6,
            ).alias("lr"),
        )
    )
    return (
        big.filter(F.col("source") != DSIR_TARGET_SOURCE)
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(
                F.sum(F.col("lr").cast("decimal(18,6)")).cast("double"), 6,
            ).alias("log_ratio"),
        )
        .orderBy(F.desc("log_ratio"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )


# --- Filter agreement matrix -------------------------------------------

AGREE_SHORT_TOKENS = 30    # reject: fewer tokens than this
AGREE_TTR = 0.55           # reject: type/token ratio below this
AGREE_TOP_SHARE = 0.10     # reject: most common token above this share
AGREE_STOP_SHARE = 0.03    # reject: stopword share below this
AGREE_STOPWORDS = ("the", "a", "of", "and", "is")

_AGREE_FILTERS = ("short", "ttr", "top", "stop")
_AGREE_PAIRS = [
    (a, b)
    for i, a in enumerate(_AGREE_FILTERS)
    for b in _AGREE_FILTERS[i + 1:]
]


def _agree_pair_sql(a: str, b: str) -> str:
    return f"""
      SELECT '{a}' AS filter_a, '{b}' AS filter_b,
             CAST(sum((r_{a} AND r_{b})::INT) AS BIGINT) AS n_both,
             CAST(sum((r_{a} AND NOT r_{b})::INT) AS BIGINT) AS n_only_a,
             CAST(sum((NOT r_{a} AND r_{b})::INT) AS BIGINT) AS n_only_b,
             CAST(sum((NOT r_{a} AND NOT r_{b})::INT) AS BIGINT) AS n_neither,
             round((sum((r_{a} = r_{b})::INT))::DOUBLE / count(*), 6)
               AS agree_rate,
             round(CASE WHEN sum((r_{a} OR r_{b})::INT) = 0 THEN 0.0
                   ELSE sum((r_{a} AND r_{b})::INT)::DOUBLE
                        / sum((r_{a} OR r_{b})::INT) END, 6)
               AS reject_jaccard
      FROM sig"""


@register(
    "corpus_filter_agreement",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.token
      FROM documents, LATERAL unnest(string_split(text, ' ')) u(token)
      WHERE u.token != ''
    ), tf AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
    ), per_doc AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             max(cnt) AS max_cnt,
             CAST(coalesce(sum(cnt) FILTER (WHERE token IN
               ({', '.join(f"'{w}'" for w in AGREE_STOPWORDS)})), 0)
               AS BIGINT) AS n_stop
      FROM tf GROUP BY doc_id
    ), sig AS (
      SELECT doc_id,
             n_tokens < {AGREE_SHORT_TOKENS} AS r_short,
             n_distinct::DOUBLE / n_tokens < {AGREE_TTR} AS r_ttr,
             max_cnt::DOUBLE / n_tokens > {AGREE_TOP_SHARE} AS r_top,
             n_stop::DOUBLE / n_tokens < {AGREE_STOP_SHARE} AS r_stop
      FROM per_doc
    )
    {' UNION ALL '.join(_agree_pair_sql(a, b) for a, b in _AGREE_PAIRS)}
    """,
)
def corpus_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement matrix between four independent quality
    filters (short-doc, type/token-ratio, top-token-share,
    stopword-share): for every filter pair, how many documents both
    reject, each alone rejects, neither rejects, plus agreement rate
    and rejection-set Jaccard.  This is the filter-calibration audit a
    corpus build runs before composing gates into a funnel — two
    filters with Jaccard ~1 are redundant, a filter agreeing with
    nothing is either orthogonal signal or broken.

    100 TB shape (r11, guide §2.4/§4.2 — the per-doc token counts
    never leave their row, so the old (doc_id, token) groupBy was a
    corpus-TOKEN-scale Exchange re-aggregating row-local data, the
    exact disease the r10 minhash-substrate rewrite removed): ONE
    row-local Arrow kernel (Counter per doc — integer outputs only,
    the repetition-battery discipline) replaces the token explode +
    two keyed aggregations; docs with zero nonempty tokens emit no row
    (the old per-doc agg had no group for them — parity pinned in
    tests).  The reject booleans and every division stay JVM-side,
    identical expressions to before, and the pair matrix is the same
    single global aggregate computing all {len(_AGREE_PAIRS)}x4
    counters map-side in one pass (no self-join on doc_id, no
    per-pair re-scan), then explodes the bounded 1-row result to the
    {len(_AGREE_PAIRS)}-row matrix driver-side-free via inline().
    Plan: Generate + 2 keyed HashAggregates + corpus-token Exchange →
    MapInPandas, zero wide Exchange before the 1-row global agg."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = load_table(spark, "documents", sf_dir)

    def _signals(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows = []
            for text in pdf["text"]:
                if text is None:
                    continue
                counts = Counter(t for t in text.split(" ") if t != "")
                if not counts:
                    continue
                rows.append((
                    sum(counts.values()),
                    len(counts),
                    max(counts.values()),
                    sum(counts[w] for w in AGREE_STOPWORDS),
                ))
            yield pd.DataFrame(
                rows, columns=["n_tokens", "n_distinct", "max_cnt", "n_stop"]
            ).astype("int64")

    per_doc = ensure_parallelism(d.select("text")).mapInPandas(
        _signals,
        "n_tokens long, n_distinct long, max_cnt long, n_stop long",
    )
    sig = per_doc.select(
        (F.col("n_tokens") < AGREE_SHORT_TOKENS).alias("r_short"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens") < AGREE_TTR)
        .alias("r_ttr"),
        (F.col("max_cnt").cast("double") / F.col("n_tokens") > AGREE_TOP_SHARE)
        .alias("r_top"),
        (F.col("n_stop").cast("double") / F.col("n_tokens") < AGREE_STOP_SHARE)
        .alias("r_stop"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for a, b in _AGREE_PAIRS:
        ra, rb = F.col(f"r_{a}"), F.col(f"r_{b}")
        aggs += [
            F.sum((ra & rb).cast("int")).cast("long").alias(f"both_{a}_{b}"),
            F.sum((ra & ~rb).cast("int")).cast("long").alias(f"oa_{a}_{b}"),
            F.sum((~ra & rb).cast("int")).cast("long").alias(f"ob_{a}_{b}"),
            F.sum((~ra & ~rb).cast("int")).cast("long").alias(f"nn_{a}_{b}"),
        ]
    one = sig.agg(*aggs)
    pair_structs = [
        F.struct(
            F.lit(a).alias("filter_a"), F.lit(b).alias("filter_b"),
            F.col(f"both_{a}_{b}").alias("n_both"),
            F.col(f"oa_{a}_{b}").alias("n_only_a"),
            F.col(f"ob_{a}_{b}").alias("n_only_b"),
            F.col(f"nn_{a}_{b}").alias("n_neither"),
            F.round(
                (F.col(f"both_{a}_{b}") + F.col(f"nn_{a}_{b}"))
                .cast("double") / F.col("n"), 6
            ).alias("agree_rate"),
            F.round(
                F.when(
                    F.col(f"both_{a}_{b}") + F.col(f"oa_{a}_{b}")
                    + F.col(f"ob_{a}_{b}") == 0,
                    F.lit(0.0),
                ).otherwise(
                    F.col(f"both_{a}_{b}").cast("double")
                    / (F.col(f"both_{a}_{b}") + F.col(f"oa_{a}_{b}")
                       + F.col(f"ob_{a}_{b}"))
                ), 6
            ).alias("reject_jaccard"),
        )
        for a, b in _AGREE_PAIRS
    ]
    return one.select(F.inline(F.array(*pair_structs)))
