r"""Training-data pipeline operators beyond the reference surface:
as-of joins, deterministic dataset splits, corpus vocabulary stats.

These are the ops a 100 TB pre-training corpus build runs daily; each is
expressed so Spark and the DuckDB oracle share exact arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.operators.dedup import (
    _SHINGLES_SQL,
    _minhash_pairs,
    _minhash_pairs_sql,
)
from mediawiki_to_notion_spark.operators.dedup_ext import (
    _rebuild_excising_spans,
    _token_windows,
    _windows_sql,
)
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.sources.tables import load_table


@register(
    "asof_join_prior_signup",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END AS signup_ms
      FROM events
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(signup_ms IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_signup_ms
      FROM tagged
    )
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, last_signup_ms,
           epoch_ms(ts) - last_signup_ms AS ms_since_signup
    FROM filled
    WHERE event_type = 'purchase'
    """,
)
def asof_join_prior_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase matched to the user's most recent prior
    signup.  Spark has no native ASOF operator; the idiomatic plan is a
    union-free `last_value(IGNORE NULLS)` over the event-time order —
    one shuffle on user_id, no range join, no point lookups.  (DuckDB
    could use its native ASOF JOIN; the oracle uses the identical window
    formulation so semantics are pinned, including ties.)"""
    e = load_table(spark, "events", sf_dir)
    tagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "signup", F.unix_millis("ts")).alias("signup_ms"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    filled = tagged.withColumn(
        "last_signup_ms", F.last("signup_ms", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "last_signup_ms",
        (F.unix_millis("ts") - F.col("last_signup_ms")).alias("ms_since_signup"),
    )


@register(
    "dataset_split_assignment",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM hashed
    """,
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/validation/test split: hash-bucket on
    a salted document id.  Content-addressed, so the split is stable
    under re-partitioning, re-runs, and incremental corpus growth —
    unlike randomSplit, which depends on partition layout."""
    d = load_table(spark, "documents", sf_dir)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 15),
            16, 10,
        ).cast("long") % 100
    )
    return d.select(
        "doc_id", "lang",
        F.when(bucket < 80, "train")
         .when(bucket < 90, "validation")
         .otherwise("test").alias("split"),
    )


@register(
    "token_document_frequency",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), per_doc AS (
      SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> ''
      GROUP BY doc_id, token
    )
    SELECT token,
           count(*) AS doc_freq,
           CAST(SUM(CAST(tf AS DECIMAL(18,0))) AS BIGINT) AS corpus_freq,
           max(tf) AS max_tf
    FROM per_doc GROUP BY token
    """,
)
def token_document_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (document frequency / corpus
    frequency / max term frequency) — the IDF numerator table.  Two
    partial-aggregated shuffles; counts only, so exact at any scale."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token")) \
        .filter(F.col("token") != "")
    per_doc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    return per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("tf").alias("corpus_freq"),
        F.max("tf").alias("max_tf"),
    )


DECON_BENCHMARK_DOCS = 50      # doc_id < 50 plays the held-out eval suite
PACK_WINDOW_TOKENS = 512       # context-window size for sequence packing


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ), rawsh AS (
      SELECT DISTINCT doc_id,
             t[u.i+1] || ' ' || t[u.i+2] || ' ' || t[u.i+3] AS shingle
      FROM toks, LATERAL (SELECT unnest(range(0, len(t) - 2)) AS i) u
    ), sh AS (
      -- same 60-bit md5-prefix ids the Spark side joins on
      -- (dedup._SHINGLES_SQL pattern): both engines must see the same
      -- collisions, or a colliding pair would hash-mismatch the gate
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
      FROM rawsh
    ), bench AS (
      SELECT DISTINCT h FROM sh WHERE doc_id < {DECON_BENCHMARK_DOCS}
    ), corpus AS (
      SELECT doc_id, count(*) AS n_shingles,
             count(*) FILTER (h IN (SELECT h FROM bench))
               AS n_contaminated
      FROM sh WHERE doc_id >= {DECON_BENCHMARK_DOCS}
      GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, n_contaminated,
           n_contaminated > 0 AS is_contaminated
    FROM corpus
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word-trigram with a held-out eval set (docs with ``doc_id <
    DECON_BENCHMARK_DOCS`` stand in for the benchmark suite).

    100 TB shape: the benchmark shingle set is small and broadcasts; the
    corpus side streams through a broadcast LEFT join on the 60-bit
    shingle hash and aggregates per document — one shuffle (the final
    groupBy), no all-pairs anything.  This is the n-gram-overlap
    decontamination step every pretraining corpus runs against its eval
    suites (cf. GPT-3 appendix C / PaLM dedup methodology)."""
    from mediawiki_to_notion_spark.operators.dedup import _hashed_shingles

    d = load_table(spark, "documents", sf_dir)
    sh = _hashed_shingles(d)
    bench = (
        sh.filter(F.col("doc_id") < DECON_BENCHMARK_DOCS)
        .select("h").distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.filter(F.col("doc_id") >= DECON_BENCHMARK_DOCS)
    return (
        corpus.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
        .select(
            "doc_id", "n_shingles", "n_contaminated",
            (F.col("n_contaminated") > 0).alias("is_contaminated"),
        )
    )


N_PACK_PARTITIONS = 8  # fixed so the range partitioning is reproducible


@register(
    "pack_sequences_greedy",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, lang, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM sized
    )
    -- both derived columns cast to BIGINT: DuckDB's SUM(BIGINT) window
    -- yields HUGEINT, and an uncast HUGEINT // k output column arrives
    -- as float64 on the pandas/Arrow fetch path the driver hashes —
    -- exactly the r2 hash_match:false on this query (fetchall-based
    -- harnesses normalize it away; oracle.compare now checks dtypes)
    SELECT doc_id, lang, n_tokens,
           CAST(cum_before // {PACK_WINDOW_TOKENS} AS BIGINT) AS pack_id,
           CAST(cum_before % {PACK_WINDOW_TOKENS} AS BIGINT) AS pack_offset
    FROM cum
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents are laid end-to-end in
    deterministic (doc_id) order and cut into ``PACK_WINDOW_TOKENS``-token
    context windows — `pack_id` is the window each document starts in,
    `pack_offset` its position inside it (the streaming concat-and-chunk
    packing used to build pretraining batches).

    The global prefix sum runs as a partitioned two-pass (the
    `dense_global_ids` pattern, JVM-side throughout):

    1. repartitionByRange(doc_id): rows land in doc_id-ordered ranges,
       pid i holding strictly smaller doc_ids than pid i+1; the frame is
       localCheckpoint'd so the offsets subtree and the main pass share
       ONE sampling of the range boundaries (RangePartitioner re-samples
       per execution — divergent boundaries would double-count tokens);
    2. in-range running totals via a window partitioned by pid — each
       window partition is one range bucket, never the corpus;
    3. per-range token totals (``N_PACK_PARTITIONS`` rows) become
       cumulative offsets via a tiny window, broadcast back;
       cum_before = range offset + in-range running total.

    A bare `W.orderBy(doc_id)` window — the oracle's formulation — would
    funnel the corpus through ONE task at 100 TB; this plan's wide ops
    are the range exchange, a pid hash exchange, and a broadcast of
    ``N_PACK_PARTITIONS`` offset rows."""
    d = load_table(spark, "documents", sf_dir)
    sized = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    ranged = (
        sized.repartitionByRange(N_PACK_PARTITIONS, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local = (
        W.partitionBy("pid").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local_cum = ranged.withColumn(
        "local_before", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    totals = ranged.groupBy("pid").agg(F.sum("n_tokens").alias("t"))
    offsets = totals.select(
        "pid", (F.sum("t").over(W.orderBy("pid")) - F.col("t")).alias("offset")
    )
    cum = local_cum.join(F.broadcast(offsets), "pid").withColumn(
        "cum_before", F.col("offset") + F.col("local_before")
    )
    return cum.select(
        "doc_id", "lang", "n_tokens",
        F.expr(f"cum_before div {PACK_WINDOW_TOKENS}").alias("pack_id"),
        (F.col("cum_before") % PACK_WINDOW_TOKENS).alias("pack_offset"),
    )


@register(
    "corpus_mixture_sample",
    oracle="""
    WITH rated AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN source IN ('src0','src1','src2','src3') THEN 100
                  WHEN source IN ('src4','src5','src6','src7') THEN 50
                  ELSE 10 END AS keep_pct,
             ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, source, n_chars, keep_pct
    FROM rated WHERE bucket < keep_pct
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture sampling: each source is kept at a
    configured rate (here 100 % / 50 % / 10 % tiers) by hashing a salted
    doc id into a percent bucket — the corpus-reweighting step that sets
    a pretraining mix.

    Unlike `sampleBy`, the decision is content-addressed: stable across
    re-runs, re-partitioning, and incremental growth, and it needs no
    driver-side seed bookkeeping.  Pure narrow ops — zero shuffles; the
    filter runs beside the scan."""
    d = load_table(spark, "documents", sf_dir)
    keep_pct = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 100)
        .when(F.col("source").isin("src4", "src5", "src6", "src7"), 50)
        .otherwise(10)
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id"))), 1, 15),
            16, 10,
        ).cast("long") % 100
    )
    return (
        d.select("doc_id", "source", "n_chars", keep_pct.alias("keep_pct"),
                 bucket.alias("bucket"))
        .filter(F.col("bucket") < F.col("keep_pct"))
        .drop("bucket")
    )


N_SHARDS = 8  # training output shards (thousands at real scale)


def shard_assign(docs: DataFrame) -> DataFrame:
    """Content-addressed shard id + stable intra-shard position for any
    (doc_id, text) frame — THE shard-assignment definition, shared by
    training_shard_assignment and corpus_prepare_pipeline so the salt,
    shard count, and ordering can never drift apart."""
    from pyspark.sql import Window as W

    hh = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id"))), 1, 15),
            16, 10,
        ).cast("long")
    )
    base = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        hh.alias("hh"),
        (hh % N_SHARDS).alias("shard_id"),
    )
    w = W.partitionBy("shard_id").orderBy("hh", "doc_id")
    return base.select(
        "doc_id", "n_tokens", "shard_id",
        F.row_number().over(w).alias("pos_in_shard"),
    )


def shard_assign_sql(source: str) -> str:
    """DuckDB twin of :func:`shard_assign` over ``source`` (a table or
    CTE with doc_id + text)."""
    return f"""
    SELECT doc_id, n_tokens,
           hh % {N_SHARDS} AS shard_id,
           row_number() OVER (
             PARTITION BY hh % {N_SHARDS} ORDER BY hh, doc_id
           ) AS pos_in_shard
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             ('0x' || substr(md5('shard:' || doc_id), 1, 15))::BIGINT AS hh
      FROM {source}
    )
    """


@register("training_shard_assignment", oracle=shard_assign_sql("documents"))
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global shuffle-and-shard for training output: every document gets
    a content-addressed pseudo-random shard and a position inside it —
    the "shuffle the corpus, write fixed shards" step before training
    (reference workflow parity: the dump→pages explode feeds exactly
    this kind of deterministic re-partitioning for downstream replay).

    The shard id and intra-shard order both derive from a salted md5 of
    the doc id, so the permutation is stable across re-runs, cluster
    sizes, and input partitionings — no seed bookkeeping, no
    `orderBy(rand())`.  Scale shape: one hash-partition shuffle on
    shard_id (the write partitioning you want anyway) and a per-shard
    sort for the position column; with shards sized to a few hundred MB
    each, the sort is partition-local.  No global sort, no driver
    state."""
    return shard_assign(load_table(spark, "documents", sf_dir))


STRATUM_CAP = 20  # exact per-stratum sample size


@register(
    "stratified_sample_exact",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, lang, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5('strat:' || doc_id), 1, 15))::BIGINT,
                        doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, lang, n_chars, rn AS sample_rank
    FROM ranked WHERE rn <= {STRATUM_CAP}
    """,
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling: precisely ``STRATUM_CAP`` documents
    per source, chosen by a salted content-addressed hash order — the
    "N examples per domain" selection step for eval-set construction
    and balanced fine-tuning mixes.  Unlike `sampleBy` (probabilistic,
    approximate counts), the result is exact, stable across re-runs and
    re-partitionings, and needs no seed bookkeeping.

    Scale shape: one hash-partition shuffle keyed by the stratum;
    WindowGroupLimit prunes each partition to the top ``STRATUM_CAP``
    rows *before* the exchange, so the shuffle moves O(strata x cap)
    rows, not the corpus."""
    d = load_table(spark, "documents", sf_dir)
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("strat:"), F.col("doc_id"))), 1, 15),
            16, 10,
        ).cast("long")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        d.select("doc_id", "source", "lang", "n_chars")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= STRATUM_CAP)
    )


@register("corpus_prepare_pipeline", oracle=None)  # assembled in load_all
def corpus_prepare_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining-corpus preparation as ONE declarative
    plan: quality-filter (C4-style funnel) ∩ near-dup survivorship
    (MinHash-LSH → connected components → keep-best), then
    content-addressed shard assignment of the surviving documents —
    i.e. the composition `filter → dedup → shuffle-shard` that a real
    100 TB data pipeline runs nightly, built entirely from this repo's
    registered operators so every stage shares the plan library the
    gate already checks.

    Scale shape: the funnel is a narrow pass; survivorship's CC loop is
    sized by the duplicate subgraph; the kept-set intersection is a
    semi-join on doc_id; the shard window moves only surviving rows.
    Nothing is recomputed per stage — each operand is the registered
    query's own plan."""
    from mediawiki_to_notion_spark.operators.corpus_quality import (
        corpus_filter_funnel,
    )
    from mediawiki_to_notion_spark.operators.dedup import dedup_survivorship

    funnel_keep = (
        corpus_filter_funnel(spark, sf_dir).filter("keep").select("doc_id")
    )
    surv_keep = (
        dedup_survivorship(spark, sf_dir).filter("keep").select("doc_id")
    )
    d = load_table(spark, "documents", sf_dir)
    kept = (
        d.join(funnel_keep, "doc_id", "left_semi")
        .join(surv_keep, "doc_id", "left_semi")
    )
    return shard_assign(kept)


def _register_pipeline_oracle() -> None:
    """Called from load_all(): composes the funnel and survivorship
    oracles (the latter is WITH RECURSIVE, nested as a derived table)."""
    from mediawiki_to_notion_spark.operators.registry import ORACLES

    def sub(name: str) -> str:
        return ORACLES[name].strip().rstrip(";")

    ORACLES["corpus_prepare_pipeline"] = f"""
    WITH fk AS (
      SELECT doc_id FROM ({sub("corpus_filter_funnel")}) f WHERE f.keep
    ), sk AS (
      SELECT doc_id FROM ({sub("dedup_survivorship")}) s WHERE s.keep
    ), kept AS (
      SELECT d.doc_id, d.text
      FROM documents d
      WHERE d.doc_id IN (SELECT doc_id FROM fk)
        AND d.doc_id IN (SELECT doc_id FROM sk)
    )
    {shard_assign_sql("kept")}
    """


@register(
    "tokenize_to_ids",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.i AS pos, t[u.i+1] AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           LATERAL (SELECT unnest(range(0, len(t))) AS i) u
      WHERE t[u.i+1] != ''
    ), counts AS (
      SELECT token, count(*) AS c FROM tok GROUP BY token
    ), vocab AS (
      SELECT token, row_number() OVER (ORDER BY c DESC, token) - 1 AS id
      FROM counts
    )
    SELECT tok.doc_id, count(*) AS n_tokens,
           string_agg(v.id, ' ' ORDER BY tok.pos) AS token_ids
    FROM tok JOIN vocab v ON tok.token = v.token
    GROUP BY tok.doc_id
    """,
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization to dense ids: build a frequency-ordered
    vocabulary (id 0 = most common token, deterministic tie order) and
    re-emit every document as its ordered id sequence — the final
    "text → token_ids" materialization a training job consumes (feeds
    pack_sequences_greedy / write_training_shards).  The id sequence is
    emitted as a space-joined string: variable-length sequences
    serialize to one scalar column (Arrow list columns are unhashable
    on the driver's pandas canonicalizer — CORRECTNESS_r03), and a
    delimited string is also what a tokenized-shard TEXT column looks
    like on disk.

    Scale shape: the vocabulary is one partial-agg shuffle plus a
    single-partition rank (the vocabulary is vocab-sized, not
    corpus-sized — the same single-reducer step every tokenizer trainer
    has), broadcast back onto the exploded token stream; documents
    reassemble with one groupBy(doc_id) using the sort-free
    array_sort(struct(pos,id)) trick, so total cost is two shuffles
    end-to-end."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism
    from pyspark.sql import Window as W

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # long ids: DuckDB's row_number() is BIGINT, so its list(id) is
    # BIGINT[] — element widths must match at the Arrow layer (scalar
    # ints are driver-normalized; nested element types are not proven
    # to be)
    vocab = counts.select(
        "token",
        (F.row_number().over(W.orderBy(F.desc("c"), F.asc("token"))) - 1)
        .cast("long").alias("id"),
    )
    return (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
                " ",
            ).alias("token_ids"),
        )
    )


SPAN_EVERY = 7   # candidate span start every 7 tokens
SPAN_LEN = 2     # tokens masked per selected span
SPAN_MOD = 5     # select span when (doc_id + span_idx) % SPAN_MOD == 0


@register(
    "span_corruption_t5",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {SPAN_EVERY}
    ),
    spans AS (
      SELECT doc_id, t, u.k AS span_idx, u.k * {SPAN_EVERY} AS start0
      FROM toks, LATERAL (
        SELECT unnest(range(0, (len(t) - {SPAN_LEN}) // {SPAN_EVERY} + 1)) AS k
      ) u
      WHERE (doc_id + u.k) % {SPAN_MOD} = 0
    ),
    masked AS (
      SELECT doc_id, span_idx, start0,
             array_to_string(t[start0+1 : start0+{SPAN_LEN}], ' ') AS target
      FROM spans
    )
    SELECT doc_id,
           count(*) AS n_spans,
           -- BIGINT cast: SUM over INTEGER is HUGEINT → float64 on the
           -- driver's pandas hash path (pack_sequences_greedy r2 class)
           CAST(sum({SPAN_LEN}) AS BIGINT) AS n_masked_tokens,
           string_agg('<extra_id_' || span_idx || '> ' || target,
                      ' ' ORDER BY span_idx) AS targets
    FROM masked GROUP BY doc_id
    """,
)
def span_corruption_t5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2 span-corruption preprocessing: deterministic spans of
    ``SPAN_LEN`` tokens (candidate starts every ``SPAN_EVERY`` tokens,
    selected when (doc_id + span_idx) % ``SPAN_MOD`` == 0 — the
    hash-free stand-in for the sampled mask) become sentinel targets
    '<extra_id_k> tokens...' per document, the denoising-objective
    label stream.  Real pipelines sample the mask; the selection rule
    here is pure integer arithmetic so both engines mask identical
    spans and the whole transform is value-checked.

    100 TB shape: span generation is a bounded per-row explode (one
    candidate per ``SPAN_EVERY`` tokens); target assembly is one doc_id
    aggregate with an in-group sort — no corpus-wide ordering."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= SPAN_EVERY
    )
    # integer floor-div, NOT double division + cast (the double path
    # rounds — see sources/tables.py's microsecond-off warning)
    n_spans = F.expr(f"(size(t) - {SPAN_LEN}) div {SPAN_EVERY}")
    spans = toks.select(
        "doc_id", "t",
        F.explode(
            F.sequence(F.lit(0), n_spans.cast("int"))
        ).alias("span_idx"),
    ).filter((F.col("doc_id") + F.col("span_idx")) % SPAN_MOD == 0)
    masked = spans.select(
        "doc_id", "span_idx",
        F.concat_ws(
            " ",
            F.slice(
                "t", F.col("span_idx") * SPAN_EVERY + F.lit(1), F.lit(SPAN_LEN)
            ),
        ).alias("target"),
    )
    return masked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.lit(SPAN_LEN)).alias("n_masked_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("span_idx").alias("span_idx"),
                            F.concat(
                                F.lit("<extra_id_"),
                                F.col("span_idx").cast("string"),
                                F.lit("> "),
                                F.col("target"),
                            ).alias("s"),
                        )
                    )
                ),
                lambda x: x["s"],
            ),
        ).alias("targets"),
    )


FIM_MIN_TOKENS = 8  # docs shorter than this stay PSM-untransformed


@register(
    "fim_transform",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), cut AS (
      SELECT doc_id, t, len(t) AS n,
             1 + doc_id % (len(t) - 2) AS a
      FROM toks WHERE len(t) >= {FIM_MIN_TOKENS}
    ), cut2 AS (
      SELECT doc_id, t, n, a,
             a + 1 + (doc_id * 7) % (n - a - 1) AS b
      FROM cut
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(a AS BIGINT) AS prefix_len,
           CAST(b - a AS BIGINT) AS middle_len,
           '<PRE> ' || array_to_string(t[1:a], ' ')
             || ' <SUF> ' || array_to_string(t[b+1:n], ' ')
             || ' <MID> ' || array_to_string(t[a+1:b], ' ') AS fim_text
    FROM cut2
    """,
)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle preprocessing (Bavarian et al. 2022 — the
    standard code/infilling-model training transform): each document
    splits at two deterministic doc_id-derived cut points into
    (prefix, middle, suffix) and re-serializes in PSM order with
    sentinel tokens, so the model learns to generate the middle given
    both sides.  Cut points are exact integer arithmetic (a = 1 +
    id % (n-2); b = a + 1 + 7·id % (n-a-1)), identical in both
    engines; documents under ``FIM_MIN_TOKENS`` tokens pass through
    untransformed (no row here — the pipeline unions them unchanged).

    100 TB shape: one narrow codegen pass — array slices and concats
    beside the scan, zero shuffles, zero Python."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t")) \
        .filter(F.size("t") >= FIM_MIN_TOKENS)
    n = F.size("t")
    cut = toks.select(
        "doc_id", "t", n.alias("n"),
        (F.lit(1) + F.col("doc_id") % (n - 2)).cast("int").alias("a"),
    )
    cut2 = cut.select(
        "doc_id", "t", "n", "a",
        (F.col("a") + 1
         + (F.col("doc_id") * 7) % (F.col("n") - F.col("a") - 1))
        .cast("int").alias("b"),
    )
    return cut2.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("a").cast("long").alias("prefix_len"),
        (F.col("b") - F.col("a")).cast("long").alias("middle_len"),
        F.concat(
            F.lit("<PRE> "),
            F.concat_ws(" ", F.slice("t", 1, F.col("a"))),
            F.lit(" <SUF> "),
            F.concat_ws(
                " ", F.slice("t", F.col("b") + 1, F.col("n") - F.col("b"))
            ),
            F.lit(" <MID> "),
            F.concat_ws(
                " ", F.slice("t", F.col("a") + 1, F.col("b") - F.col("a"))
            ),
        ).alias("fim_text"),
    )


DECON_CUT_W = 3   # tokens per cut window (the eval-overlap trigram unit)


def _decon_cut_oracle() -> str:
    return f"""{_windows_sql(DECON_CUT_W)}, bench AS (
      SELECT DISTINCT h FROM win WHERE doc_id < {DECON_BENCHMARK_DOCS}
    ), hits AS (
      SELECT w.doc_id, w.p
      FROM win w JOIN bench USING (h)
      WHERE w.doc_id >= {DECON_BENCHMARK_DOCS}
    ), cut_toks AS (
      SELECT DISTINCT doc_id, u.tok_i
      FROM hits, LATERAL (
        SELECT unnest(range(p, p + {DECON_CUT_W})) AS tok_i) u
    ), stream AS (
      SELECT t.doc_id, len(t.t) AS n_tokens, u.i AS tok_i,
             t.t[u.i + 1] AS tok
      FROM toks t, LATERAL (SELECT unnest(range(0, len(t.t))) AS i) u
      WHERE t.doc_id >= {DECON_BENCHMARK_DOCS}
    )
    SELECT s.doc_id, s.n_tokens,
           CAST(count(c.tok_i) AS BIGINT) AS n_cut_tokens,
           CAST(s.n_tokens - count(c.tok_i) AS BIGINT) AS n_kept_tokens,
           coalesce(string_agg(
             CASE WHEN c.tok_i IS NULL THEN s.tok END, ' '
             ORDER BY s.tok_i), '') AS clean_text
    FROM stream s
    LEFT JOIN cut_toks c ON c.doc_id = s.doc_id AND c.tok_i = s.tok_i
    GROUP BY s.doc_id, s.n_tokens
    """


@register("decontaminate_span_cut", oracle=_decon_cut_oracle())
def decontaminate_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level benchmark decontamination — one step past
    decontaminate_ngram_overlap's document FLAGGING: every corpus
    occurrence of a ``DECON_CUT_W``-token window that also appears in
    the held-out eval suite (docs doc_id < ``DECON_BENCHMARK_DOCS``) is
    cut, and each document is rebuilt from its surviving tokens.
    Cutting the contaminated spans instead of dropping whole documents
    preserves the rest of an otherwise-clean page — the surgical
    variant Lee et al. 2021 argue for, applied to eval overlap.

    100 TB shape: the windows come from the exact-span family's
    ``dedup_ext._token_windows``; the benchmark window-hash set is
    eval-suite-sized and BROADCASTS; corpus windows join it on the
    60-bit hash (8-byte keys, no all-pairs anything); matched windows
    become per-doc cut spans for ``dedup_ext._rebuild_excising_spans``
    — no token-level shuffle."""
    toks, win = _token_windows(spark, sf_dir, DECON_CUT_W)
    bench = (
        win.filter(F.col("doc_id") < DECON_BENCHMARK_DOCS)
        .select("h").distinct()
    )
    hits = (
        win.filter(F.col("doc_id") >= DECON_BENCHMARK_DOCS)
        .join(F.broadcast(bench), "h")
    )
    spans = hits.select(
        "doc_id",
        F.col("p").alias("s"),
        (F.col("p") + DECON_CUT_W - 1).alias("e"),
    )
    return _rebuild_excising_spans(
        toks.filter(F.col("doc_id") >= DECON_BENCHMARK_DOCS), spans
    )


CHUNK_W = 64       # tokens per chunk (RAG-typical window)
CHUNK_STRIDE = 48  # tokens between chunk starts (64-48 = 16 overlap)


@register(
    "chunk_documents_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    chunks AS (
      SELECT doc_id, u.i AS chunk_idx,
             u.i * {CHUNK_STRIDE} AS start_tok,
             LEAST(u.i * {CHUNK_STRIDE} + {CHUNK_W}, len(t)) - 1 AS end_tok,
             array_to_string(
               t[u.i * {CHUNK_STRIDE} + 1 :
                 u.i * {CHUNK_STRIDE} + {CHUNK_W}], ' ') AS chunk_text
      FROM toks, LATERAL (
        SELECT unnest(range(0,
          GREATEST(1, CAST(ceil((len(t) - {CHUNK_W})
                                / {CHUNK_STRIDE}.0) AS BIGINT) + 1))) AS i
      ) u
      WHERE u.i = 0 OR u.i * {CHUNK_STRIDE} < len(t)
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(end_tok AS BIGINT) AS end_tok,
           CAST(end_tok - start_tok + 1 AS BIGINT) AS n_tokens,
           chunk_text
    FROM chunks
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/RAG indexing
    and long-document pre-processing primitive: each document explodes
    into ``CHUNK_W``-token chunks whose starts advance by ``CHUNK_STRIDE``
    tokens ({CHUNK_W - CHUNK_STRIDE}-token overlap so no phrase is
    split across a hard boundary), with exact token-span coordinates
    per chunk for provenance joins back to the source.

    Chunk-count rule (both engines, exact integer arithmetic): a doc of
    n tokens yields max(1, ceil((n - ``CHUNK_W``) / ``CHUNK_STRIDE``) + 1)
    chunks — every token is covered, the last chunk may be short, and a
    doc shorter than one window is exactly one chunk.

    100 TB shape: one narrow codegen pass — split, a bounded
    per-document sequence explode (fan-out n/``CHUNK_STRIDE``, data
    volume ~1.33x the corpus at this W/S), slices of the SAME token
    array; no shuffle at all, so it composes with whatever
    partitioning the downstream (embedding, shard write) needs."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n = F.size("t")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - CHUNK_W) / float(CHUNK_STRIDE)).cast("long") + 1,
    )
    chunks = toks.select(
        "doc_id",
        n.alias("n_tok"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        F.col("t"),
    ).filter(
        (F.col("chunk_idx") == 0)
        | (F.col("chunk_idx") * CHUNK_STRIDE < F.col("n_tok"))
    )
    start = F.col("chunk_idx").cast("long") * CHUNK_STRIDE
    end = F.least(start + CHUNK_W, F.col("n_tok").cast("long")) - 1
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_tok"),
        end.alias("end_tok"),
        (end - start + 1).alias("n_tokens"),
        F.concat_ws(
            " ", F.slice("t", (start + 1).cast("int"), CHUNK_W)
        ).alias("chunk_text"),
    )


DECON_FUZZY_JACCARD = 0.8  # MinHash-band design point (dedup.JACCARD_THRESHOLD)


@register(
    "decontaminate_fuzzy_minhash",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_minhash_pairs_sql(f"a.doc_id < {DECON_BENCHMARK_DOCS}"
                        f" AND b.doc_id >= {DECON_BENCHMARK_DOCS}",
                        DECON_FUZZY_JACCARD)}
    SELECT doc_b AS doc_id,
           CAST(count(*) AS BIGINT) AS n_eval_matches,
           max(round(jaccard, 6)) AS max_jaccard_r
    FROM dup GROUP BY doc_b
    """,
)
def decontaminate_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY eval-set decontamination — the near-duplicate member of
    the family (`decontaminate_ngram_overlap` flags exact n-gram hits,
    `decontaminate_span_cut` excises them; paraphrased or
    lightly-edited eval leakage escapes both): corpus documents whose
    shingle-set Jaccard against ANY held-out eval document (doc_id <
    ``DECON_BENCHMARK_DOCS``, the family's convention) reaches
    ``DECON_FUZZY_JACCARD``, found via MinHash band blocking — the
    candidate join touches only (band, signature) collisions BETWEEN
    the eval side and the corpus side, never eval x corpus pairs — and
    verified with exact Jaccard on candidates only.

    100 TB shape: identical to dedup_minhash_incremental's
    arrival-vs-index discipline with the eval suite as the (tiny)
    index side (see dedup._minhash_pairs).  Output: one row per
    CONTAMINATED corpus doc (match count + worst Jaccard), the drop
    list a training run subtracts."""
    d = load_table(spark, "documents", sf_dir)
    flagged = _minhash_pairs(
        d, (F.col("a.doc_id") < DECON_BENCHMARK_DOCS)
        & (F.col("b.doc_id") >= DECON_BENCHMARK_DOCS), DECON_FUZZY_JACCARD)
    return flagged.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max(F.round(F.col("jaccard"), 6)).alias("max_jaccard_r"),
    )


BATCH_TOKEN_BUDGET = 4096   # tokens per padded batch (budget = B x L)
MIN_BUCKET_LEN = 16         # shortest padded length a batch is built at


@register(
    "training_length_bucket_batching",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             greatest({MIN_BUCKET_LEN},
                      CAST(power(2, length(bin(greatest(n_tokens - 1, 1))))
                           AS BIGINT)) AS bucket_len
      FROM m
    ), g AS (
      SELECT bucket_len, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM b GROUP BY bucket_len
    ), c AS (
      SELECT *, greatest(1, {BATCH_TOKEN_BUDGET} // bucket_len)
                  AS batch_capacity
      FROM g
    )
    SELECT bucket_len, n_docs, total_tokens, batch_capacity,
           CAST(ceil(n_docs::DOUBLE / batch_capacity) AS BIGINT) AS n_batches,
           round(1.0 - total_tokens::DOUBLE / (n_docs * bucket_len), 6)
             AS pad_waste
    FROM c
    """,
)
def training_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching plan — the padding-efficiency
    step between tokenization and batch assembly: documents group into
    power-of-two token-length buckets (floor ``MIN_BUCKET_LEN``), each
    bucket is batched at capacity floor(``BATCH_TOKEN_BUDGET``/bucket_len)
    docs so every batch pads to the BUCKET ceiling instead of the
    corpus maximum, and the query reports per-bucket doc/token counts,
    batch capacity/count, and the realized pad-waste ratio.

    The bucket edge is exact integer arithmetic in both engines —
    2^bitlength(n-1) via length(bin(n-1)), never log2 floats (a log2
    double one ulp under an exact power of two would misbucket every
    doc sitting exactly on an edge).  Oversized docs (> budget) clamp
    to capacity 1: one doc per batch, the gradient-accumulation case.

    100 TB shape: one narrow codegen pass to the bucket key, one
    map-side-partial groupBy on a ~dozen-value key — output is bounded
    by the number of buckets (~log2 of max doc length), so the result
    is a broadcast-sized batching PLAN the shard writer joins back
    against the corpus, not a data-sized intermediate."""
    d = load_table(spark, "documents", sf_dir)
    n = F.size(F.split("text", " "))
    bucket = F.greatest(
        F.lit(MIN_BUCKET_LEN),
        F.pow(F.lit(2), F.length(F.bin(F.greatest(n - 1, F.lit(1)))))
         .cast("long"),
    )
    g = (
        d.select(n.alias("n_tokens"), bucket.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    cap = F.greatest(
        F.lit(1),
        F.floor(F.lit(BATCH_TOKEN_BUDGET) / F.col("bucket_len")).cast("long"),
    )
    c = g.withColumn("batch_capacity", cap)
    return c.select(
        "bucket_len", "n_docs", "total_tokens", "batch_capacity",
        F.ceil(F.col("n_docs").cast("double") / F.col("batch_capacity"))
         .cast("long").alias("n_batches"),
        F.round(
            F.lit(1.0)
            - F.col("total_tokens").cast("double")
            / (F.col("n_docs") * F.col("bucket_len")),
            6,
        ).alias("pad_waste"),
    )


@register(
    "training_curriculum_interleave",
    oracle="""
    WITH m AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ), waved AS (
      SELECT doc_id, source, n_tokens,
             row_number() OVER (
               PARTITION BY source ORDER BY n_tokens, doc_id
             ) - 1 AS wave
      FROM m
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(wave AS BIGINT) AS wave,
           CAST(row_number() OVER (
             PARTITION BY wave ORDER BY source NULLS FIRST, doc_id
           ) - 1 AS BIGINT) AS pos_in_wave
    FROM waved
    """,
)
def training_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum ordering with source interleave: documents
    train easy-first (shorter sequences first — the sequence-length
    curriculum), but a naive global difficulty sort would feed long
    runs of a single source (sources differ in length distribution —
    source collapse within a curriculum phase).  So the order is
    two-level: WAVE = the doc's difficulty rank within its own source,
    POS_IN_WAVE = deterministic position among that wave's one-doc-per-
    source members — consuming (wave, pos_in_wave) ascending yields
    easy-first AND round-robin across sources.

    100 TB shape: deliberately NO global row_number (a global sort is
    the training_epoch_shuffle anti-pattern) — the wave rank windows
    over source partitions, the position windows over wave partitions
    (bounded by the source count), and shard writers consume
    (wave, pos_in_wave) with shard-local sorts exactly like the epoch
    shuffle consumes its md5 keys.

    NULL discipline (null-injection sweep finding): NULL-text docs are
    excluded in both engines (nothing to train on), and the pos window
    orders source NULLS FIRST explicitly — Spark defaults ascending
    NULLS FIRST, DuckDB NULLS LAST, the silent cross-engine divergence
    class the sweep exists to catch."""
    d = load_table(spark, "documents", sf_dir)
    m = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    waved = m.withColumn(
        "wave",
        F.row_number().over(
            W.partitionBy("source").orderBy("n_tokens", "doc_id")
        ) - 1,
    )
    return waved.select(
        "doc_id", "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("wave").cast("long").alias("wave"),
        (
            F.row_number().over(W.partitionBy("wave").orderBy("source", "doc_id"))
            - 1
        ).cast("long").alias("pos_in_wave"),
    )


# Budget as a fixed 6/10 of the corpus so the query is self-contained
# and the capped/uncapped split stays scale-free under the soak's
# duplicate-preserving 10x (both sides of the ratio scale together).
BUDGET_NUM, BUDGET_DEN = 6, 10


@register(
    "source_token_budget_allocation",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
             count(*) AS s,
             CAST(sum(n_tokens) * {BUDGET_NUM} // {BUDGET_DEN} AS BIGINT)
               AS budget
      FROM per_source
    ), ranked AS (
      SELECT source, n_tokens,
             row_number() OVER (
               ORDER BY n_tokens, source NULLS FIRST) - 1 AS idx,
             sum(n_tokens) OVER (
               ORDER BY n_tokens, source NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS prefix
      FROM per_source
    ), feas AS (
      SELECT r.*, t.s, t.budget,
             (r.prefix + r.n_tokens * (t.s - r.idx - 1) <= t.budget)
               AS feasible
      FROM ranked r, tot t
    ), kk AS (
      SELECT CAST(sum(feasible::INT) AS BIGINT) AS k,
             CAST(coalesce(max(CASE WHEN feasible THEN prefix END), 0)
                  AS BIGINT) AS prefix_k
      FROM feas
    )
    SELECT f.source, f.n_tokens,
           CAST(CASE
             WHEN f.feasible THEN f.n_tokens
             ELSE (f.budget - kk.prefix_k) // (f.s - kk.k)
                  + CASE WHEN f.idx - kk.k
                              < (f.budget - kk.prefix_k) % (f.s - kk.k)
                         THEN 1 ELSE 0 END
           END AS BIGINT) AS alloc_tokens,
           NOT f.feasible AS capped,
           round((CASE
             WHEN f.feasible THEN f.n_tokens
             ELSE (f.budget - kk.prefix_k) // (f.s - kk.k)
                  + CASE WHEN f.idx - kk.k
                              < (f.budget - kk.prefix_k) % (f.s - kk.k)
                         THEN 1 ELSE 0 END
           END)::DOUBLE / f.n_tokens, 6) AS utilization
    FROM feas f, kk
    """,
)
def source_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources — the
    data-constrained mixture decision (Muennighoff et al. 2023's
    regime): given a token budget of ``BUDGET_NUM``/``BUDGET_DEN`` of the
    corpus, small sources contribute everything they have and large
    sources are capped at a common water level, so no source is
    over-weighted just because it is big.  Exact-integer water level:
    sources sort ascending by size; source i is FULL iff
    prefix(i) + n_i * (S - i - 1) <= B (granting everyone >= n_i fits
    the budget); the k full sources take n_i, the S - k capped ones
    take c = (B - prefix(k-1)) div (S - k) with the remainder
    distributed +1 to the first r capped sources in sort order —
    allocations sum to EXACTLY B.  Safety of the +1: an infeasible
    source has n_i > (B - prefix(k-1)) / (S - k) in the reals, hence
    n_i >= c + 1 in integers, so no capped allocation exceeds its
    source.  All arithmetic is int64 in both engines; the only double
    is the final utilization ratio.

    100 TB shape: one map-side-partial groupBy(source) collapses the
    corpus; every window and scalar below it runs on the |sources|-row
    table (the explicitly-bounded global window precedent of
    text_zipf_fit), and the result is a broadcast-sized allocation
    PLAN joined back by the sampler.  NULL discipline: NULL-text docs
    contribute no tokens (filtered in both engines) and the rank
    window orders source NULLS FIRST to match Spark's ascending
    default (null-injection sweep finding)."""
    d = load_table(spark, "documents", sf_dir)
    per_source = (
        d.filter(F.col("text").isNotNull())
        .select("source", F.size(F.split("text", " ")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).alias("s"),
        F.expr(f"CAST(sum(n_tokens) * {BUDGET_NUM} div {BUDGET_DEN} AS BIGINT)")
        .alias("budget"),
    )
    wsort = W.orderBy("n_tokens", "source")
    ranked = per_source.select(
        "source", "n_tokens",
        (F.row_number().over(wsort) - 1).alias("idx"),
        F.sum("n_tokens").over(
            wsort.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("prefix"),
    )
    feas = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "feasible",
        F.col("prefix") + F.col("n_tokens") * (F.col("s") - F.col("idx") - 1)
        <= F.col("budget"),
    )
    kk = feas.agg(
        F.sum(F.col("feasible").cast("int")).cast("long").alias("k"),
        F.coalesce(
            F.max(F.when(F.col("feasible"), F.col("prefix"))), F.lit(0)
        ).cast("long").alias("prefix_k"),
    )
    j = feas.crossJoin(F.broadcast(kk))
    c = F.expr("(budget - prefix_k) div (s - k)")
    r = (F.col("budget") - F.col("prefix_k")) % (F.col("s") - F.col("k"))
    alloc = F.when(F.col("feasible"), F.col("n_tokens")).otherwise(
        c + F.when(F.col("idx") - F.col("k") < r, 1).otherwise(0)
    ).cast("long")
    return j.select(
        "source", "n_tokens",
        alloc.alias("alloc_tokens"),
        (~F.col("feasible")).alias("capped"),
        F.round(alloc.cast("double") / F.col("n_tokens"), 6)
        .alias("utilization"),
    )
