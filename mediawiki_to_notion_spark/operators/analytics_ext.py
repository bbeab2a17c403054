r"""Analytics extensions: range joins, IVF similarity, percentiles,
pivot/unpivot, hypertable rollups, RANGE-frame windows.

These close the gap between the reference's ETL surface (SURVEY.md §2)
and what a warehouse-grade engine is expected to answer on the same
tables.  Each operator is written in its 100 TB shape:

- the range join banded-buckets itself so the shuffle key is
  (user, time-bucket) instead of user alone (a power user's whole
  history would otherwise land in one task);
- IVF probes a broadcast centroid table, so candidate generation is a
  map-side join no matter the corpus size;
- percentiles/pivot/rollup are single partial-aggregated shuffles.

Arithmetic rules shared with the DuckDB oracles: doubles are rounded
to 6 dp *before* summing (as DECIMAL(18,6)) so accumulation order —
which differs across engines and partitionings — cannot change the
result.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from mediawiki_to_notion_spark.functions import vectors as V
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame
from mediawiki_to_notion_spark.sources.tables import load_table

BAND_US = 600_000_000           # 10-minute range-join band, microseconds
N_CENTROIDS = 8                 # IVF coarse quantizer size
N_PROBE = 2                     # clusters probed per query
IVF_QUERIES = 5                 # query vectors: vec_id 0..4
IVF_TOP_K = 10


@register(
    "range_join_clicks_before_purchase",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
      WHERE event_type = 'click'
    ), joined AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts_us,
             c.event_id AS click_id, c.value
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.ts_us >= p.ts_us - {BAND_US} AND c.ts_us < p.ts_us
    )
    SELECT purchase_id, user_id, ts_us AS purchase_ts_us,
           count(click_id) AS n_clicks_10m,
           CAST(coalesce(SUM(CAST(round(value, 6) AS DECIMAL(18,6))), 0)
                AS DOUBLE) AS click_value_10m
    FROM joined GROUP BY 1, 2, 3
    """,
)
def range_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join: each purchase gathers the same user's clicks in
    the preceding 10 minutes.

    Spark has no native range-join operator, and `user_id` alone is a
    skew-prone shuffle key (reference FAQ.md:68 is the same pathology:
    one hot entity).  The scale path is the *banded bucket join*: both
    sides get a time bucket of exactly the band width, the probe side
    expands to the (≤2) buckets its band can touch via `sequence`, and
    the join key becomes (user_id, bucket) — bounded fan-out, skew
    split across time, and the band predicate finishes the job.  A
    click lies in exactly one bucket, so no post-join dedup is needed.
    """
    e = load_table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.unix_micros("ts").alias("p_us"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
        "value",
    ).withColumn("bucket", F.expr(f"c_us div {BAND_US}"))
    probes = p.withColumn(
        "bucket",
        F.explode(F.expr(f"sequence((p_us - {BAND_US}) div {BAND_US}, p_us div {BAND_US})")),
    )
    matched = (
        probes.join(
            c,
            (probes.user_id == c.c_user)
            & (probes.bucket == c.bucket)
            & (c.c_us >= probes.p_us - BAND_US)
            & (c.c_us < probes.p_us),
        )
        .groupBy("purchase_id")
        .agg(
            F.count("click_id").alias("n_clicks_10m"),
            F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("v"),
        )
    )
    return (
        p.join(matched, "purchase_id", "left")
        .select(
            "purchase_id", "user_id",
            F.col("p_us").alias("purchase_ts_us"),
            F.coalesce("n_clicks_10m", F.lit(0)).alias("n_clicks_10m"),
            F.coalesce(F.col("v").cast("double"), F.lit(0.0)).alias("click_value_10m"),
        )
    )


_IVF_ASSIGN_SQL = f"""
    centroids AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
      WHERE vec_id < {N_CENTROIDS}
    ), assign_scored AS (
      SELECT e.vec_id, e.embedding, k.centroid_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], k.c_emb::DOUBLE[]), 6)
               AS cos_c,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round(list_cosine_similarity(
                                  e.embedding::DOUBLE[], k.c_emb::DOUBLE[]), 6) DESC,
                                  k.centroid_id) AS rn
      FROM embeddings e CROSS JOIN centroids k
    )
"""


@register(
    "similarity_ivf_probe",
    oracle=V.hygiene_oracle(f"""
    WITH {_IVF_ASSIGN_SQL}
    , assigned AS (
      SELECT vec_id, embedding, centroid_id FROM assign_scored WHERE rn = 1
    ), probed AS (
      SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
      FROM assign_scored WHERE vec_id < {IVF_QUERIES} AND rn <= {N_PROBE}
    ), scored AS (
      SELECT q.query_id, a.vec_id,
             round(list_cosine_similarity(q.q_emb::DOUBLE[], a.embedding::DOUBLE[]), 6)
               AS cosine_r
      FROM probed q JOIN assigned a
        ON a.centroid_id = q.centroid_id AND a.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, vec_id, cosine_r,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_r DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, cosine_r FROM ranked WHERE rn <= {IVF_TOP_K}
    """),
)
def similarity_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbour: a coarse
    quantizer assigns every vector to its nearest centroid (here a
    deterministic codebook: the first ``N_CENTROIDS`` vectors), queries
    probe their nprobe=``N_PROBE`` nearest clusters, and only same-cluster
    candidates are scored.

    100 TB shape: the codebook is a broadcast table, so assignment is a
    map-side cross join (|codebook| rows per vector, no shuffle); the
    candidate join shuffles by centroid_id — the IVF partition — instead
    of all-pairs.  This is the same plan skeleton Faiss IVF-Flat runs,
    expressed relationally."""
    e = V.hygiene(load_table(spark, "embeddings", sf_dir))
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    scored_assign = e.join(F.broadcast(cent)).select(
        "vec_id", "embedding", "centroid_id",
        F.round(V.cosine(F.col("embedding"), F.col("c_emb")), 6).alias("cos_c"),
    )
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.asc("centroid_id"))
    with_rank = scored_assign.withColumn("rn", F.row_number().over(w_assign))
    assigned = with_rank.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "centroid_id"
    )
    probed = with_rank.filter(
        (F.col("vec_id") < IVF_QUERIES) & (F.col("rn") <= N_PROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("centroid_id").alias("q_centroid"),
    )
    scored = assigned.join(
        F.broadcast(probed),
        (F.col("centroid_id") == F.col("q_centroid"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id", "vec_id",
        F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cosine_r"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_r"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOP_K)
        .drop("rn")
    )


@register(
    "percentile_event_values",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def percentile_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type.  Spark's
    `percentile` and DuckDB's `quantile_cont` share the same
    interpolation rule, so results hash-match after 6 dp rounding.
    Exact percentiles sort within each group; at 100 TB the headline
    dashboards switch to `approx_percentile` (KLL/GK sketch, mergeable
    partial aggregation) — same call-site, sketch semantics."""
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "pivot_priority_by_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (o_orderstatus = 'O') AS n_open,
           count(*) FILTER (o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (o_orderstatus = 'P') AS n_pending,
           CAST(coalesce(SUM(CAST(round(o_totalprice, 6) AS DECIMAL(18,6)))
                         FILTER (o_orderstatus = 'O'), 0) AS DOUBLE) AS rev_open,
           CAST(coalesce(SUM(CAST(round(o_totalprice, 6) AS DECIMAL(18,6)))
                         FILTER (o_orderstatus = 'F'), 0) AS DOUBLE) AS rev_finished,
           CAST(coalesce(SUM(CAST(round(o_totalprice, 6) AS DECIMAL(18,6)))
                         FILTER (o_orderstatus = 'P'), 0) AS DOUBLE) AS rev_pending
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts and revenue per priority,
    one column pair per status.  The pivot value list is given
    explicitly ('O','F','P') — with it, Spark pivots in a single
    aggregation pass; without it, it must first run a distinct-values
    job, which at 100 TB is a full extra scan."""
    o = load_table(spark, "orders", sf_dir)
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("o_totalprice", 6).cast("decimal(18,6)")).alias("rev"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce("O_n", F.lit(0)).alias("n_open"),
        F.coalesce("F_n", F.lit(0)).alias("n_finished"),
        F.coalesce("P_n", F.lit(0)).alias("n_pending"),
        F.coalesce(F.col("O_rev").cast("double"), F.lit(0.0)).alias("rev_open"),
        F.coalesce(F.col("F_rev").cast("double"), F.lit(0.0)).alias("rev_finished"),
        F.coalesce(F.col("P_rev").cast("double"), F.lit(0.0)).alias("rev_pending"),
    )


@register(
    "unpivot_charge_components",
    oracle="""
    WITH long AS (
      SELECT l_returnflag, 'extended' AS component,
             round(l_extendedprice, 6) AS amount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount',
             round(l_extendedprice * l_discount, 6) FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'tax',
             round(l_extendedprice * l_tax, 6) FROM lineitem
    )
    SELECT l_returnflag, component,
           count(*) AS n_rows,
           CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS total_amount
    FROM long GROUP BY l_returnflag, component
    """,
)
def unpivot_charge_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): melt each lineitem's three charge
    components into rows, then aggregate per (returnflag, component).
    `unpivot` is a zero-shuffle narrow transform — the only shuffle is
    the final partial-aggregated groupBy."""
    li = load_table(spark, "lineitem", sf_dir)
    wide = li.select(
        "l_returnflag",
        F.round("l_extendedprice", 6).alias("extended"),
        F.round(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("discount"),
        F.round(F.col("l_extendedprice") * F.col("l_tax"), 6).alias("tax"),
    )
    long = wide.unpivot(
        ["l_returnflag"], ["extended", "discount", "tax"], "component", "amount"
    )
    return long.groupBy("l_returnflag", "component").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("amount").cast("decimal(18,6)")).cast("double").alias("total_amount"),
    )


@register(
    "time_bucket_rollup",
    oracle="""
    SELECT epoch_ms(date_trunc('day', ts)) AS day_ms,
           epoch_ms(date_trunc('hour', ts)) AS hour_ms,
           count(*) AS n_events,
           CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP (epoch_ms(date_trunc('day', ts)), epoch_ms(date_trunc('hour', ts)))
    """,
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly buckets with daily
    subtotals and a grand total in one pass (`ROLLUP(day, hour)`).
    This is the TimescaleDB time_bucket + rollup idiom on Spark: one
    shuffle, partial aggregation map-side, and the day/hour grouping
    keys are derived columns so at 100 TB the same query runs against
    a day-partitioned table with partition pruning intact."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.select(
            F.unix_millis(F.date_trunc("day", "ts")).alias("day_ms"),
            F.unix_millis(F.date_trunc("hour", "ts")).alias("hour_ms"),
            "value",
        )
        .rollup("day_ms", "hour_ms")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round("value", 6).cast("decimal(18,6)"))
             .cast("double").alias("total_value"),
        )
    )


@register(
    "window_range_frame_hourly",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           count(*) OVER w AS n_events_1h,
           CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per user, the trailing-1-hour event count and
    value sum at every event.  RANGE frames bound by *value* distance
    (microseconds here), not row count — the moving-aggregate shape
    rate limiters and anomaly detectors need.  One shuffle on user_id;
    ties in ts share a frame, so the aggregate is rounded-decimal to
    stay order-independent."""
    e = load_table(spark, "events", sf_dir)
    with_us = e.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).cast("decimal(18,6)").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return with_us.select(
        "event_id", "user_id", "ts_us",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.sum("v").over(w).cast("double").alias("value_1h"),
    )


@register(
    "stats_moments_lineitem",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag,
             count(*) AS n,
             SUM(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS sx,
             SUM(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))) AS sy,
             SUM(CAST(round(l_quantity, 6) AS DECIMAL(38,6))
                 * CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS sxx,
             SUM(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))
                 * CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))) AS syy,
             SUM(CAST(round(l_quantity, 6) AS DECIMAL(38,6))
                 * CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(CAST(sx AS DOUBLE) / n, 6) AS mean_qty,
           round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                      / (n - 1)), 6) AS stddev_qty,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS corr_qty_price
    FROM sums
    """,
)
def stats_moments_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / sample stddev / Pearson correlation per return flag,
    computed from exact DECIMAL(38,6) sufficient statistics (n, Σx, Σy,
    Σx², Σy², Σxy) rather than the built-in streaming aggregators.

    Built-in `stddev`/`corr` accumulate doubles in partition order, so
    two runs (or two engines) disagree in the last ulps; the
    sufficient-statistics form is one partial-aggregated shuffle with
    order-independent decimal sums, and the final double arithmetic is
    the same expression on identical inputs everywhere — bit-equal
    results at any parallelism, which is also the mergeable-moments
    shape a 1000-executor job wants."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    # r10 (guide §2.2/§2.6): the single-file lineitem scan serialized
    # the decimal sufficient-statistics map side through <=3 splits;
    # spreading it first (no-op at real scale) measured 2.39 → 1.60 s
    # interleaved at sf0.1 — the Int128 decimal arithmetic is the
    # per-task cost, so map-side parallelism is the lever
    li = ensure_parallelism(load_table(spark, "lineitem", sf_dir))
    x = F.round("l_quantity", 6).cast("decimal(38,6)")
    y = F.round("l_extendedprice", 6).cast("decimal(38,6)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return sums.select(
        "l_returnflag", "n",
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("stddev_qty"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@register(
    "salted_join_orders_customer",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def salted_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resistant salted join, proven through the correctness
    gate: orders ⋈ customer executed via `physical.salted_join` (fact
    keys sprayed over 8 deterministic hash salts, dim replicated per
    salt) must aggregate to exactly the plain join's answer.

    The salt machinery is what a 1000-executor job reaches for when one
    customer owns 40 % of the fact table (the reference's 500k-block
    page, FAQ.md:68, is the same pathology); registering it here pins
    "salting is invisible in the result" as a hash-checked invariant,
    not just a unit test."""
    from mediawiki_to_notion_spark.operators.physical import salted_join

    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c, "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round("o_totalprice", 6).cast("decimal(18,6)"))
         .cast("double").alias("total_price"),
    )


@register("approx_percentile_sketch")  # rows-only: sketch-based, engine-specific
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch scale path for `percentile_event_values`:
    `approx_percentile` (Greenwald-Khanna) builds mergeable partial
    sketches map-side, so the global percentile costs one small-state
    shuffle instead of a per-group sort — at 100 TB the exact variant
    sorts terabytes, this shuffles kilobytes.  Sketch internals are
    engine-specific, so no cross-engine oracle (rows-only check)."""
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 6).alias("p50_approx"),
        F.round(F.expr("approx_percentile(value, 0.99, 10000)"), 6).alias("p99_approx"),
    )


ZORDER_BITS = 8        # 8 bits per dimension -> 16-bit z-values
ZORDER_FILES = 16      # target clustered-file count


def _zorder_interleave(ux: str, ty: str, shl: str, shr: str) -> str:
    """Bit-interleave expression text, generated once for both engines
    (only the shift syntax differs: Spark `shiftleft(x,n)`, DuckDB
    `x << n`)."""
    terms = []
    for j in range(ZORDER_BITS):
        terms.append(shl.format(x=f"({shr.format(x=ux, n=j)}) & 1", n=2 * j))
        terms.append(shl.format(x=f"({shr.format(x=ty, n=j)}) & 1", n=2 * j + 1))
    return " + ".join(f"({t})" for t in terms)


_Z_SPARK = _zorder_interleave(
    "ux", "ty", shl="shiftleft({x}, {n})", shr="shiftright({x}, {n})"
)
_Z_DUCK = _zorder_interleave("ux", "ty", shl="(({x}) << {n})", shr="(({x}) >> {n})")


@register(
    "zorder_cluster_events",
    oracle=f"""
    WITH coords AS (
      SELECT event_id,
             user_id % {1 << ZORDER_BITS} AS ux,
             (epoch_us(ts) // 3600000000) % {1 << ZORDER_BITS} AS ty
      FROM events
    )
    SELECT event_id, ux, ty,
           {_Z_DUCK} AS zval,
           ({_Z_DUCK}) * {ZORDER_FILES} // {1 << (2 * ZORDER_BITS)} AS zfile
    FROM coords
    """,
)
def zorder_cluster_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering key for the events table: the
    multi-dimensional data-layout op behind lakehouse OPTIMIZE ZORDER —
    interleaving the bits of (user bucket, hour bucket) gives one sort
    key under which a range-partitioned write produces files that are
    simultaneously tight on BOTH dimensions, so either predicate prunes
    files at scan time (a time-sorted layout prunes only time).

    All integer bit arithmetic — bit-exact across engines — generated
    from ONE expression template; `zfile` is the range-partition
    assignment a writer would pass to `repartitionByRange` before
    `partitionBy`-free clustered writes.  Narrow ops only: the z-key
    computation adds zero shuffles; the eventual clustered write pays
    exactly the one range shuffle any global sort costs."""
    e = load_table(spark, "events", sf_dir)
    coords = e.select(
        "event_id",
        (F.col("user_id") % (1 << ZORDER_BITS)).alias("ux"),
        (F.floor(F.unix_micros("ts") / 3_600_000_000) % (1 << ZORDER_BITS))
        .cast("long").alias("ty"),
    )
    zval = F.expr(_Z_SPARK)
    return coords.select(
        "event_id", "ux", "ty",
        zval.alias("zval"),
        F.expr(f"({_Z_SPARK}) * {ZORDER_FILES} div {1 << (2 * ZORDER_BITS)}")
        .alias("zfile"),
    )


FUNNEL_STAGES = ("view", "click", "purchase")  # ordered conversion path

# t1/t2/t3: per user, the first view, the first click after it, the
# first purchase after that click (the DuckDB twin of _ordered_funnel).
_FUNNEL_SQL = """
    t1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )"""


def _ordered_funnel(e: DataFrame) -> DataFrame:
    """Per user who viewed: ``(user_id, view_ts, click_ts,
    purchase_ts)`` — the first event of each ``FUNNEL_STAGES`` stage
    strictly after the user's entry into the previous stage (NULL once
    a stage is not reached).

    Scale shape: each stage is a pre-filtered partial-agg (min) keyed
    by user_id, equi-joined on user_id to the (strictly shrinking)
    set that reached the previous stage — never a per-user
    event-sequence sort.  Every exchange shares the user_id hash
    partitioning, so Spark reuses the shuffle layout between stages.
    No windows over the raw event stream, no driver state."""
    first, *rest = FUNNEL_STAGES
    reached = [
        e.filter(F.col("event_type") == first)
        .groupBy("user_id").agg(F.min("ts").alias(f"{first}_ts"))
    ]
    for prev, stage in zip(FUNNEL_STAGES, rest):
        reached.append(
            e.filter(F.col("event_type") == stage)
            .join(reached[-1], "user_id")
            .filter(F.col("ts") > F.col(f"{prev}_ts"))
            .groupBy("user_id").agg(F.min("ts").alias(f"{stage}_ts"))
        )
    out = reached[0]
    for r in reached[1:]:
        out = out.join(r, "user_id", "left")
    return out


@register(
    "event_funnel_conversion",
    oracle=f"""
    WITH {_FUNNEL_SQL}
    SELECT t1.user_id,
           epoch_ms(t1.t) AS view_ms,
           epoch_ms(t2.t) AS click_ms,
           epoch_ms(t3.t) AS purchase_ms,
           1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
             + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS funnel_stage
    FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: per user, the first view, the first
    click strictly *after* that view, and the first purchase strictly
    after that click — the sequential-pattern query behind conversion
    dashboards (and behind multi-step pipeline-progress reporting, the
    reference's page-status dashboard generalized to ordered stages).
    ``funnel_stage`` is the number of stages reached."""
    f = _ordered_funnel(load_table(spark, "events", sf_dir))
    stage = F.lit(1)
    for s in FUNNEL_STAGES[1:]:
        stage = stage + F.when(F.col(f"{s}_ts").isNull(), 0).otherwise(1)
    return f.select(
        "user_id",
        *[F.unix_millis(f"{s}_ts").alias(f"{s}_ms") for s in FUNNEL_STAGES],
        stage.alias("funnel_stage"),
    )


Z_ANOMALY = 3.0


@register(
    "events_anomaly_zscore",
    oracle=f"""
    WITH sums AS (
      SELECT event_type, count(*) AS n,
             SUM(CAST(round(value, 6) AS DECIMAL(38,6))) AS sx,
             SUM(CAST(round(value, 6) AS DECIMAL(38,6))
                 * CAST(round(value, 6) AS DECIMAL(38,6))) AS sxx
      FROM events GROUP BY event_type
    ), stats AS (
      SELECT event_type, n,
             round(CAST(sx AS DOUBLE) / n, 6) AS mean_v,
             round(sqrt(greatest((CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                        / (n - 1), 0.0)), 6) AS std_v
      FROM sums
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN s.std_v > 0
                THEN round((round(e.value, 6) - s.mean_v) / s.std_v, 6)
           END AS zscore,
           CASE WHEN s.std_v > 0
                THEN abs(round((round(e.value, 6) - s.mean_v) / s.std_v, 6))
                     > {Z_ANOMALY}
                ELSE FALSE
           END AS is_anomaly
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly flagging — the telemetry outlier screen
    (and the per-source quality-drift monitor a data pipeline runs over
    batch statistics).  Group statistics come from exact decimal
    sufficient sums (order-independent at any parallelism, the
    stats_moments technique), are 6-dp rounded, and broadcast back onto
    the event scan — one partial-agg shuffle plus a map-side join, the
    full-corpus score pass never re-shuffles."""
    e = load_table(spark, "events", sf_dir)
    x = F.round("value", 6).cast("decimal(38,6)")
    sums = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    # greatest(…, 0): when all rounded values in a group are equal, the
    # exact decimal sums satisfy sxx == sx²/n, but the double cast can
    # land a few ulps negative — DuckDB's sqrt then hard-errors while
    # Spark returns NaN.  Clamping (identically in both engines) makes
    # the degenerate group a 0.0 stddev instead of an engine divergence.
    stats = sums.select(
        "event_type",
        F.round(sx / n, 6).alias("mean_v"),
        F.round(
            F.sqrt(F.greatest((sxx - sx * sx / n) / (n - 1), F.lit(0.0))), 6
        ).alias("std_v"),
    )
    # a zero-stddev (degenerate) group gets NULL z / FALSE anomaly in
    # both engines, instead of leaning on divide-by-zero semantics that
    # differ between them
    z_raw = F.round((F.round("value", 6) - F.col("mean_v")) / F.col("std_v"), 6)
    z = F.when(F.col("std_v") > 0, z_raw)
    return e.join(F.broadcast(stats), "event_type").select(
        "event_id", "event_type", "value",
        z.alias("zscore"),
        F.when(F.col("std_v") > 0, F.abs(z_raw) > Z_ANOMALY)
        .otherwise(F.lit(False)).alias("is_anomaly"),
    )


@register(
    "time_gapfill_interpolate",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             count(*) AS n,
             round(CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) / count(*), 6) AS avg_v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM hourly),
    spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
                  FROM bounds) g
    )
    SELECT s.event_type, s.h,
           coalesce(n, 0) AS n_events,
           n IS NULL AS is_gap,
           last_value(avg_v IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_ffill
    FROM spine s LEFT JOIN hourly USING (event_type, h)
    """,
)
def time_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (the TimescaleDB ``time_bucket_gapfill`` /
    ``locf`` pair): densify the hourly per-type event series over the
    full observed range, zero-fill counts, flag gaps, and carry the
    last known hourly mean forward (nulls before the first observation
    survive, as locf specifies).

    The hourly mean is computed as one exact DECIMAL sum divided once —
    order-independent at any parallelism (stats_moments pattern).

    100 TB shape: the dense spine is types x hours — generated, never
    shuffled from data; the left join hash-partitions on (type, hour)
    like the aggregate before it.  The forward-fill window partitions
    by event_type; with few types and years of hours the 100 TB variant
    range-partitions each type's timeline into chunks and stitches
    chunk boundaries (the standard distributed-locf refinement) —
    at this table's 5 types the single window per type is the plan."""
    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_v"),
    )
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    hours = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    spine = e.select("event_type").distinct().crossJoin(F.broadcast(hours))
    from pyspark.sql import Window as W

    win = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type", "h",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
            F.last("avg_v", ignorenulls=True).over(win).alias("v_ffill"),
        )
    )


# ev → (window_end_hour, user_id) contributions: the DuckDB twin of
# _trailing_24h over hourly users.
_SLIDING_CONTRIB_SQL = """
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS h0, user_id FROM events
    ),
    bounds AS (SELECT max(h0) AS mx FROM ev),
    contrib AS (
      SELECT g.e AS window_end_hour, user_id
      FROM ev, bounds,
           LATERAL (SELECT unnest(generate_series(
             ev.h0, ev.h0 + INTERVAL 23 HOUR, INTERVAL 1 HOUR)) AS e) g
      WHERE g.e <= bounds.mx
    )"""


def _trailing_24h(frame: DataFrame, col: str) -> DataFrame:
    """Fan each ``(h0, col)`` row out to the 24 trailing-window ends it
    belongs to → ``(window_end_hour, col, mx)``.  Windows ending after
    the last observed hour ``mx`` are clipped (matching dashboards,
    which do not report future windows).

    Scale shape: an explode of a generated hour sequence — bounded,
    constant fan-out — after a broadcast of the one-row max; the
    caller's one (window, ...) aggregate follows.  Over per-hour
    sketches the union across the 24 panes is exact (sketches are
    mergeable), so the same fan-out serves the exact and the
    approximate distinct count."""
    mx = frame.agg(F.max("h0").alias("mx"))
    return (
        frame.crossJoin(F.broadcast(mx))
        .select(
            F.explode(
                F.sequence(
                    "h0",
                    F.col("h0") + F.expr("INTERVAL 23 HOUR"),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("window_end_hour"),
            col,
            "mx",
        )
        .filter(F.col("window_end_hour") <= F.col("mx"))
    )


@register(
    "sliding_distinct_users",
    oracle=f"""{_SLIDING_CONTRIB_SQL}
    SELECT window_end_hour, count(DISTINCT user_id) AS n_distinct_users
    FROM contrib GROUP BY window_end_hour
    """,
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users per hour — sliding-window COUNT
    DISTINCT, the metric windowed sums cannot express (distinct does
    not decompose over panes).  Each event fans out to the 24
    window-ends it influences (``_trailing_24h``), then ONE (window,
    user) dedup + count.  The sketch alternative
    (``sliding_distinct_users_hll``) swaps in at the same call-site
    when exact distinct is not required at 100 TB.

    r10 examined, deliberately unchanged: an explicit pre-dedup to
    DISTINCT (hour, user) before the 24x explode was measured SLOWER
    at sf0.1 (1.19 -> 1.32 s min-of-5) and is redundant at scale —
    the final countDistinct already partial-aggregates map-side, so
    the post-fan-out shuffle carries locally-deduped (window, user)
    pairs either way, and the extra global exchange buys nothing."""
    ev = load_table(spark, "events", sf_dir).select(
        F.date_trunc("hour", F.col("ts")).alias("h0"), "user_id"
    )
    return _trailing_24h(ev, "user_id").groupBy("window_end_hour").agg(
        F.countDistinct("user_id").alias("n_distinct_users")
    )


@register("sliding_distinct_users_hll")  # rows-only: sketch estimates
def sliding_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap-in for ``sliding_distinct_users`` (SCALING.md
    rule: sketches over exact distinct at scale — now code, not prose;
    VERDICT r3 item 6): ONE pass over events builds a per-hour
    DataSketches HLL of user_id (catalog-sized output — one sketch per
    hour), then ``_trailing_24h`` fans out that TINY sketch table and
    the 24 panes merge.  Events are never fanned out 24× — the row
    explosion the exact formulation pays moves to the ~720-row hourly
    aggregate, so the big-side cost is a single map-side-combinable
    groupBy regardless of window length.

    No SQL oracle: the estimate is sketch-implementation-defined
    (DataSketches HLL_4), so the driver records rows-only; pytest pins
    row-parity plus a relative-error band against the exact twin."""
    hourly = (
        load_table(spark, "events", sf_dir)
        .select(F.date_trunc("hour", F.col("ts")).alias("h0"), "user_id")
        .groupBy("h0")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    )
    return _trailing_24h(hourly, "sk").groupBy("window_end_hour").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .alias("n_distinct_users_approx")
    )


MAD_K = 3  # |x - median| > K * MAD flags an outlier


@register(
    "events_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, med,
             quantile_cont(abs(value - med), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med
    )
    SELECT e.event_type,
           round(med, 6) AS median_v,
           round(mad, 6) AS mad_v,
           count(*) AS n_events,
           CASE WHEN mad > 0
                THEN count(*) FILTER (abs(value - med) > {MAD_K} * mad)
           END AS n_outliers
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type, med, mad
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type via median absolute
    deviation — the heavy-tail-safe twin of events_anomaly_zscore
    (mean/std blow up under the very outliers being hunted; median/MAD
    do not).

    A degenerate group (MAD = 0: more than half the values sit exactly
    on the median) reports NULL n_outliers instead of flagging every
    off-median value — same convention as the zscore twin's NULL z.

    100 TB shape: two tiny per-type stat aggregates (median, then MAD
    of the broadcast-centered values), each broadcast back — the event
    scan runs three times (median pass, MAD pass, outlier count)
    because MAD is inherently multi-pass; every pass is a
    map-side-partial aggregate, no data-volume shuffle.  Exact
    percentiles per type swap for approx_percentile at the 100 TB
    call-site."""
    e = load_table(spark, "events", sf_dir)
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = e.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type", "med").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > MAD_K * F.col("mad"),
                    1,
                )
            ).alias("n_out_raw"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("median_v"),
            F.round("mad", 6).alias("mad_v"),
            "n_events",
            F.when(F.col("mad") > 0, F.col("n_out_raw")).alias("n_outliers"),
        )
    )


# The DuckDB twin of _cohort_activity: (cohort_week, week_offset,
# n_active_users), cohort_week a TIMESTAMP.
_COHORT_SQL = """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             (epoch_ms(date_trunc('week', e.ts)) - epoch_ms(f.cohort_week))
               // (7 * 86400000) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset, count(*) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """


def _cohort_activity(e: DataFrame) -> DataFrame:
    """Weekly retention cells ``(cohort_week, week_offset,
    n_active_users)``: users grouped by the week (a TIMESTAMP) of their
    first event, counted distinct at each later week offset.  Week
    arithmetic is exact epoch-millis integer division so both engines
    bucket identically.

    Scale shape: first-seen is one user_id groupBy (map-side partial
    min); the join back is on the SAME key, so the hash partitioning
    is reused; the (user, cohort, offset) dedup and the final count
    are one more partial-agg shuffle into a cohort×offset matrix that
    is calendar-sized, not event-sized.  Nothing fans out."""
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id", "cohort_week",
            F.floor(
                (F.unix_millis(F.date_trunc("week", F.col("ts")))
                 - F.unix_millis(F.col("cohort_week")))
                / (7 * 86400000)
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "user_retention_cohorts",
    oracle=f"""
    SELECT cohort_week::DATE AS cohort_week, week_offset, n_active_users
    FROM ({_COHORT_SQL})
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week, and
    for each cohort the distinct users active at each week offset —
    the standard product-analytics retention matrix, keyed by the
    cohort's DATE."""
    return _cohort_activity(load_table(spark, "events", sf_dir)).select(
        F.to_date("cohort_week").alias("cohort_week"),
        "week_offset",
        "n_active_users",
    )


BASKET_MIN_SUPPORT = 3  # pairs co-ordered in fewer orders are noise


@register(
    "market_basket_part_pairs",
    oracle=f"""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM lines),
    part_orders AS (
      SELECT l_partkey, count(*) AS n_ord FROM lines GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_together
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT part_a, part_b, n_together,
           round(
             (n_together::DOUBLE / n.n)
             / ((pa.n_ord::DOUBLE / n.n) * (pb.n_ord::DOUBLE / n.n)), 6
           ) AS lift
    FROM pairs
    JOIN part_orders pa ON part_a = pa.l_partkey
    JOIN part_orders pb ON part_b = pb.l_partkey
    CROSS JOIN n_orders n
    """,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: part pairs appearing in
    the same order, support-filtered, scored by lift = P(a,b) /
    (P(a)P(b)) — the association-rule statistic (Agrawal a-priori's
    2-itemset pass).

    100 TB shape (r10, guide §2.4 — remove shuffles outright): ONE
    groupBy(l_orderkey) packs each order's distinct parts into a
    sorted array (the same shuffle the old distinct() paid, and the
    dedup rides the aggregate), pairs are generated ORDER-LOCALLY by
    an index-nested array transform (fan-out bounded by lines-per-
    order, single digits in TPC-H-like data — never a part-pair
    cartesian), and the per-part marginals explode the same packed
    arrays — the old formulation's equi-self-join re-shuffled the
    lines table twice more on l_orderkey to produce exactly these
    pairs.  The min-support HAVING prunes the long tail before the
    marginals join on (explicitly F.broadcast-hinted — catalog-sized,
    fine up to ~10M parts; past that drop the hint and the marginals
    equi-join the already-pruned pair table on part key, still never
    a wide-side shuffle); the order count is one scalar broadcast."""
    li = load_table(spark, "lineitem", sf_dir)
    # r11 (VERDICT r10 #3): the three consumers (order count, marginals,
    # pair fan-out) do NOT share the groupBy exchange — filter/column
    # pruning pushes different scans under each subtree, so ReuseExchange
    # never fires and the r10 shape re-shuffled the corpus 3x (11
    # Exchanges in the before-plan).  A LAZY localCheckpoint (eager=False)
    # materializes the packed table ONCE inside the single action — the
    # RDD persists MEMORY_AND_DISK at mark time, so all three consumer
    # subtrees read the one evaluation — without the serialized extra
    # job an eager checkpoint pays (the r10 "+0.2 s" objection).
    # Interleaved A/B at sf0.1 (min-of-5, arms alternating): plain 3.31 s,
    # cache 3.44, eager ckpt 2.47, lazy ckpt 2.26 (-32% vs plain); plan
    # after = ONE corpus groupBy feeding a checkpoint leaf.
    orders = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=False)
    )
    # COUNT(DISTINCT l_orderkey) ignores NULL keys, and the old
    # self-join's NULL = NULL never matched — replicate both exactly:
    # the NULL-orderkey group (if any) contributes to the per-part
    # marginals (as its distinct rows did before) but neither to the
    # order count nor to pair generation.
    n_orders = orders.agg(
        F.count(F.when(F.col("l_orderkey").isNotNull(), 1)).alias("n")
    )
    part_orders = orders.select(
        F.explode("parts").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_ord"))
    # (a, b) with a < b, generated inside each order's sorted array:
    # element i pairs with every later element j > i
    pair_array = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice("parts", i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        orders.filter(F.col("l_orderkey").isNotNull())
        .select(F.explode(pair_array).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .filter(F.col("n_together") >= BASKET_MIN_SUPPORT)
    )
    pa = part_orders.select(
        F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("na")
    )
    pb = part_orders.select(
        F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("nb")
    )
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_together",
            F.round(
                (F.col("n_together").cast("double") / F.col("n"))
                / (
                    (F.col("na").cast("double") / F.col("n"))
                    * (F.col("nb").cast("double") / F.col("n"))
                ),
                6,
            ).alias("lift"),
        )
    )


# The DuckDB twin of _transitions: (cur, nxt, n, p).
_TRANSITIONS_SQL = """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER w AS nxt,
             lead(event_id) OVER w AS nxt_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), trans AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt_id IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           round(n::DOUBLE / CAST(sum(n) OVER (PARTITION BY cur)
                                  AS BIGINT), 6) AS p
    FROM trans
    """


def _transitions(e: DataFrame) -> DataFrame:
    """First-order transition counts ``(cur, nxt, n, p)`` over per-user
    event sequences, ``p`` = P(nxt | cur) rounded to 6 dp.  Ties in ts
    break by event_id so the sequence — and therefore the matrix — is
    unique at any parallelism and in both engines.  A transition into
    a NULL event type is kept: only the last event of a user's sequence
    (no next ``event_id``) has no transition.

    Scale shape: ONE lead window partitioned by user_id — one
    hash-partitioned shuffle of the events, each user's timeline
    sorted within its partition (no global sort); the transition
    matrix is then a |types|² aggregate, and the row totals are a
    |types|-row aggregate of it, broadcast back onto the matrix."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        F.lead("event_id").over(w).alias("nxt_id"),
    )
    trans = (
        seq.filter(F.col("nxt_id").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy(F.col("cur").alias("row")).agg(
        F.sum("n").alias("total")
    )
    # NULL-safe: a NULL event type is a row of the matrix of its own, as
    # in the oracle's PARTITION BY cur
    return trans.join(
        F.broadcast(totals), F.col("cur").eqNullSafe(F.col("row"))
    ).select(
        "cur", "nxt", "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("p"),
    )


@register(
    "event_transition_matrix",
    oracle=f"""
    SELECT cur AS prev_type, nxt AS next_type, n AS n_transitions,
           p AS p_transition
    FROM ({_TRANSITIONS_SQL})
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral-model
    summary behind next-action prediction and anomaly scoring on
    event streams (complements event_funnel_conversion's fixed-path
    view with the full transition graph).  ``_transitions`` with the
    prev/next column names."""
    return _transitions(load_table(spark, "events", sf_dir)).select(
        F.col("cur").alias("prev_type"),
        F.col("nxt").alias("next_type"),
        F.col("n").alias("n_transitions"),
        F.col("p").alias("p_transition"),
    )


RFM_EPOCH = "1992-01-01"  # fixed anchor for recency-in-days arithmetic
from mediawiki_to_notion_spark.functions import stats as _S  # noqa: E402
_RFM_BOUNDS_SQL = _S.quartile_bounds_sql(
    {"r": "recency_d", "f": "frequency", "m": "monetary"})
_RFM_R_SQL = _S.quartile_score_sql("recency_d", "r")
_RFM_F_SQL = _S.quartile_score_sql("frequency", "f")
_RFM_M_SQL = _S.quartile_score_sql("monetary", "m")


@register(
    "orders_rfm_segmentation",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             datediff('day', DATE '{RFM_EPOCH}', max(o_orderdate)::DATE)
               AS recency_d,
             count(*) AS frequency,
             CAST(SUM(CAST(round(o_totalprice, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    bounds AS (SELECT {_RFM_BOUNDS_SQL} FROM per_cust)
    SELECT o_custkey, recency_d, frequency, monetary,
           {_RFM_R_SQL} AS r_score,
           {_RFM_F_SQL} AS f_score,
           {_RFM_M_SQL} AS m_score
    FROM per_cust CROSS JOIN bounds
    """,
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation per
    customer — the classic CRM cohorting op, expressed scale-first:
    per-customer aggregates in one partial-agg shuffle, quartile
    BOUNDARIES from one 1-row percentile aggregate broadcast back (the
    doc_length_equal_freq_bins pattern — never an ntile window over
    all customers), scores as pure CASE chains.

    Recency is integer days from a fixed anchor so the percentile
    interpolation runs on exact ints; monetary sums are exact DECIMAL
    before the single double division."""
    o = load_table(spark, "orders", sf_dir)
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")), F.lit(RFM_EPOCH).cast("date")
        ).alias("recency_d"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round("o_totalprice", 6).cast("decimal(18,6)"))
         .cast("double").alias("monetary"),
    )
    from mediawiki_to_notion_spark.functions import stats as S

    bounds = S.quartile_bounds(
        per_cust,
        {"r": "recency_d", "f": "frequency", "m": "monetary"},
    )
    return per_cust.crossJoin(F.broadcast(bounds)).select(
        "o_custkey", "recency_d", "frequency", "monetary",
        S.quartile_score("recency_d", "r").alias("r_score"),
        S.quartile_score("frequency", "f").alias("f_score"),
        S.quartile_score("monetary", "m").alias("m_score"),
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, vec_id % 2 AS half, u.i AS dim,
             CAST(CAST(round(embedding[u.i+1]::DOUBLE, 6) AS DECIMAL(18,6))
                  * 1000000 AS BIGINT) AS vi
      FROM embeddings,
           LATERAL (SELECT unnest(range(0, len(embedding))) AS i) u
    ),
    sums AS (
      SELECT label, half, dim, sum(vi) AS s
      FROM dims GROUP BY label, half, dim
    ),
    pops AS (
      -- derived from the SAME exploded scan (dim 0 marks each
      -- non-empty vector exactly once) — no second embeddings pass
      SELECT label,
             count(*) FILTER (half = 0) AS n_half_a,
             count(*) FILTER (half = 1) AS n_half_b
      FROM dims WHERE dim = 0 GROUP BY label
    ),
    halves AS (
      SELECT coalesce(a.label, b.label) AS label,
             coalesce(a.s, 0) AS sa, coalesce(b.s, 0) AS sb
      FROM (SELECT * FROM sums WHERE half = 0) a
      FULL JOIN (SELECT * FROM sums WHERE half = 1) b
        ON a.label = b.label AND a.dim = b.dim
    ),
    folded AS (
      SELECT h.label,
             greatest(n_half_a, 1) AS da, greatest(n_half_b, 1) AS db,
             max(n_half_a) AS n_half_a, max(n_half_b) AS n_half_b,
             SUM(CAST(sa * greatest(n_half_b, 1)
                      - sb * greatest(n_half_a, 1) AS HUGEINT)
                 * CAST(sa * greatest(n_half_b, 1)
                        - sb * greatest(n_half_a, 1) AS HUGEINT)) AS sdd
      FROM halves h JOIN pops p USING (label)
      GROUP BY h.label, da, db
    )
    SELECT label, n_half_a, n_half_b,
           round(sqrt(CAST(sdd AS DOUBLE)) / (da * db) / 1000000.0, 6)
             AS centroid_l2_drift
    FROM folded
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: per label, the L2 distance
    between the class centroid of one corpus half and the other
    (vec_id parity stands in for old-crawl / new-crawl) — the
    model-input drift check that complements source_drift_detect's
    text-length view with the embedding modality.

    Robustness: the half-vs-half comparison is a FULL OUTER join per
    (label, dim) with missing sums as 0 — a label present in only one
    half (the most-drifted case: a brand-new class) reports its
    centroid norm as drift instead of vanishing.

    Parity (the embedding_label_outliers micro-unit trick — r2 ADVICE
    flagged the previous formulation's round() of a derived double):
    values quantize ONCE at ingestion to exact micro-unit integers vi;
    per-dim mean difference ma−mb = (sa·nb − sb·na)/(na·nb), so with
    per-label populations na, nb constant across dims the whole fold is
    Σ_d (sa_d·nb − sb_d·na)² — exact 128-bit integers — and the only
    double ops are one sqrt, two fixed-order divisions, one final
    round(6).  No derived double is ever rounded before aggregation.
    (Missing dims of a shorter vector contribute 0 to its half's sum —
    zero-padded semantics; exact while na·nb ≲ 3e15, far past any
    realistic per-label population.)

    100 TB shape: posexplode is linear; the (label, half, dim)
    aggregate is the classic partial-agg shuffle; everything after it
    operates on |labels| x dims rows — tiny."""
    e = load_table(spark, "embeddings", sf_dir)
    dims = e.select(
        "label", (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "valf"),
    ).select(
        "label", "half", "dim",
        (
            F.round(F.col("valf").cast("double"), 6)
            .cast("decimal(18,6)") * 1000000
        ).cast("long").alias("vi"),
    )
    sums = dims.groupBy("label", "half", "dim").agg(F.sum("vi").alias("s"))
    # per-half vector counts ride the same exploded stream: dim 0
    # appears once per non-empty vector, so no second fact-table scan
    pops = dims.filter(F.col("dim") == 0).groupBy("label").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("n_half_a"),
        F.count(F.when(F.col("half") == 1, 1)).alias("n_half_b"),
    )
    a = sums.filter(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa")
    )
    b = sums.filter(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb")
    )
    halves = a.join(b, ["label", "dim"], "full_outer").select(
        "label",
        F.coalesce("sa", F.lit(0)).alias("sa"),
        F.coalesce("sb", F.lit(0)).alias("sb"),
    )
    da = F.greatest(F.col("n_half_a"), F.lit(1))
    db = F.greatest(F.col("n_half_b"), F.lit(1))
    num = (
        F.col("sa").cast("decimal(38,0)") * db
        - F.col("sb").cast("decimal(38,0)") * da
    )
    folded = (
        halves.join(F.broadcast(pops), "label")
        .groupBy("label")
        .agg(
            F.max("n_half_a").alias("n_half_a"),
            F.max("n_half_b").alias("n_half_b"),
            F.sum(num * num).alias("sdd"),
        )
    )
    return folded.select(
        "label", "n_half_a", "n_half_b",
        F.round(
            F.sqrt(F.col("sdd").cast("double"))
            / (F.greatest(F.col("n_half_a"), F.lit(1))
               * F.greatest(F.col("n_half_b"), F.lit(1)))
            / F.lit(1000000.0),
            6,
        ).alias("centroid_l2_drift"),
    )


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM hourly),
    spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
                  FROM bounds) g
    ),
    dense AS (
      SELECT s.event_type, s.h, coalesce(n, 0) AS n
      FROM spine s LEFT JOIN hourly USING (event_type, h)
    ),
    rates AS (
      SELECT event_type,
             round(sum(n)::DOUBLE / count(*), 6) AS mean_n
      FROM dense GROUP BY event_type
    ),
    cusum AS (
      SELECT d.event_type, d.h,
             SUM(CAST(n AS DECIMAL(18,6))
                 - CAST(round(mean_n, 6) AS DECIMAL(18,6)))
               OVER (PARTITION BY d.event_type ORDER BY d.h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s
      FROM dense d JOIN rates USING (event_type)
    ),
    ranked AS (
      SELECT event_type, h, s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(s) DESC, h) AS rn
      FROM cusum
    )
    SELECT event_type, h AS changepoint_hour,
           CAST(s AS DOUBLE) AS cusum_at_peak
    FROM ranked WHERE rn = 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: cumulative sum of
    (hourly count - mean rate) over the DENSE hour spine; the hour
    where |CUSUM| peaks is the most likely rate-change point (Page's
    cumulative-sum test — the drift detector that catches gradual rate
    shifts the per-point z-score/MAD screens miss).

    The spine (time_gapfill_interpolate's pattern) matters: silent
    hours count as n=0, so a complete outage — the starkest rate
    change — accumulates full negative deviation instead of being
    invisible to a present-hours-only scan.

    Parity: the running sum accumulates exact DECIMALs over the
    window's defined hour order, so it is bit-identical across engines
    and parallelism; only the final output casts to double.

    100 TB shape: hourly pre-aggregation collapses the stream to
    |types| x |hours| rows; the generated spine, per-type window, and
    peak pick (WindowGroupLimit) all run over that tiny frame."""
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    hours = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    spine = e.select("event_type").distinct().crossJoin(F.broadcast(hours))
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n")
    )
    rates = dense.groupBy("event_type").agg(
        F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 6)
         .alias("mean_n")
    )
    win = (
        W.partitionBy("event_type").orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cusum = dense.join(F.broadcast(rates), "event_type").select(
        "event_type", "h",
        F.sum(
            F.col("n").cast("decimal(18,6)")
            - F.round("mean_n", 6).cast("decimal(18,6)")
        ).over(win).alias("s"),
    )
    rank_w = W.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.asc("h")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", F.col("h").alias("changepoint_hour"),
            F.col("s").cast("double").alias("cusum_at_peak"),
        )
    )


@register(
    "lineitem_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(round(l_extendedprice, 6) AS DECIMAL(18,6)))
               AS revenue_d
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(revenue_d) AS total_d FROM rev),
    ranked AS (
      SELECT l_partkey, revenue_d,
             SUM(revenue_d) OVER (
               ORDER BY revenue_d DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_d
      FROM rev
    )
    SELECT l_partkey,
           CAST(revenue_d AS DOUBLE) AS revenue,
           round(CAST(cum_d AS DOUBLE) / CAST(total_d AS DOUBLE), 6)
             AS cum_share,
           CASE WHEN CAST(cum_d AS DOUBLE) / CAST(total_d AS DOUBLE) <= 0.8
                  THEN 'A'
                WHEN CAST(cum_d AS DOUBLE) / CAST(total_d AS DOUBLE) <= 0.95
                  THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked CROSS JOIN tot
    """,
)
def lineitem_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by revenue: the cumulative
    revenue share in descending order splits the catalog into A
    (first 80% of revenue), B (to 95%), C (tail) — the inventory-
    analytics standard.

    This is the one operator family where a GLOBAL ordered cumulative
    sum is the semantics.  The discipline that keeps it tractable at
    100 TB: the ordered window runs over the PER-PART aggregate
    (catalog cardinality, ~30x reduced from lineitem — materialized
    once), never the fact table; Spark executes the unpartitioned
    window on one task, which is fine at catalog scale — if the
    catalog itself outgrows a task, swap in the two-phase
    range-partition + broadcast-offsets cumsum (the dense_global_ids
    pattern, same module family).  Cumulative sums accumulate exact
    DECIMALs in the window's defined order (parity-safe)."""
    from pyspark.sql import Window as W

    li = load_table(spark, "lineitem", sf_dir)
    # materialized once: the total and the window both consume it
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round("l_extendedprice", 6).cast("decimal(18,6)"))
         .alias("revenue_d")
    ).localCheckpoint()
    tot = rev.agg(F.sum("revenue_d").alias("total_d"))
    win = (
        W.orderBy(F.desc("revenue_d"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = rev.withColumn("cum_d", F.sum("revenue_d").over(win))
    share = F.col("cum_d").cast("double") / F.col("total_d").cast("double")
    return ranked.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        F.col("revenue_d").cast("double").alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B")
         .otherwise("C").alias("abc_class"),
    )


@register(
    "event_hourly_seasonality",
    oracle="""
    WITH by_hour AS (
      SELECT event_type, extract(hour FROM ts)::INTEGER AS hour_of_day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    totals AS (
      SELECT event_type, sum(n) AS total FROM by_hour GROUP BY event_type
    )
    SELECT b.event_type, hour_of_day, n AS n_events,
           round(n::DOUBLE / total, 6) AS share_of_type
    FROM by_hour b JOIN totals t ON b.event_type = t.event_type
    """,
)
def event_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality fingerprint per event type: counts and
    within-type share for each of the 24 daily hours — the profile
    capacity planning and anomaly baselines start from (a z-score/CUSUM
    alert only means something against the expected diurnal shape).

    100 TB shape: one partial-agg shuffle to a |types| x 24 frame;
    per-type totals broadcast back."""
    e = load_table(spark, "events", sf_dir)
    by_hour = e.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = by_hour.groupBy("event_type").agg(F.sum("n").alias("total"))
    return by_hour.join(F.broadcast(totals), "event_type").select(
        "event_type", "hour_of_day", F.col("n").alias("n_events"),
        F.round(F.col("n").cast("double") / F.col("total"), 6)
         .alias("share_of_type"),
    )


@register(
    "embedding_label_outliers",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, u.i AS dim,
             CAST(CAST(round(embedding[u.i+1]::DOUBLE, 6) AS DECIMAL(18,6))
                  * 1000000 AS BIGINT) AS vi
      FROM embeddings,
           LATERAL (SELECT unnest(range(0, len(embedding))) AS i) u
    ),
    sums AS (
      SELECT label, dim, sum(vi) AS s, count(*) AS n
      FROM dims GROUP BY label, dim
    ),
    dists AS (
      SELECT vec_id, d.label, max(n) AS n,
             SUM(CAST(n*vi - s AS HUGEINT) * CAST(n*vi - s AS HUGEINT))
               AS dd
      FROM dims d JOIN sums m ON d.label = m.label AND d.dim = m.dim
      GROUP BY vec_id, d.label
    ),
    scored AS (
      SELECT vec_id, label,
             CAST(dd AS DOUBLE) / (n*n) / 1000000000000.0 AS dist2
      FROM dists
    ),
    cuts AS (
      SELECT label, quantile_cont(dist2, 0.99) AS p99 FROM scored
      GROUP BY label
    )
    SELECT vec_id, s.label, dist2, dist2 > p99 AS is_outlier
    FROM scored s JOIN cuts c ON s.label = c.label
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen in embedding space: each vector's squared L2
    distance to its OWN class centroid, flagged when above the class's
    p99 — the confident-learning-style check that surfaces mislabeled
    or off-distribution examples before they poison contrastive /
    classifier training.

    Parity: the whole distance is INTEGER arithmetic — values become
    exact micro-units vi, and sum_d (vi - s_d/n)^2 is computed as
    sum_d (n*vi - s_d)^2 / (n^2 * 1e12), where numerator sums are
    exact 128-bit/decimal integers.  No DERIVED double (difference,
    mean, product) is ever rounded — engine round() implementations
    disagree on ~1e-7 ties (measured); the single rounding quantizes
    the raw float32 inputs once at ingestion (stable across SFs), and
    the one double division chain is fixed-order on identical inputs.

    100 TB shape: one (label, dim) aggregate (tiny), broadcast back
    onto the exploded stream; one vec_id regroup; p99 cuts are
    |labels| rows broadcast again.  Never pairwise."""
    e = load_table(spark, "embeddings", sf_dir)
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "valf")
    ).select(
        "vec_id", "label", "dim",
        (
            F.round(F.col("valf").cast("double"), 6)
            .cast("decimal(18,6)") * 1000000
        ).cast("long").alias("vi"),
    )
    sums = dims.groupBy("label", "dim").agg(
        F.sum("vi").alias("s"), F.count(F.lit(1)).alias("n")
    )
    term = (F.col("n") * F.col("vi") - F.col("s")).cast("decimal(19,0)")
    dists = (
        dims.join(F.broadcast(sums), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.max("n").alias("n"), F.sum(term * term).alias("dd"))
    )
    scored = dists.select(
        "vec_id", "label",
        (
            F.col("dd").cast("double") / (F.col("n") * F.col("n"))
            / F.lit(1000000000000.0)
        ).alias("dist2"),
    )
    cuts = scored.groupBy("label").agg(
        F.expr("percentile(dist2, 0.99)").alias("p99")
    )
    return scored.join(F.broadcast(cuts), "label").select(
        "vec_id", "label", "dist2",
        (F.col("dist2") > F.col("p99")).alias("is_outlier"),
    )


HLL_BAND = 0.02  # certified max relative error for lgK=14 at this scale


@register(
    "hll_distinct_within_band",
    oracle=f"""{_SLIDING_CONTRIB_SQL}
    SELECT window_end_hour,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
           TRUE AS within_band
    FROM contrib GROUP BY window_end_hour
    """,
)
def hll_distinct_within_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKABLE certificate for the HLL sliding-distinct path
    (VERDICT r4 item 7 — the codec-roundtrip trick applied to
    sketches): joins ``sliding_distinct_users_hll``'s estimates to the
    exact twin and emits, per window, the exact count (oracle-
    predictable) plus ``within_band`` = |est/exact - 1| <= HLL_BAND
    (0.02).  The oracle asserts TRUE for every window, so a hash-green
    driver row certifies the DataSketches HLL pipeline END TO END
    (sketch build, 24-pane union, estimate) — not just its row count.

    This is a CERTIFICATION query: it deliberately runs the exact
    fan-out twin alongside the sketch path to compare them; the
    production swap-in at 100 TB is ``sliding_distinct_users_hll``
    alone."""
    est = sliding_distinct_users_hll(spark, sf_dir)
    exact = sliding_distinct_users(spark, sf_dir)
    return exact.join(est, "window_end_hour").select(
        "window_end_hour",
        F.col("n_distinct_users").alias("n_distinct_exact"),
        (
            F.abs(
                F.col("n_distinct_users_approx")
                / F.col("n_distinct_users") - 1
            ) <= HLL_BAND
        ).alias("within_band"),
    )


@register(
    "events_conversion_funnel",
    oracle=f"""
    WITH {_FUNNEL_SQL}, stages AS (
      SELECT 1 AS stage, 'view' AS event_type,
             (SELECT count(*) FROM t1) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
    )
    SELECT stage, event_type, CAST(n_users AS BIGINT) AS n_users,
           round(n_users::DOUBLE / nullif(lag(n_users) OVER
             (ORDER BY stage), 0), 6) AS conversion_from_prev
    FROM stages
    """,
)
def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED conversion funnel (the product-analytics staple the
    dashboard widgets summarize): a user reaches stage k only via a
    strictly later event than their stage-(k-1) entry — first view,
    then the first click AFTER that view, then the first purchase
    AFTER that click.  Output: per-stage reached-user counts and
    stage-over-stage conversion.

    The stages are ``event_funnel_conversion``'s (``_ordered_funnel``);
    the summary is one lazy global aggregate over them — a count of
    each stage's timestamps — exploded to one row per stage, so
    building the query runs nothing."""
    n = [F.col(f"n{k}") for k in range(len(FUNNEL_STAGES))]
    counts = _ordered_funnel(load_table(spark, "events", sf_dir)).agg(
        *[F.count(f"{s}_ts").alias(f"n{k}") for k, s in enumerate(FUNNEL_STAGES)]
    )
    rows = [
        F.struct(
            F.lit(k + 1).alias("stage"),
            F.lit(s).alias("event_type"),
            n[k].alias("n_users"),
            (F.round(n[k] / F.nullif(n[k - 1], F.lit(0)), 6) if k
             else F.lit(None).cast("double")).alias("conversion_from_prev"),
        )
        for k, s in enumerate(FUNNEL_STAGES)
    ]
    return counts.select(F.inline(F.array(*rows)))


@register("events_markov_transitions", oracle=_TRANSITIONS_SQL)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the navigation-model /
    anomalous-flow screen (a row whose mass shifts toward 'error' is
    the incident signal).  ``_transitions`` as it stands."""
    return _transitions(load_table(spark, "events", sf_dir))


@register(
    "retention_cohort_matrix",
    oracle=f"""
    SELECT epoch_ms(cohort_week) AS cohort_week_ms,
           CAST(week_offset AS INT) AS weeks_since, n_active_users
    FROM ({_COHORT_SQL})
    """,
)
def retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix (THE growth-analytics table):
    ``_cohort_activity`` keyed by the cohort week's epoch millis, with
    an INT week offset."""
    return _cohort_activity(load_table(spark, "events", sf_dir)).select(
        F.unix_millis("cohort_week").alias("cohort_week_ms"),
        F.col("week_offset").cast("int").alias("weeks_since"),
        "n_active_users",
    )


CMS_DEPTH = 4     # independent hash rows
CMS_WIDTH = 256   # buckets per row
CMS_PROBE_K = 20  # probe the exact top-K words (+ deterministic ties)


def _salted_bucket(salt_col, word_col, mod: int):
    """The engine-parity-critical salted hash shared by the CMS and
    Bloom sketches: 60-bit md5 prefix of 'salt:word', mod ``mod`` —
    the SQL twin ('0x'||substr(md5(...),1,15))::BIGINT % mod lives in
    both oracles.  One definition so the two sketch families can never
    silently diverge."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(salt_col.cast("string"), F.lit(":"),
                               word_col)), 1, 15
            ), 16, 10,
        ).cast("long") % mod
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), wc AS (
      SELECT word, CAST(count(*) AS BIGINT) AS exact_n
      FROM words WHERE word != '' GROUP BY word
    ), cells AS (
      SELECT d.depth,
             ('0x' || substr(md5(d.depth::VARCHAR || ':' || word), 1, 15))
               ::BIGINT % {CMS_WIDTH} AS bucket,
             CAST(sum(exact_n) AS BIGINT) AS cell
      FROM wc, (SELECT unnest(range({CMS_DEPTH})) AS depth) d
      GROUP BY d.depth, bucket
    ), probes AS (
      SELECT word, exact_n FROM wc
      ORDER BY exact_n DESC, word ASC LIMIT {CMS_PROBE_K}
    )
    SELECT p.word, p.exact_n,
           CAST(min(c.cell) AS BIGINT) AS cms_estimate,
           min(c.cell) >= p.exact_n AS lower_bounded,
           CAST(min(c.cell) - p.exact_n AS BIGINT) AS overcount
    FROM probes p, (SELECT unnest(range({CMS_DEPTH})) AS depth) d
    JOIN cells c
      ON c.depth = d.depth
     AND c.bucket = ('0x' || substr(md5(d.depth::VARCHAR || ':' || p.word),
                                    1, 15))::BIGINT % {CMS_WIDTH}
    GROUP BY p.word, p.exact_n
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built RELATIONALLY (Cormode & Muthukrishnan
    2005) and probed for the exact top-``CMS_PROBE_K`` words: counts
    fold into a ``CMS_DEPTH``x``CMS_WIDTH`` cell grid via ``CMS_DEPTH``
    salted md5 hashes, a point query is min over the item's
    ``CMS_DEPTH`` cells, and the output certifies the sketch's HARD
    one-sided guarantee (estimate >= exact, always) plus the actual
    overcount per probe.  Both engines build bit-identical sketches
    (same salted hash), so the driver hash-checks the whole
    build→probe path exactly — the codec-roundtrip discipline applied
    to a third sketch family (after HLL and the FFT certificate).

    100 TB shape: the sketch build is ONE map-side-combinable groupBy
    to ``CMS_DEPTH``x``CMS_WIDTH`` cells regardless of corpus size (the
    entire point of CMS); the vocabulary collapses first so the
    ``CMS_DEPTH``-way fan-out runs over distinct words; the probe joins
    the CELL GRID (a broadcast-sized table) to the top-K probe set."""
    d = load_table(spark, "documents", sf_dir)
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint()  # shared by cells + probes
    )
    depths = spark.range(CMS_DEPTH).select(F.col("id").alias("depth"))

    def bucket(depth_col, word_col):
        return _salted_bucket(depth_col, word_col, CMS_WIDTH)

    cells = (
        wc.crossJoin(F.broadcast(depths))
        .groupBy("depth", bucket(F.col("depth"), F.col("word"))
                 .alias("bucket"))
        .agg(F.sum("exact_n").alias("cell"))
    )
    probes = wc.orderBy(F.desc("exact_n"), F.asc("word")) \
        .limit(CMS_PROBE_K)
    # join on (depth, bucket): recompute the probe word's bucket
    probed = (
        probes.crossJoin(F.broadcast(depths))
        .withColumn("bucket", bucket(F.col("depth"), F.col("word")))
        .join(F.broadcast(cells), ["depth", "bucket"])
    )
    return probed.groupBy("word", "exact_n").agg(
        F.min("cell").alias("cms_estimate"),
        (F.min("cell") >= F.col("exact_n")).alias("lower_bounded"),
        (F.min("cell") - F.col("exact_n")).alias("overcount"),
    )


PCTL_ACCURACY = 100          # percentile_approx: rank error <= n/100
PCTL_QS = (0.5, 0.9, 0.99)


@register(
    "approx_percentile_within_band",
    oracle=f"""
    WITH n_t AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT event_type,
           CAST(q * 100 AS INT) AS q_pct, n,
           TRUE AS within_band
    FROM n_t, (SELECT unnest([{', '.join(str(q) for q in PCTL_QS)}]) AS q)
    """,
)
def approx_percentile_within_band(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Rank-error certificate for Spark's ``percentile_approx``
    (Greenwald-Khanna): for each event type and q in ``PCTL_QS``, the
    approximate quantile's EXACT rank interval — ties make a value
    occupy [count(< v) + 1, count(<= v)], not a single rank — must
    OVERLAP the algorithm's guaranteed band q*n ± n/``PCTL_ACCURACY``
    (±1 for boundary rounding); probing only the max rank reports
    out-of-band on tied/discrete columns (a constant column has
    count(<= v) = n for every q).  The approximate VALUE itself is
    merge-order-dependent and never emitted — only the band verdict,
    which the guarantee makes TRUE under any partitioning AND any tie
    structure (so this query also passes the
    registry's parallelism-invariance sweep by construction).

    100 TB shape: the sketch aggregation is the scalable path
    (mergeable summaries, map-side combine); the certificate's exact
    rank probe is one conditional count per (type, q) against the
    type's rows — the audit you run at small scale and on samples, not
    a production dependency."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type", "value"
    ).filter(F.col("value").isNotNull())
    approx = e.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(*[F.lit(q) for q in PCTL_QS]),
            F.lit(PCTL_ACCURACY),
        ).alias("avals"),
        F.count(F.lit(1)).alias("n"),
    )
    per_q = approx.select(
        "event_type", "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in PCTL_QS]).alias("q"),
                F.col("avals").alias("av"),
            )
        ).alias("z"),
    ).select(
        "event_type", "n",
        F.col("z.q").alias("q"), F.col("z.av").alias("av"),
    )
    # null-safe join: a NULL event_type is a legal group in the
    # oracle's plain GROUP BY, so the rank probe must not drop it
    ranked = (
        e.withColumnRenamed("event_type", "et")
        .join(per_q, F.col("et").eqNullSafe(F.col("event_type")))
        .groupBy("event_type", "n", "q", "av")
        .agg(
            F.count(F.when(F.col("value") <= F.col("av"), 1))
            .alias("rank_le"),
            F.count(F.when(F.col("value") < F.col("av"), 1))
            .alias("rank_lt"),
        )
    )
    eps = 1.0 / PCTL_ACCURACY
    lo = F.floor((F.col("q") - eps) * F.col("n")) - 1
    hi = F.ceil((F.col("q") + eps) * F.col("n")) + 1
    # the returned value OCCUPIES the whole rank interval
    # [rank_lt + 1, rank_le] (ties share ranks); the guarantee holds if
    # that interval OVERLAPS the band — testing only rank_le breaks on
    # tied distributions (a constant column has rank_le = n for every q)
    return ranked.select(
        "event_type",
        (F.col("q") * 100).cast("int").alias("q_pct"),
        "n",
        ((F.col("rank_lt") + 1 <= hi) & (F.col("rank_le") >= lo))
        .alias("within_band"),
    )


BLOOM_BITS = 8192   # filter width m
BLOOM_K = 3         # hash functions
BLOOM_MEMBER_MOD = 10  # docs with doc_id % 10 == 0 form the indexed set


@register(
    "bloom_filter_prune_certificate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), member_words AS (
      SELECT DISTINCT word FROM toks
      WHERE doc_id % {BLOOM_MEMBER_MOD} = 0 AND word <> ''
    ), all_words AS (
      SELECT DISTINCT word FROM toks WHERE word <> ''
    ), js AS (SELECT unnest(range({BLOOM_K})) AS j),
    bits AS (
      SELECT DISTINCT ('0x' || substr(md5(j::VARCHAR || ':' || word), 1, 15))
               ::BIGINT % {BLOOM_BITS} AS bit
      FROM member_words, js
    ), probe_bits AS (
      SELECT a.word,
             ('0x' || substr(md5(j.j::VARCHAR || ':' || a.word), 1, 15))
               ::BIGINT % {BLOOM_BITS} AS bit
      FROM all_words a CROSS JOIN js j
    ), hits AS (
      SELECT p.word, count(b.bit) AS nhit
      FROM probe_bits p LEFT JOIN bits b USING (bit)
      GROUP BY p.word
    )
    SELECT CAST((SELECT count(*) FROM member_words) AS BIGINT) AS n_members,
           CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(count(*) FILTER (WHERE m.word IS NULL) AS BIGINT)
             AS n_nonmembers,
           CAST(count(*) FILTER (WHERE m.word IS NOT NULL
                                 AND nhit < {BLOOM_K}) AS BIGINT)
             AS false_negatives,
           CAST(count(*) FILTER (WHERE m.word IS NULL
                                 AND nhit = {BLOOM_K}) AS BIGINT)
             AS false_positives,
           CAST(count(*) FILTER (WHERE m.word IS NULL
                                 AND nhit = {BLOOM_K}) * 1000000
                // GREATEST(count(*) FILTER (WHERE m.word IS NULL), 1)
                AS BIGINT) AS fpr_ppm
    FROM hits h LEFT JOIN member_words m USING (word)
    """,
)
def bloom_filter_prune_certificate(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning, certified (Bloom 1970 — the
    decontamination / runtime-row-filter shape): an "eval suite"
    vocabulary (words of every ``BLOOM_MEMBER_MOD``th document) is
    indexed into an m=``BLOOM_BITS``, k=``BLOOM_K`` filter built
    RELATIONALLY (the set-bit table, salted-md5 positions); every
    corpus word then probes it.  Both engines build bit-identical
    filters, so the driver hash-checks the HARD guarantee — zero
    false negatives, always — plus the measured false-positive rate
    (exact integer ppm), i.e. exactly what a 100 TB decontamination
    pass needs to know before trusting the filter to prune its
    expensive exact join.

    100 TB shape: the filter is <= m rows regardless of corpus size
    and BROADCASTS to every probe task (the point of Bloom pruning);
    the build is one distinct + a ``BLOOM_K``-way fan-out over the
    MEMBER vocabulary only; the probe side stays a vocabulary-sized
    hash aggregation, never a corpus-sized join."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    member_words = (
        toks.filter(F.col("doc_id") % BLOOM_MEMBER_MOD == 0)
        .select("word").distinct().localCheckpoint()
    )
    all_words = toks.select("word").distinct()
    js = spark.range(BLOOM_K).select(F.col("id").alias("j"))

    def bit(j_col, word_col):
        return _salted_bucket(j_col, word_col, BLOOM_BITS)

    bits = (
        member_words.crossJoin(F.broadcast(js))
        .select(bit(F.col("j"), F.col("word")).alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    hits = (
        all_words.crossJoin(F.broadcast(js))
        .withColumn("bit", bit(F.col("j"), F.col("word")))
        .join(F.broadcast(bits), "bit", "left")
        .groupBy("word")
        .agg(F.count("present").alias("nhit"))
    )
    truth = hits.join(
        member_words.withColumn("is_m", F.lit(1)), "word", "left"
    )
    member_count = member_words.agg(
        F.count(F.lit(1)).alias("n_members"))
    bits_count = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    agg = truth.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.count(F.when(F.col("is_m").isNull(), 1)).alias("n_nonmembers"),
        F.count(F.when(F.col("is_m").isNotNull()
                       & (F.col("nhit") < BLOOM_K), 1))
        .alias("false_negatives"),
        F.count(F.when(F.col("is_m").isNull()
                       & (F.col("nhit") == BLOOM_K), 1))
        .alias("false_positives"),
    )
    return (
        agg.crossJoin(F.broadcast(member_count))
        .crossJoin(F.broadcast(bits_count))
        .select(
            "n_members", "bits_set", "n_probes", "n_nonmembers",
            "false_negatives", "false_positives",
            F.expr(
                "CAST(false_positives * 1000000"
                " div GREATEST(n_nonmembers, 1) AS BIGINT)"
            ).alias("fpr_ppm"),
        )
    )


PPS_K = 100               # exact sample size (sum of copies)
N_PPS_PARTITIONS = 32     # range partitions for the two-pass prefix sum


@register(
    "weighted_sample_systematic",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, GREATEST(n_chars, 1) AS w FROM documents
    ), tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS wt FROM sized
    ), cum AS (
      SELECT doc_id, w,
             sum(w) OVER (ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS hi
      FROM sized
    )
    SELECT doc_id, CAST(w AS BIGINT) AS weight,
           CAST((hi * {PPS_K}) // wt
                - ((hi - w) * {PPS_K}) // wt AS BIGINT) AS n_copies
    FROM cum, tot
    WHERE (hi * {PPS_K}) // wt - ((hi - w) * {PPS_K}) // wt >= 1
    """,
)
def weighted_sample_systematic(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Exactly-K systematic PPS sampling (probability proportional to
    size) — the deterministic mixture-construction primitive: lay
    every document's weight (n_chars) end to end on [0, W), drop
    ``PPS_K`` equally-spaced pins, and a document is drawn once per pin
    inside its interval (sum of copies == ``PPS_K`` EXACTLY, large docs
    can be drawn multiple times — the epochs-per-source semantics of
    mixture training).  All selection arithmetic is exact integer
    (hi*K div W), so both engines pick the identical sample — no
    float threshold, no RNG.

    100 TB shape: the corpus-wide running position comes from the
    two-pass prefix sum (range partitions -> per-partition window ->
    ``N_PPS_PARTITIONS`` broadcast offsets), never a single-task global
    window; the global weight total is one scalar broadcast."""
    d = load_table(spark, "documents", sf_dir)
    sized = d.select(
        "doc_id",
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("w"),
    )
    ranged = (
        sized.repartitionByRange(N_PPS_PARTITIONS, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local = (
        W.partitionBy("pid").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local_cum = ranged.withColumn("local_hi", F.sum("w").over(w_local))
    totals = ranged.groupBy("pid").agg(F.sum("w").alias("t"))
    offsets = totals.select(
        "pid",
        (F.sum("t").over(W.orderBy("pid")) - F.col("t")).alias("offset"),
    )
    wt = sized.agg(F.sum("w").alias("wt"))
    cum = (
        local_cum.join(F.broadcast(offsets), "pid")
        .withColumn("hi", F.col("offset") + F.col("local_hi"))
        .crossJoin(F.broadcast(wt))
    )
    copies = cum.select(
        "doc_id",
        F.col("w").alias("weight"),
        F.expr(f"CAST((hi * {PPS_K}) div wt"
               f" - ((hi - w) * {PPS_K}) div wt AS BIGINT)")
        .alias("n_copies"),
    )
    return copies.filter(F.col("n_copies") >= 1)


DECAY_SHIFT = 40   # weights are 2^(SHIFT - age_days): exact BIGINTs
DECAY_TOP_K = 10


@register(
    "events_decayed_heavy_hitters",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    w AS (
      SELECT event_type,
             (epoch_ms(m) - epoch_ms(ts)) // 86400000 AS age_d
      FROM events, mx
    ), s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN age_d <= {DECAY_SHIFT}
                           THEN 1::BIGINT << ({DECAY_SHIFT} - age_d)
                           ELSE 0 END) AS BIGINT) AS decayed_scaled
      FROM w GROUP BY event_type
    )
    SELECT * FROM s
    ORDER BY decayed_scaled DESC, event_type ASC LIMIT {DECAY_TOP_K}
    """,
)
def events_decayed_heavy_hitters(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Exponentially time-decayed heavy hitters (the "trending now"
    ranking): each event contributes 2^(-age_days) with a one-day
    half-life, so yesterday's burst outranks last week's flood.  The
    decay weights are EXACT integers — 2^(``DECAY_SHIFT`` - age_days)
    scaled by 2^``DECAY_SHIFT`` — so both engines sum bit-identical
    BIGINTs; no float pow, no accumulation-order sensitivity.

    100 TB shape: the reference time is ONE broadcast scalar
    (max(ts)); the decayed sum is a single map-side-combinable groupBy
    to event-type cardinality; ranking is a TakeOrdered over that tiny
    aggregate.  Ages beyond ``DECAY_SHIFT`` half-lives contribute
    exactly 0 (true exponential decay's floor at integer scale)."""
    e = load_table(spark, "events", sf_dir).select("event_type", "ts")
    mx = e.agg(F.max("ts").alias("m"))
    aged = e.crossJoin(F.broadcast(mx)).select(
        "event_type",
        ((F.unix_millis("m") - F.unix_millis("ts"))
         / F.lit(86400000)).cast("long").alias("age_d"),
    )
    scored = aged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.expr(
                f"CASE WHEN age_d <= {DECAY_SHIFT} THEN "
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({DECAY_SHIFT} - age_d AS INT)) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).cast("long").alias("decayed_scaled"),
    )
    return scored.orderBy(
        F.desc("decayed_scaled"), F.asc("event_type")
    ).limit(DECAY_TOP_K)


@register(
    "eval_pairwise_copeland",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS a_type, value AS a_val,
             lead(event_type) OVER w AS b_type,
             lead(value) OVER w AS b_val
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    matches AS (
      SELECT least(a_type, b_type) AS x, greatest(a_type, b_type) AS y,
             CASE WHEN a_val > b_val THEN a_type
                  WHEN a_val < b_val THEN b_type
                  ELSE least(a_type, b_type) END AS winner
      FROM seq WHERE b_type IS NOT NULL AND b_type != a_type
    ),
    pairs AS (
      SELECT x, y,
             CAST(count(*) FILTER (winner = x) AS BIGINT) AS wins_x,
             CAST(count(*) FILTER (winner = y) AS BIGINT) AS wins_y
      FROM matches GROUP BY x, y
    ),
    sides AS (
      SELECT x AS contender, wins_x AS w, wins_y AS l FROM pairs
      UNION ALL
      SELECT y AS contender, wins_y AS w, wins_x AS l FROM pairs
    ),
    scores AS (
      SELECT contender,
             CAST(sum(w + l) AS BIGINT) AS n_matches,
             CAST(sum(w) AS BIGINT) AS n_wins,
             CAST(sum(CASE WHEN w > l THEN 1 WHEN w < l THEN -1
                           ELSE 0 END) AS BIGINT) AS copeland_score
      FROM sides GROUP BY contender
    )
    SELECT contender, n_matches, n_wins, copeland_score,
           CAST(row_number() OVER (
             ORDER BY copeland_score DESC, n_wins DESC, contender ASC
           ) AS BIGINT) AS rank
    FROM scores
    """,
)
def eval_pairwise_copeland(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-comparison leaderboard via COPELAND scoring — the
    tournament-ranking shape behind chatbot-arena-style model evals:
    each consecutive same-user event pair is a "match" between two
    contenders (event types), the higher ``value`` wins (exact double
    comparison, no arithmetic; ties to the lexicographically smaller
    type), and a contender's Copeland score is the number of
    head-to-head series it wins minus those it loses.  All counting is
    integer-exact, so rankings are deterministic cross-engine —
    unlike Elo/Bradley-Terry fits, whose iterative float updates the
    oracle cannot hash-check directly — see eval_bradley_terry_fit
    below for the certified version of that fit.

    100 TB shape: the lead window partitions by user_id (one hash
    shuffle, per-user sort — event_transition_matrix's discipline,
    ties broken by event_id); everything downstream is |types|^2
    rows, and the final ranking window runs over the |types|-row
    aggregate only."""
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a_type"),
        F.col("value").alias("a_val"),
        F.lead("event_type").over(w).alias("b_type"),
        F.lead("value").over(w).alias("b_val"),
    ).filter(
        F.col("b_type").isNotNull() & (F.col("b_type") != F.col("a_type"))
    )
    matches = seq.select(
        F.least("a_type", "b_type").alias("x"),
        F.greatest("a_type", "b_type").alias("y"),
        F.when(F.col("a_val") > F.col("b_val"), F.col("a_type"))
        .when(F.col("a_val") < F.col("b_val"), F.col("b_type"))
        .otherwise(F.least("a_type", "b_type"))
        .alias("winner"),
    )
    pairs = matches.groupBy("x", "y").agg(
        F.count(F.when(F.col("winner") == F.col("x"), 1)).alias("wins_x"),
        F.count(F.when(F.col("winner") == F.col("y"), 1)).alias("wins_y"),
    )
    sides = pairs.selectExpr(
        "x AS contender", "wins_x AS w", "wins_y AS l"
    ).unionByName(
        pairs.selectExpr("y AS contender", "wins_y AS w", "wins_x AS l")
    )
    scores = sides.groupBy("contender").agg(
        F.sum(F.col("w") + F.col("l")).alias("n_matches"),
        F.sum("w").alias("n_wins"),
        F.sum(
            F.when(F.col("w") > F.col("l"), 1)
            .when(F.col("w") < F.col("l"), -1)
            .otherwise(0)
        ).alias("copeland_score"),
    )
    rank_w = W.orderBy(
        F.desc("copeland_score"), F.desc("n_wins"), F.asc("contender")
    )
    # ranking window runs over the |types|-row aggregate only
    return scores.select(
        "contender", "n_matches", "n_wins", "copeland_score",
        F.row_number().over(rank_w).cast("long").alias("rank"),
    )


BT_ITERS = 200          # MM iterations (Hunter 2004); converges geometrically


def _bt_mm_fit(games, wins):
    """Hunter-2004 MM fit of Bradley-Terry strengths; returns
    (expected_wins, total_wins, n_matches) per contender.

    Divisions are masked to played pairs: if >=2 contenders end with
    zero total wins their strengths collapse to 0.0 after the first MM
    iteration and strength_i + strength_j = 0 for that pair — an
    unmasked games/0 would poison the sums with inf/NaN even though
    the correct contribution of a zero-strength pairing is 0 expected
    wins (r6 ADVICE)."""
    import numpy as np

    n = games.shape[0]
    total_wins = wins.sum(axis=1)
    strength = np.ones(n)
    pair_sum = np.add.outer(strength, strength)
    mask = games > 0
    for _ in range(BT_ITERS):    # Hunter (2004) MM update
        np.add.outer(strength, strength, out=pair_sum)
        ratio = np.divide(games, pair_sum, out=np.zeros_like(games),
                          where=mask & (pair_sum > 0))
        denom = ratio.sum(axis=1)
        strength = np.where(denom > 0, total_wins / np.maximum(denom, 1e-30),
                            strength)
        strength /= strength.sum()
    np.add.outer(strength, strength, out=pair_sum)
    win_prob = np.divide(strength[:, None] * np.ones_like(games), pair_sum,
                         out=np.zeros_like(games),
                         where=mask & (pair_sum > 0))
    expected = (games * win_prob).sum(axis=1)
    return expected, total_wins, games.sum(axis=1)
BT_BAND_PPM = 1000      # stationarity residual band: 0.1% of matches played


@register(
    "eval_bradley_terry_fit",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS a_type, value AS a_val,
             lead(event_type) OVER w AS b_type,
             lead(value) OVER w AS b_val
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    matches AS (
      SELECT least(a_type, b_type) AS x, greatest(a_type, b_type) AS y,
             CASE WHEN a_val > b_val THEN a_type
                  WHEN a_val < b_val THEN b_type
                  ELSE least(a_type, b_type) END AS winner
      FROM seq WHERE b_type IS NOT NULL AND b_type != a_type
    ),
    pairs AS (
      SELECT x, y,
             CAST(count(*) FILTER (winner = x) AS BIGINT) AS wins_x,
             CAST(count(*) FILTER (winner = y) AS BIGINT) AS wins_y
      FROM matches GROUP BY x, y
    ),
    sides AS (
      SELECT x AS contender, wins_x AS w, wins_y AS l FROM pairs
      UNION ALL
      SELECT y AS contender, wins_y AS w, wins_x AS l FROM pairs
    )
    SELECT contender,
           CAST(sum(w + l) AS BIGINT) AS n_matches,
           CAST(sum(w) AS BIGINT) AS n_wins,
           TRUE AS stationary_within_band
    FROM sides GROUP BY contender
    """,
)
def eval_bradley_terry_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fit over the pairwise-match table — the
    arena-style MLE behind model-eval leaderboards — gated by the
    CERTIFICATE trick (the sketch/codec discipline applied to an
    iterative float fit): the float strengths are never emitted, only
    exact integer win/match counts plus a verdict that the fitted
    strengths satisfy the BT stationarity condition — at the MLE,
    every contender's EXPECTED wins sum(n_ij * w_i / (w_i + w_j))
    equals its ACTUAL wins — to within ``BT_BAND_PPM`` ppm of its
    matches played.  ``BT_ITERS`` Hunter-2004 MM iterations converge
    geometrically on any |types|-sized tournament, so the band is a
    real check of the fit, and the oracle asserts it TRUE.

    100 TB shape: match derivation and pair counting are the
    distributed passes (identical to eval_pairwise_copeland —
    user-keyed window, |types|^2 aggregate); the MM fit runs on the
    collected pair matrix — bounded: |types|^2 rows, the
    driver-sized-artifact precedent of embedding_pca_power's 64x64
    eigensolve."""
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a_type"),
        F.col("value").alias("a_val"),
        F.lead("event_type").over(w).alias("b_type"),
        F.lead("value").over(w).alias("b_val"),
    ).filter(
        F.col("b_type").isNotNull() & (F.col("b_type") != F.col("a_type"))
    )
    matches = seq.select(
        F.least("a_type", "b_type").alias("x"),
        F.greatest("a_type", "b_type").alias("y"),
        F.when(F.col("a_val") > F.col("b_val"), F.col("a_type"))
        .when(F.col("a_val") < F.col("b_val"), F.col("b_type"))
        .otherwise(F.least("a_type", "b_type"))
        .alias("winner"),
    )
    pair_rows = (
        matches.groupBy("x", "y")
        .agg(
            F.count(F.when(F.col("winner") == F.col("x"), 1)).alias("wins_x"),
            F.count(F.when(F.col("winner") == F.col("y"), 1)).alias("wins_y"),
        )
        .collect()  # bounded: |event types|^2 rows (<= 25 here)
    )
    contenders = sorted(
        {r.x for r in pair_rows} | {r.y for r in pair_rows}
    )
    idx = {c: i for i, c in enumerate(contenders)}
    n = len(contenders)
    import numpy as np

    games = np.zeros((n, n))     # games[i][j] = matches between i and j
    wins = np.zeros((n, n))      # wins[i][j] = i's wins over j
    for r in pair_rows:
        i, j = idx[r.x], idx[r.y]
        games[i, j] = games[j, i] = r.wins_x + r.wins_y
        wins[i, j] = r.wins_x
        wins[j, i] = r.wins_y
    expected, total_wins, n_matches = _bt_mm_fit(games, wins)
    ok = np.abs(expected - total_wins) <= n_matches * BT_BAND_PPM / 1e6
    rows = [
        (c, int(n_matches[i]), int(total_wins[i]), bool(ok[i]))
        for i, c in enumerate(contenders)
    ]
    return local_frame(
        spark, rows,
        "contender string, n_matches long, n_wins long, "
        "stationary_within_band boolean",
    )


PASS_K = 5              # pass@k
PASS_THRESHOLD = 50.0   # a "success" is an attempt with value > this


@register(
    "eval_pass_at_k",
    oracle=f"""
    WITH att AS (
      SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (value > {PASS_THRESHOLD}) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id
    ),
    est AS (
      SELECT event_type, user_id, n, c,
             CASE WHEN c = 0 THEN CAST(0 AS BIGINT)
                  WHEN n - c < {PASS_K} THEN CAST(1000000 AS BIGINT)
                  ELSE CAST(round(1e6 * (1.0 - list_reduce(
                    list_transform(range(0, {PASS_K}),
                                   i -> (n - c - i)::DOUBLE / (n - i)),
                    (a, b) -> a * b))) AS BIGINT)
             END AS est_micro
      FROM att
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_problems,
           CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_any_pass,
           round(CAST(sum(est_micro) AS BIGINT)::DOUBLE
                 / count(*) / 1e6, 6) AS pass_at_k
    FROM est GROUP BY event_type
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@``PASS_K`` (Chen et al. 2021, Codex appendix): per
    problem (here a (benchmark=event_type, attempt-group=user) cell
    with n attempts, c successes = value > ``PASS_THRESHOLD``), the
    estimator 1 - C(n-c,``PASS_K``)/C(n,``PASS_K``) computed as the
    left-to-right product fold prod_i (n-c-i)/(n-i) — the SAME fold
    order in both engines, so the doubles are bit-identical (verified)
    — then averaged per benchmark through exact integer micro-units
    (the embedding_label_outliers discipline: never sum raw doubles
    whose accumulation order differs across engines).

    100 TB shape: one map-side-combinable (type, user) aggregate, the
    fold is a JVM expression over a ``PASS_K``-element sequence, and the
    benchmark rollup is |types| rows."""
    e = load_table(spark, "events", sf_dir)
    att = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("value") > PASS_THRESHOLD, 1)).alias("c"),
    )
    prod = F.aggregate(
        F.sequence(F.lit(0), F.lit(PASS_K - 1)),
        F.lit(1.0),
        lambda acc, i: acc
        * ((F.col("n") - F.col("c") - i).cast("double") / (F.col("n") - i)),
    )
    est_micro = (
        F.when(F.col("c") == 0, F.lit(0).cast("long"))
        .when(F.col("n") - F.col("c") < PASS_K, F.lit(1_000_000).cast("long"))
        .otherwise(F.round(F.lit(1e6) * (F.lit(1.0) - prod)).cast("long"))
    )
    est = att.select("event_type", "c", est_micro.alias("est_micro"))
    return est.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_problems"),
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0)).alias("n_any_pass"),
        F.round(
            F.sum("est_micro").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("pass_at_k"),
    )


# --- Bootstrap confidence intervals for arena win rates ----------------

BOOT_B = 100          # bootstrap replicas
BOOT_LO_IDX = 3       # 2.5th-percentile order statistic of B=100
BOOT_HI_IDX = 98      # 97.5th-percentile order statistic of B=100
BOOT_M = 1000         # m-out-of-n resample cap (draws per replica)


@register(
    "eval_win_rate_bootstrap",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS a_type, value AS a_val,
             lead(event_type) OVER w AS b_type,
             lead(value) OVER w AS b_val
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    matches AS (
      SELECT least(a_type, b_type) AS x, greatest(a_type, b_type) AS y,
             CASE WHEN a_val > b_val THEN a_type
                  WHEN a_val < b_val THEN b_type
                  ELSE least(a_type, b_type) END AS winner
      FROM seq WHERE b_type IS NOT NULL AND b_type != a_type
    ),
    pairs AS (
      SELECT x, y,
             CAST(count(*) FILTER (winner = x) AS BIGINT) AS wins_x,
             CAST(count(*) AS BIGINT) AS n
      FROM matches GROUP BY x, y
    ),
    reps AS (
      SELECT x, y, wins_x, n, least(n, {BOOT_M}) AS m, t.r
      FROM pairs, LATERAL (SELECT unnest(range(0, {BOOT_B})) AS r) t
    ),
    resampled AS (
      SELECT x, y, n, m, r,
             CAST(count(*) FILTER (
               ('0x' || substr(md5(
                  x || '|' || y || '|' || r || '|' || u.i), 1, 15))::BIGINT
                % n < wins_x) AS BIGINT) AS wins_r
      FROM reps, LATERAL (SELECT unnest(range(0, m)) AS i) u
      GROUP BY x, y, n, m, r
    ),
    ranked AS (
      SELECT x, y, n, m, wins_r,
             row_number() OVER (
               PARTITION BY x, y ORDER BY wins_r, r) AS rn
      FROM resampled
    ),
    ci AS (
      SELECT x, y, n, m,
             max(CASE WHEN rn = {BOOT_LO_IDX} THEN wins_r END) AS w_lo,
             max(CASE WHEN rn = {BOOT_HI_IDX} THEN wins_r END) AS w_hi
      FROM ranked GROUP BY x, y, n, m
    )
    SELECT p.x, p.y, p.n AS n_matches,
           round(p.wins_x::DOUBLE / p.n, 6) AS win_rate_x,
           round(greatest(0.0,
             p.wins_x::DOUBLE / p.n
             - (p.wins_x::DOUBLE / p.n - c.w_lo::DOUBLE / c.m)
               * sqrt(c.m::DOUBLE / p.n)), 6) AS ci_lo,
           round(least(1.0,
             p.wins_x::DOUBLE / p.n
             + (c.w_hi::DOUBLE / c.m - p.wins_x::DOUBLE / p.n)
               * sqrt(c.m::DOUBLE / p.n)), 6) AS ci_hi,
           (p.wins_x::DOUBLE / p.n
              - (p.wins_x::DOUBLE / p.n - c.w_lo::DOUBLE / c.m)
                * sqrt(c.m::DOUBLE / p.n) > 0.5
            OR p.wins_x::DOUBLE / p.n
              + (c.w_hi::DOUBLE / c.m - p.wins_x::DOUBLE / p.n)
                * sqrt(c.m::DOUBLE / p.n) < 0.5) AS significant
    FROM pairs p JOIN ci c ON p.x = c.x AND p.y = c.y
    """,
)
def eval_win_rate_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% confidence intervals for arena win rates — the
    question Copeland/Bradley-Terry rankings can't answer: is A>B
    SIGNIFICANT or a coin-flip at this sample size?  Matches are the
    same consecutive-event pairs as eval_pairwise_copeland; for each
    contender pair, ``BOOT_B`` bootstrap replicas resample its n matches
    with replacement and the CI is the [``BOOT_LO_IDX``th, ``BOOT_HI_IDX``th]
    order statistic of the replica win rates (percentile bootstrap,
    Efron 1979); `significant` = the CI excludes 0.5.

    Determinism: matches within a pair are exchangeable Bernoulli
    draws, so a resample only needs the SUFFICIENT STATISTIC — draw i
    of replica r wins iff md5(pair|r|i)'s 60-bit value mod n < wins_x
    (the portable token_hash60, bias ~n/2^60).  A linear congruential
    draw hash is a TRAP here: stepping (K + s*i) mod n over i=0..n-1
    is EQUIDISTRIBUTED, every replica reproduces exactly wins_x and
    the CI collapses to a point — caught by the width test in
    tests/test_win_rate_bootstrap.py; per-draw md5 restores true
    resampling variance.  No RNG state; doubles appear only in the
    final per-pair expressions, written operand-for-operand identically
    in both engines.

    100 TB shape — the m-out-of-n cap is load-bearing: the naive
    resample draws B x n times per pair, which is CORPUS-LINEAR in
    md5 calls (this op's own first soak measured exponent 0.97, 70 s
    at sf1).  Instead each replica draws m = min(n, ``BOOT_M``) samples
    (the m-out-of-n bootstrap, Bickel/Goetze/van Zwet 1997) and the
    percentile interval contracts around the point estimate by
    sqrt(m/n) — the CLT rate exchange that makes the m-bootstrap
    consistent.  Draw fan-out is then ``BOOT_B`` x ``BOOT_M`` rows PER
    CONTENDER PAIR (|types|^2-bounded, independent of corpus width) as
    a JVM sequence-explode aggregated map-side; the corpus-scale work
    is the same single user-window pass Copeland does, and the
    order-statistic window runs over ``BOOT_B`` rows per pair.  At
    n <= ``BOOT_M`` the factor is exactly 1 and this IS the plain
    percentile bootstrap."""
    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a_type"),
        F.col("value").alias("a_val"),
        F.lead("event_type").over(w).alias("b_type"),
        F.lead("value").over(w).alias("b_val"),
    ).filter(
        F.col("b_type").isNotNull() & (F.col("b_type") != F.col("a_type"))
    )
    matches = seq.select(
        F.least("a_type", "b_type").alias("x"),
        F.greatest("a_type", "b_type").alias("y"),
        F.when(F.col("a_val") > F.col("b_val"), F.col("a_type"))
        .when(F.col("a_val") < F.col("b_val"), F.col("b_type"))
        .otherwise(F.least("a_type", "b_type"))
        .alias("winner"),
    )
    from mediawiki_to_notion_spark.functions import hashing as H

    # r10 (guide §2.4): the per-pair sufficient statistics are the ONLY
    # thing the bootstrap needs — |types|²-bounded rows consumed twice
    # (the replica fan-out and the final CI join), each consumer a
    # separate plan subtree that re-ran the corpus-scale lead()-window
    # pass.  A lazy cache() dedups that work within the single action
    # (first stage populates, second reads) without the extra eager
    # job a localCheckpoint would serialize in front of it — measured
    # at sf0.1 the eager variant cost +0.3 s while this one is neutral
    # locally and halves the corpus work at scale.  bench.py
    # clearCache()s between queries, so nothing persists across runs.
    pairs = matches.groupBy("x", "y").agg(
        F.count(F.when(F.col("winner") == F.col("x"), 1))
        .cast("long").alias("wins_x"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).cache()
    reps = pairs.select(
        "x", "y", "wins_x", "n",
        F.least(F.col("n"), F.lit(BOOT_M)).alias("m"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r"),
    )
    win = (
        H.token_hash60(F.concat_ws("|", "x", "y", "r", "i")) % F.col("n")
        < F.col("wins_x")
    )
    resampled = (
        reps.select(
            "x", "y", "n", "m", "r", "wins_x",
            F.explode(F.sequence(F.lit(0), F.col("m") - 1)).alias("i"),
        )
        .groupBy("x", "y", "n", "m", "r")
        .agg(F.count(F.when(win, 1)).cast("long").alias("wins_r"))
    )
    ranked = resampled.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("x", "y").orderBy("wins_r", "r")),
    )
    ci = ranked.groupBy("x", "y", "n", "m").agg(
        F.max(F.when(F.col("rn") == BOOT_LO_IDX, F.col("wins_r"))).alias("w_lo"),
        F.max(F.when(F.col("rn") == BOOT_HI_IDX, F.col("wins_r"))).alias("w_hi"),
    )
    p_ = F.col("wins_x").cast("double") / F.col("n")
    lo_m = F.col("w_lo").cast("double") / F.col("m")
    hi_m = F.col("w_hi").cast("double") / F.col("m")
    shrink = F.sqrt(F.col("m").cast("double") / F.col("n"))
    ci_lo_raw = p_ - (p_ - lo_m) * shrink
    ci_hi_raw = p_ + (hi_m - p_) * shrink
    return (
        pairs.join(
            ci.withColumnsRenamed({"n": "n_ci"}), ["x", "y"]
        )
        .select(
            "x", "y", F.col("n").alias("n_matches"),
            F.round(p_, 6).alias("win_rate_x"),
            F.round(F.greatest(F.lit(0.0), ci_lo_raw), 6).alias("ci_lo"),
            F.round(F.least(F.lit(1.0), ci_hi_raw), 6).alias("ci_hi"),
            ((ci_lo_raw > 0.5) | (ci_hi_raw < 0.5)).alias("significant"),
        )
    )


@register(
    "similarity_ivf_balance_audit",
    oracle=V.hygiene_oracle(f"""
    WITH {_IVF_ASSIGN_SQL}
    , assigned AS (
      SELECT vec_id, centroid_id FROM assign_scored WHERE rn = 1
    ), occ AS (
      SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors
      FROM assigned GROUP BY centroid_id
    ), tot AS (
      SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM occ
    )
    SELECT o.centroid_id, o.n_vectors,
           round(o.n_vectors::DOUBLE / t.total, 6) AS share,
           round(o.n_vectors::DOUBLE * {N_CENTROIDS} / t.total, 6)
             AS load_factor,
           CAST(row_number() OVER (
             ORDER BY o.n_vectors DESC, o.centroid_id) AS BIGINT)
             AS hotness_rank
    FROM occ o, tot t
    """),
)
def similarity_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list balance audit — the shard-planning number an
    ANN index build checks before serving: per coarse-quantizer list,
    how many vectors landed there, its corpus share, and the load
    factor (n * K / total; 1.0 = perfectly balanced, >>1 = a hot list
    whose probes straggle).  At 100 TB the IVF list IS the shuffle/
    storage partition of every probe (similarity_ivf_probe shuffles by
    centroid_id), so a skewed codebook turns into straggler tasks and
    probe-latency variance — the embedding-space twin of
    join_key_skew_profile, caught at INDEX BUILD time rather than
    query time.

    Scale shape: assignment is the broadcast-codebook map-side pass
    shared with the probe; the audit itself is one map-side-partial
    groupBy to ``N_CENTROIDS`` rows, a broadcast total, and a ranking
    window over the ``N_CENTROIDS``-row result."""
    e = V.hygiene(load_table(spark, "embeddings", sf_dir))
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    scored = e.join(F.broadcast(cent)).select(
        "vec_id", "centroid_id",
        F.round(V.cosine(F.col("embedding"), F.col("c_emb")), 6).alias("cos_c"),
    )
    w_assign = W.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id")
    )
    assigned = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
    )
    occ = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot = occ.agg(F.sum("n_vectors").cast("long").alias("total"))
    return (
        occ.crossJoin(F.broadcast(tot))
        .select(
            "centroid_id", "n_vectors",
            F.round(F.col("n_vectors").cast("double") / F.col("total"), 6)
            .alias("share"),
            F.round(
                F.col("n_vectors").cast("double") * N_CENTROIDS
                / F.col("total"), 6
            ).alias("load_factor"),
            F.row_number().over(
                W.orderBy(F.desc("n_vectors"), F.asc("centroid_id"))
            ).cast("long").alias("hotness_rank"),
        )
    )


# --- Bot / automation screen over inter-arrival regularity --------------

BOT_MIN_EVENTS = 20          # below this, regularity is not evidence
BOT_CV2_MICRO_MAX = 10_000   # cv^2 < 0.01 (cv < 0.1) in micro-units


@register(
    "events_bot_regularity_screen",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_ms(ts) - epoch_ms(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS d
      FROM events
    ), agg AS (
      SELECT user_id,
             CAST(count(d) AS BIGINT) AS n_gaps,
             CAST(sum(d) AS BIGINT) AS s1,
             CAST(sum(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS s2
      FROM gaps WHERE d IS NOT NULL
      GROUP BY user_id
    ), wide AS (
      SELECT user_id, n_gaps, s1, s2,
             CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)) AS s1sq
      FROM agg
    )
    SELECT user_id, n_gaps,
           s1 // n_gaps AS mean_gap_ms,
           CASE WHEN s1 = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(round(
                  (n_gaps * s2 - s1sq)::DOUBLE * 1000000
                  / s1sq::DOUBLE) AS BIGINT) END AS cv2_micro,
           (n_gaps >= {BOT_MIN_EVENTS} AND
              CASE WHEN s1 = 0 THEN TRUE
                   ELSE (n_gaps * s2 - s1sq)::DOUBLE * 1000000
                        / s1sq::DOUBLE < {BOT_CV2_MICRO_MAX} END) AS is_bot
    FROM wide
    """,
)
def events_bot_regularity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation screen on inter-arrival REGULARITY — the
    training-data hygiene pass that drops machine traffic before user
    behaviour feeds analytics or models: humans arrive with bursty,
    high-variance gaps; schedulers and scripts tick.  Per user, the
    squared coefficient of variation of inter-arrival gaps
    cv^2 = n*var/mean^2 = (n*S2 - S1^2)/S1^2 in micro-units; a user
    with >= ``BOT_MIN_EVENTS`` gaps and cv^2 below
    ``BOT_CV2_MICRO_MAX``/1e6 (cv < 0.1) flags as a bot.

    Exactness: gaps are integer epoch-millis; S1 and S2 accumulate as
    DECIMAL(38,0) (d^2 can pass 2^63 for day-scale gaps x thousand-event
    users), so both moment sums are exact and order-independent; the
    single cv^2 division happens once on exact operands, cast to double
    identically in both engines.  S1 = 0 (identical timestamps — the
    purest tick) is cv 0 by definition, guarded against the 0/0.

    100 TB shape: one user-partitioned lag window (the
    lag_interarrival_delta pass) + one map-side-combinable
    groupBy(user_id); output is user-cardinality, no second pass."""
    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))).alias("d"),
    ).filter(F.col("d").isNotNull())
    dd = F.col("d").cast("decimal(38,0)")
    agg = gaps.groupBy("user_id").agg(
        F.count("d").cast("long").alias("n_gaps"),
        F.sum("d").cast("long").alias("s1"),
        F.sum(dd * dd).cast("decimal(38,0)").alias("s2"),
    )
    s1sq = (
        F.col("s1").cast("decimal(38,0)") * F.col("s1").cast("decimal(38,0)")
    )
    num = F.col("n_gaps") * F.col("s2") - s1sq
    cv2 = num.cast("double") * 1_000_000 / s1sq.cast("double")
    return agg.select(
        "user_id", "n_gaps",
        F.expr("CAST(s1 div n_gaps AS BIGINT)").alias("mean_gap_ms"),
        F.when(F.col("s1") == 0, F.lit(0).cast("long"))
        .otherwise(F.round(cv2).cast("long")).alias("cv2_micro"),
        (
            (F.col("n_gaps") >= BOT_MIN_EVENTS)
            & F.when(F.col("s1") == 0, F.lit(True))
               .otherwise(cv2 < BOT_CV2_MICRO_MAX)
        ).alias("is_bot"),
    )


K_ANON = 5  # the classic k-anonymity floor


@register(
    "events_k_anonymity_audit",
    oracle=f"""
    WITH uc AS (
      SELECT user_id, coalesce(event_type, '') AS event_type,
             count(*) AS n
      FROM events GROUP BY user_id, coalesce(event_type, '')
    ), bucketed AS (
      SELECT user_id, event_type,
             CAST(power(2, length(bin(greatest(n - 1, 1)))) AS BIGINT)
               AS n_bucket
      FROM uc
    ), sigs AS (
      SELECT user_id,
             array_to_string(
               list(event_type || ':' || n_bucket ORDER BY event_type),
               ',') AS signature
      FROM bucketed GROUP BY user_id
    )
    SELECT signature, CAST(count(*) AS BIGINT) AS n_users,
           count(*) < {K_ANON} AS at_risk
    FROM sigs GROUP BY signature
    """,
)
def events_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over behavioural fingerprints (Sweeney 2002)
    — the privacy/compliance check a dataset release runs next to PII
    redaction: treat each user's generalized activity profile (event
    types with counts rounded UP to powers of two — the standard
    generalization step; exact raw counts would make almost every user
    unique and the audit vacuous) as a quasi-identifier, and report
    each signature's population.  A signature shared by fewer than
    ``K_ANON`` users is a re-identification risk: releasing "type
    histograms per user" would single those users out.

    Exactness: the power-of-two bucket is the integer bitlength trick
    (2^bitlength(n-1), never float log2 — training_length_bucket's
    edge rule); the signature is the type-sorted 'type:bucket' join,
    deterministic in both engines.

    100 TB shape: one map-side-partial (user, type) aggregate, one
    per-user collect-sort over its OWN handful of type rows (bounded
    by |types|, not events), one signature groupBy — all shuffles key
    on user_id or the signature hash; output is signature-cardinality."""
    e = load_table(spark, "events", sf_dir)
    # NULL event types coalesce to '' BEFORE grouping (null-injection
    # sweep finding: concat_ws SKIPS nulls while SQL || PROPAGATES
    # them, so unguarded nulls produce different signatures per engine)
    uc = e.groupBy(
        "user_id", F.coalesce("event_type", F.lit("")).alias("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    bucket = F.pow(
        F.lit(2), F.length(F.bin(F.greatest(F.col("n") - 1, F.lit(1))))
    ).cast("long")
    sigs = (
        uc.select("user_id", "event_type", bucket.alias("n_bucket"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("event_type").alias("event_type"),
                                F.col("n_bucket").alias("n_bucket"),
                            )
                        )
                    ),
                    lambda s: F.concat_ws(
                        ":", s["event_type"], s["n_bucket"].cast("string")
                    ),
                ),
                ",",
            ).alias("signature")
        )
    )
    return sigs.groupBy("signature").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.count(F.lit(1)) < K_ANON).alias("at_risk"),
    )


@register(
    "events_ab_cuped",
    oracle="""
    WITH bounds AS (
      SELECT (CAST(min(epoch_ms(ts)) AS BIGINT)
              + CAST(max(epoch_ms(ts)) AS BIGINT)) // 2 AS cut_ms
      FROM events
      WHERE value IS NOT NULL
    ), per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(coalesce(sum(CASE WHEN epoch_ms(ts) < b.cut_ms
               THEN CAST(round(value * 1000000) AS BIGINT) END), 0)
               AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN epoch_ms(ts) >= b.cut_ms
               THEN CAST(round(value * 1000000) AS BIGINT) END), 0)
               AS BIGINT) AS y
      FROM events, bounds b
      WHERE value IS NOT NULL
      GROUP BY user_id, b.cut_ms
    ), moments AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
             sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
      FROM per_user
    ), per_variant AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx_v,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy_v
      FROM per_user GROUP BY variant
    )
    , guarded AS (
      SELECT n, sx, sy, sxy,
             (n * sxx - sx * sx)::DOUBLE AS vx,
             (n * syy - sy * sy)::DOUBLE AS vy,
             (n * sxy - sx * sy)::DOUBLE AS cxy
      FROM moments
    )
    SELECT CAST(v.variant AS BIGINT) AS variant, v.n_users,
           round(v.sy_v::DOUBLE / v.n_users / 1000000, 6) AS mean_post,
           round((v.sy_v::DOUBLE / v.n_users
                  - (CASE WHEN m.vx = 0 THEN 0.0 ELSE m.cxy / m.vx END)
                    * (v.sx_v::DOUBLE / v.n_users - m.sx::DOUBLE / m.n))
                 / 1000000, 6) AS mean_post_cuped,
           round(CASE WHEN m.vx = 0 THEN 0.0 ELSE m.cxy / m.vx END, 6)
             AS theta,
           round(CASE WHEN m.vx = 0 OR m.vy = 0 THEN 0.0
                 ELSE m.cxy * m.cxy / (m.vx * m.vy) END, 6)
             AS var_reduction
    FROM per_variant v, guarded m
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (Deng et al., WSDM 2013 — the
    variance-reduction technique every experimentation platform runs):
    users split into variants by id parity, the experiment window is
    the second half of the event range, the first half is the
    PRE-PERIOD covariate; the adjusted metric y' = y - theta*(x - E[x])
    with theta = cov(x,y)/var(x) removes the between-user variance the
    pre-period explains, and var_reduction = corr(x,y)^2 is exactly the
    fraction of metric variance CUPED eliminates.

    Exactness: per-event values quantize once to integer micro-units
    (round(value*1e6), identical in both engines); per-user pre/post
    sums are exact BIGINT; the five pooled moments accumulate as
    DECIMAL(38,0) (per-user sums square past 2^63 — the bot-screen
    overflow discipline), so theta and every reported mean derive from
    EXACT sums in a handful of scalar double ops.  The adjusted mean
    uses the algebraic identity mean(y') = mean(y) - theta*(mean_v(x)
    - mean(x)) — per-user adjusted values are never materialized, so
    no engine-order double accumulation exists at all.

    100 TB shape: one groupBy(user_id) over the event scan (the
    cutover scalar broadcasts), then two aggregates over the USER
    table (global moments, per-variant sums) — output is
    |variants| rows."""
    e = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    ms = F.unix_millis("ts")
    bounds = e.agg(
        F.expr("CAST((CAST(min(unix_millis(ts)) AS BIGINT)"
               " + CAST(max(unix_millis(ts)) AS BIGINT)) div 2 AS BIGINT)")
        .alias("cut_ms")
    )
    vmic = F.round(F.col("value") * 1_000_000).cast("long")
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", "cut_ms")
        .agg(
            F.coalesce(
                F.sum(F.when(ms < F.col("cut_ms"), vmic)), F.lit(0)
            ).cast("long").alias("x"),
            F.coalesce(
                F.sum(F.when(ms >= F.col("cut_ms"), vmic)), F.lit(0)
            ).cast("long").alias("y"),
        )
        .select(
            (F.col("user_id") % 2).cast("long").alias("variant"), "x", "y"
        )
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    moments = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(yd * yd).alias("syy"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("decimal(38,0)").alias("sx_v"),
        F.sum("y").cast("decimal(38,0)").alias("sy_v"),
    )
    j = per_variant.crossJoin(F.broadcast(moments))
    cnum = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    cden = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cdeny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # zero-variance guards (adversarial-sweep finding: the one-hot-user
    # fixture makes var(x) exactly 0 and ANSI divide raises): no
    # covariate signal -> theta 0 -> CUPED degrades to the raw mean
    theta = F.when(cden == 0, F.lit(0.0)).otherwise(cnum / cden)
    mean_y_v = F.col("sy_v").cast("double") / F.col("n_users")
    mean_x_v = F.col("sx_v").cast("double") / F.col("n_users")
    mean_x = F.col("sx").cast("double") / F.col("n")
    return j.select(
        "variant", "n_users",
        F.round(mean_y_v / 1_000_000, 6).alias("mean_post"),
        F.round(
            (mean_y_v - theta * (mean_x_v - mean_x)) / 1_000_000, 6
        ).alias("mean_post_cuped"),
        F.round(theta, 6).alias("theta"),
        F.round(
            F.when((cden == 0) | (cdeny == 0), F.lit(0.0))
            .otherwise(cnum * cnum / (cden * cdeny)), 6
        ).alias("var_reduction"),
    )


# --- Holt linear-trend forecasting ---------------------------------------

HOLT_ALPHA = 0.5    # level smoothing — binary-exact so double math is
HOLT_BETA = 0.25    # reproducible cross-engine; trend smoothing


def _nation_month_series(spark: SparkSession, sf_dir: str,
                         min_months: int) -> DataFrame:
    """Monthly revenue per nation as one sorted list per series:
    ``(n_name, n_months, xs)``, ``xs`` the month sums in month order,
    for nations with at least ``min_months`` months.  Each month sums
    exactly as DECIMAL(18,2) and casts to double once, so the folds
    downstream start from the same doubles in both engines.

    Scale shape: the corpus collapses to the (nation, month) table in
    one map-side-partial agg behind the dimension joins; each series
    is bounded by the calendar (~84 months at any TPC-H scale —
    series length grows with time, not data volume)."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    monthly = (
        # customer is NOT a bounded dimension like nation — an
        # unconditional F.broadcast would flip to a driver OOM at
        # extreme SF instead of degrading (VERDICT r8 watch item).
        # No hint: Catalyst broadcasts the 2-int projection while it
        # fits autoBroadcastJoinThreshold (64 MB conf — every tested
        # SF, plan-asserted in tests/test_plan_quality.py) and
        # degrades to a shuffle join past it, same pattern SCALING.md
        # documents for the vocab broadcasts.
        o.join(c.select("c_custkey", "c_nationkey"),
               o["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long").alias("m"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("x")
        )
    )
    return (
        monthly.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("m"), F.col("x")))
                ),
                lambda s: s["x"],
            ).alias("xs"),
        )
        .filter(F.col("n_months") >= min_months)
    )


def _nation_series_sql(min_months: int) -> str:
    """The ``monthly``/``series`` CTEs: the DuckDB twin of
    ``_nation_month_series``."""
    return f"""monthly AS (
      SELECT n.n_name,
             CAST(date_part('year', o.o_orderdate) * 12
                  + date_part('month', o.o_orderdate) AS BIGINT) AS m,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, m
    ), series AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_months,
             list(x ORDER BY m) AS xs
      FROM monthly GROUP BY n_name
      HAVING count(*) >= {min_months}
    )"""


@register(
    "orders_demand_forecast_holt",
    oracle=f"""
    WITH RECURSIVE {_nation_series_sql(2)}, holt AS (
      -- state at step j = about to consume xs[j] (1-based); the base
      -- has consumed xs[1] via the init (level = x0, trend = x1 - x0)
      SELECT n_name, n_months, xs, CAST(2 AS BIGINT) AS j,
             xs[1] AS l, xs[2] - xs[1] AS t
      FROM series
      UNION ALL
      SELECT n_name, n_months, xs, j + 1,
             {HOLT_ALPHA} * xs[j] + {1 - HOLT_ALPHA} * (l + t),
             {HOLT_BETA} * ({HOLT_ALPHA} * xs[j]
                            + {1 - HOLT_ALPHA} * (l + t) - l)
             + {1 - HOLT_BETA} * t
      FROM holt WHERE j <= n_months
    )
    SELECT n_name, n_months,
           round(l, 6) AS level,
           round(t, 6) AS trend,
           round(l + 1 * t, 6) AS forecast_1,
           round(l + 2 * t, 6) AS forecast_2,
           round(l + 3 * t, 6) AS forecast_3
    FROM holt WHERE j = n_months + 1
    """,
)
def orders_demand_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing (Holt 1957) over monthly
    revenue per nation (``_nation_month_series``, 2+ months) — the
    classic short-horizon demand forecast a warehouse runs on every
    series: level and trend update recursively (alpha ``HOLT_ALPHA``,
    beta ``HOLT_BETA``), h-step forecast = level + h * trend for
    h = 1..3.

    Cross-engine float discipline: the recursion is inherently
    sequential, so instead of avoiding doubles it makes them
    REPRODUCIBLE — the series starts from the same doubles in both
    engines, the smoothing constants are binary-exact (1/2, 1/4) and
    the update is written operand-for-operand identically in both
    engines: Spark folds with `aggregate`, the oracle steps with WITH
    RECURSIVE.  The oracle deliberately does NOT use DuckDB's
    `list_reduce`: its struct lambda mutates the accumulator
    field-by-field, so a trend update reading acc.l sees the
    ALREADY-UPDATED level (reproduced: l=17.0176 vs the correct
    17.2422 on a 5-point series) — pinned in
    tests/test_holt_forecast.py.  Init: level = x0, trend = x1 - x0,
    fold runs from x1."""
    series = _nation_month_series(spark, sf_dir, 2)
    a, b = HOLT_ALPHA, HOLT_BETA
    init = F.struct(
        F.element_at("xs", 1).alias("l"),
        (F.element_at("xs", 2) - F.element_at("xs", 1)).alias("t"),
    )
    new_l = lambda acc, x: F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["t"])  # noqa: E731
    st = F.aggregate(
        F.slice("xs", 2, F.size("xs") - 1),
        init,
        lambda acc, x: F.struct(
            new_l(acc, x).alias("l"),
            (
                F.lit(b) * (new_l(acc, x) - acc["l"])
                + F.lit(1 - b) * acc["t"]
            ).alias("t"),
        ),
    )
    return series.select("n_name", "n_months", st.alias("st")).select(
        "n_name", "n_months",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.t"), 6).alias("trend"),
        *[F.round(F.col("st.l") + h * F.col("st.t"), 6).alias(f"forecast_{h}")
          for h in (1, 2, 3)],
    )


# --- Holt-Winters additive seasonal forecasting ---------------------------

HW_ALPHA = 0.5    # level   — all three binary-exact (1/2, 1/4, 1/4) so
HW_BETA = 0.25    # trend     the sequential double recursion reproduces
HW_GAMMA = 0.25   # seasonal  bit-for-bit cross-engine
HW_PERIOD = 12    # monthly data, yearly season


def _hw_nl(x: str, si: str, l: str, t: str) -> str:
    return (f"{HW_ALPHA} * ({x} - {si}) "
            f"+ {1 - HW_ALPHA} * ({l} + {t})")


# DataType object, not a DDL string: the string form parses via the
# active SparkContext, which does not exist at module import time.
@pandas_udf(ArrayType(DoubleType()))
def _hw_fold_udf(xs_col: pd.Series) -> pd.Series:
    """Per-series Holt-Winters fold → [level, trend, s1, s2, s3].

    This replaces an ``F.aggregate`` whose 12-slot array-struct lambda
    (the new-level term inlined three times per step) exploded into an
    expression tree Catalyst spent ~8-10 s compiling at EVERY scale
    factor (VERDICT r7 "What's wrong" #3).  The fold itself is tiny —
    one ~84-entry list with a 14-double state per nation — so an
    Arrow-batched Python loop is the right physical plan; what must
    be preserved is the exact IEEE operation order of the WITH
    RECURSIVE oracle, replayed below operation for operation (Python
    floats are the same binary64, smoothing constants binary-exact),
    so results stay bit-identical to the recursive-CTE twin."""
    a, b, g, P = HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD
    out = []
    for arr in xs_col:
        xs = [float(v) for v in arr]
        # left-to-right first-year sum, matching the SQL literal
        l = xs[0]
        for x in xs[1:P]:
            l = l + x
        l = l / float(P)
        t = 0.0
        s = [x - l for x in xs[:P]]
        for x in xs[P:]:
            si = s[0]
            nl = a * (x - si) + (1 - a) * (l + t)
            nt = b * (nl - l) + (1 - b) * t
            s = s[1:] + [g * (x - nl) + (1 - g) * si]
            l, t = nl, nt
        out.append([l, t, s[0], s[1], s[2]])
    return pd.Series(out)


@register(
    "orders_forecast_holt_winters",
    oracle=f"""
    WITH RECURSIVE {_nation_series_sql(HW_PERIOD + 1)}, seeded AS (
      SELECT n_name, n_months, xs,
             ({' + '.join(f'xs[{i}]' for i in range(1, HW_PERIOD + 1))})
               / {float(HW_PERIOD)} AS l0
      FROM series
    ), hw AS (
      SELECT n_name, n_months, xs, CAST({HW_PERIOD + 1} AS BIGINT) AS j,
             l0 AS l, 0.0::DOUBLE AS t,
             list_transform(xs[1:{HW_PERIOD}], v -> v - l0) AS s
      FROM seeded
      UNION ALL
      SELECT n_name, n_months, xs, j + 1,
             {_hw_nl('xs[j]', 's[1]', 'l', 't')},
             {HW_BETA} * (({_hw_nl('xs[j]', 's[1]', 'l', 't')}) - l)
               + {1 - HW_BETA} * t,
             list_append(s[2:],
               {HW_GAMMA} * (xs[j] - ({_hw_nl('xs[j]', 's[1]', 'l', 't')}))
               + {1 - HW_GAMMA} * s[1])
      FROM hw WHERE j <= n_months
    )
    SELECT n_name, n_months,
           round(l, 6) AS level,
           round(t, 6) AS trend,
           round(l + 1 * t + s[1], 6) AS forecast_1,
           round(l + 2 * t + s[2], 6) AS forecast_2,
           round(l + 3 * t + s[3], 6) AS forecast_3
    FROM hw WHERE j = n_months + 1
    """,
)
def orders_forecast_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal forecasting (Winters 1960) per
    nation-month revenue (``_nation_month_series``, at least one
    season plus one month) — completes the forecasting pair: Holt
    tracks level+trend, Holt-Winters adds a rotating
    ``HW_PERIOD``-slot seasonal index, so forecast_h = level + h*trend
    + season[h].  Seeds: level = mean of the first year (explicit
    left-to-right sum so both engines add in the identical order),
    trend = 0, season_i = x_i - level.

    The state is (level, trend, season[``HW_PERIOD``]): Spark folds it
    in ``_hw_fold_udf``, the oracle steps the same array through a
    WITH RECURSIVE list column — the new-level expression is inlined
    verbatim everywhere it appears (trend and seasonal updates) so
    every IEEE operation runs in the same order with the same operands
    in both engines; smoothing constants are binary-exact (1/2, 1/4,
    1/4).  DuckDB's list_reduce is avoided for the Holt reasons
    (mutating struct lambda, pinned in tests/test_holt_forecast.py)."""
    st = _hw_fold_udf("xs")
    return _nation_month_series(spark, sf_dir, HW_PERIOD + 1).select(
        "n_name", "n_months", st.alias("st")
    ).select(
        "n_name", "n_months",
        F.round(F.col("st")[0], 6).alias("level"),
        F.round(F.col("st")[1], 6).alias("trend"),
        *[F.round(F.col("st")[0] + h * F.col("st")[1] + F.col("st")[h + 1], 6)
          .alias(f"forecast_{h}") for h in (1, 2, 3)],
    )
