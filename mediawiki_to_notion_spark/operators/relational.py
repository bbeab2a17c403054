"""Relational operator inventory (SURVEY.md §2) over the driver star schema.

Each query re-expresses one concrete dataflow step of the reference
pipeline as a declarative DataFrame plan, so Catalyst gets pushdown /
pruning / join-strategy selection for free.  Reference citations are in
each docstring (paths relative to /root/reference/).

Numeric discipline: money/quantity aggregates go through
``DECIMAL(18,2)`` so Spark and the DuckDB oracle produce *bit-identical*
doubles regardless of accumulation order (floating-point sums are
order-dependent; decimal sums are exact).  Timestamps are emitted as
unix epoch milliseconds for the same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.sources.tables import load_table


def dec(c) -> F.Column:
    """Exact decimal view of a double column (engine-proof aggregation)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def dsum(c, alias: str) -> F.Column:
    return F.sum(dec(c)).cast("double").alias(alias)


def ts_ms(c) -> F.Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_millis(col)


# ---------------------------------------------------------------------------
# §2.1 Scans / sources
# ---------------------------------------------------------------------------

@register(
    "scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-01-01'
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected, filtered parquet scan — predicate + column pushdown.

    Reference analogue: the streaming XML scan routing only relevant pages
    onward (process-mw-dump.py:35-89).  `.explain` must show
    PushedFilters + a 3-column ReadSchema.
    """
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.filter(F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@register(
    "point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           epoch_ms(o_orderdate) AS orderdate_ms
    FROM orders
    WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
    """,
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed point get (DynamoDB get_item, upload_notion_blocks.py:88-97).

    Expressed as a broadcast join against a 1-row aggregate so no value is
    collected to the driver.
    """
    o = load_table(spark, "orders", sf_dir)
    mn = o.agg(F.min("o_orderkey").alias("mk"))
    return (
        o.join(F.broadcast(mn), o.o_orderkey == mn.mk, "inner")
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            ts_ms("o_orderdate").alias("orderdate_ms"),
        )
    )


@register(
    "keyed_ordered_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
    ORDER BY l_linenumber
    LIMIT 5
    """,
)
def keyed_ordered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered paginated keyed query — DynamoDB Query with
    ScanIndexForward + Limit (upload_notion_blocks.py:261-266): fetch the
    first ≤N blocks of one batch in index order."""
    l = load_table(spark, "lineitem", sf_dir)
    mn = l.agg(F.min("l_orderkey").alias("mk"))
    return (
        l.join(F.broadcast(mn), l.l_orderkey == mn.mk, "inner")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_linenumber")
        .limit(5)
    )


@register(
    "existence_probe",
    oracle="""
    SELECT count(*) AS has_rows FROM (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
      LIMIT 1
    )
    """,
)
def existence_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Any blocks left for this batch?' — DynamoDB Query Limit=1
    (upload-state-machine.asl.json:156-181)."""
    l = load_table(spark, "lineitem", sf_dir)
    mn = l.agg(F.min("l_orderkey").alias("mk"))
    probe = (
        l.join(F.broadcast(mn), l.l_orderkey == mn.mk, "inner")
        .select(F.lit(1).alias("one"))
        .limit(1)
    )
    return probe.agg(F.count("one").alias("has_rows"))


@register(
    "time_range_scan",
    oracle="""
    SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-03 00:00:00'
                 AND TIMESTAMP '2024-01-05 00:00:00'
    """,
)
def time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StatusTime BETWEEN scan of the dashboard widget
    (notion_pages_custom_widget.py:63-66) — pushed straight into the
    parquet scan; no 1 MB truncation bug by construction.

    The range predicate is on the stored `ts` column, so it reaches the
    parquet scan — at 100 TB this is the difference between scanning two
    days and scanning the table."""
    e = load_table(spark, "events", sf_dir)
    return e.filter(
        F.col("ts").between(
            F.lit("2024-01-03 00:00:00").cast("timestamp"),
            F.lit("2024-01-05 00:00:00").cast("timestamp"),
        )
    ).select(
        "event_id", ts_ms("ts").alias("ts_ms"), "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# §2.5 Joins (the three implicit key relationships, made explicit)
# ---------------------------------------------------------------------------

@register(
    "dim_broadcast_join",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def dim_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Namespace-registry pattern: tiny dimension broadcast-joined to the
    fact (process-mw-dump.py:40-45 ns map → broadcast dict)."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
    )


@register(
    "fact_dim_join_agg",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def fact_dim_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """blocks ⋈ pages on batch_id (upload_notion_blocks.py:237): fact table
    joined to its small per-page dimension, then aggregated."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


@register(
    "semi_join_exists",
    oracle="""
    SELECT c_nationkey, count(*) AS n_customers_with_orders
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join (pages that have stored blocks)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
    )


@register(
    "anti_join_missing",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-right-side error path (upload_notion_blocks.py:92-97,
    208-210): rows with no match become the failure side-output —
    left-anti join."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "left_outer_null_side",
    oracle="""
    SELECT p_brand, count(*) AS n_unreferenced_parts
    FROM part
    LEFT JOIN (SELECT DISTINCT l_partkey FROM lineitem) l
      ON p_partkey = l_partkey
    WHERE l_partkey IS NULL
    GROUP BY p_brand
    """,
)
def left_outer_null_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """blocks ⋈ embedded-files left join; NULL right side = missing-file
    download-failure path (upload_notion_blocks.py:193-212)."""
    p = load_table(spark, "part", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).select("l_partkey").distinct()
    return (
        p.join(l, p.p_partkey == l.l_partkey, "left_outer")
        .filter(F.col("l_partkey").isNull())
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_unreferenced_parts"))
    )


# ---------------------------------------------------------------------------
# §2.5 Explode / ordering / aggregation
# ---------------------------------------------------------------------------

@register(
    "explode_pos_tokens",
    oracle="""
    SELECT t.doc_id, u.i - 1 AS block_index, t.toks[u.i] AS token
    FROM (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 20
    ) t,
    LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) u
    """,
)
def explode_pos_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → ordered block rows: the posexplode that replaces the
    reference's `enumerate(rendered)` loop (store_notion_blocks.py:119-137)."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("block_index", "token"))
    )


@register(
    "window_ordered_replay",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn,
           CAST(floor((row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1) / 3) AS BIGINT) AS chunk
    FROM lineitem
    """,
)
def window_ordered_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered replay per batch + MaxBlocks chunking
    (upload_notion_blocks.py:261-266; chunk loop
    upload-state-machine.asl.json:238-248): sequence blocks within a
    batch and bucket them into fixed-size upload chunks."""
    l = load_table(spark, "lineitem", sf_dir)
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber")
    rn = F.row_number().over(w)
    return l.select(
        "l_orderkey", "l_linenumber",
        rn.alias("rn"),
        F.floor((rn - 1) / 3).alias("chunk"),
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber
             ) AS rn
      FROM lineitem
    ) WHERE rn <= 2
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per key (the sort+limit shape of the keyed block fetch)."""
    l = load_table(spark, "lineitem", sf_dir)
    w = W.partitionBy("l_orderkey").orderBy(F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (
        l.select("l_orderkey", "l_linenumber", "l_extendedprice",
                 F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )


@register(
    "orderby_limit_topn",
    oracle="""
    SELECT event_id, epoch_ms(ts) AS ts_ms, event_type
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 25
    """,
)
def orderby_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard 'most recent first' sort (notion_pages_custom_widget.py:74-76)
    — global top-N; Spark plans this as TakeOrderedAndProject (no full sort)."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.orderBy(F.desc("ts"), F.desc("event_id"))
        .select("event_id", ts_ms("ts").alias("ts_ms"), "event_type")
        .limit(25)
    )


@register(
    "conditional_agg_status_counts",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(CASE WHEN value > 10 THEN 1 END) AS n_big,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def conditional_agg_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Success/fail counting (store_notion_blocks.py:180-181,
    upload_notion_blocks.py:313-314): conditional counts per status."""
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("value") > 10, 1)).alias("n_big"),
        dsum("value", "total_value"),
    )


@register(
    "pivot_type_by_user",
    oracle="""
    SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
    FROM events
    GROUP BY user_id
    """,
)
def pivot_type_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-entity status-count matrix (dashboard summary shape)."""
    e = load_table(spark, "events", sf_dir)
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return e.groupBy("user_id").agg(*aggs)


@register(
    "rollup_hierarchy_counts",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_hierarchy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (region → nation → total)."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two status dimensions."""
    l = load_table(spark, "lineitem", sf_dir)
    return l.cube("l_returnflag", "l_linestatus").agg(dsum("l_quantity", "sum_qty"))


@register(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship hash aggregate (TPC-H Q1 shape) — partial (map-side)
    aggregation + single shuffle on the two group keys; decimal-exact."""
    l = load_table(spark, "lineitem", sf_dir)
    one = F.lit(1).cast("decimal(18,2)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
             .cast("double").alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "count_distinct_exact",
    oracle="""
    SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_suppkey
    """,
)
def count_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase shuffle in Spark)."""
    l = load_table(spark, "lineitem", sf_dir)
    return l.groupBy("l_suppkey").agg(F.countDistinct("l_partkey").alias("n_parts"))


@register(
    "string_agg_ordered_fold",
    oracle="""
    SELECT l_orderkey, string_agg(CAST(l_linenumber AS VARCHAR), ','
             ORDER BY l_linenumber) AS line_list
    FROM lineitem
    WHERE l_orderkey < 1000
    GROUP BY l_orderkey
    """,
)
def string_agg_ordered_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown-table render fold (notion_pages_custom_widget.py:78-91):
    deterministic ordered string aggregation via sorted collect_list."""
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.filter(F.col("l_orderkey") < 1000)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("line_list")
        )
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------

_ACTIVE = "SELECT DISTINCT o_custkey AS custkey FROM orders"
_RICH = "SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000"


@register("set_union_keys",
          oracle=f"{_ACTIVE} UNION {_RICH}")
def set_union_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT of two key sets."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    a = o.select(F.col("o_custkey").alias("custkey")).distinct()
    b = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey")).distinct()
    return a.union(b).distinct()


@register("set_intersect_keys",
          oracle=f"{_ACTIVE} INTERSECT {_RICH}")
def set_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    a = o.select(F.col("o_custkey").alias("custkey")).distinct()
    b = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey")).distinct()
    return a.intersect(b)


@register("set_except_keys",
          oracle=f"{_RICH} EXCEPT {_ACTIVE}")
def set_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    a = o.select(F.col("o_custkey").alias("custkey")).distinct()
    b = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey")).distinct()
    return b.subtract(a)


@register(
    "distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.select("c_mktsegment", "c_nationkey").distinct()


@register(
    "union_all_metric_counters",
    oracle="""
    SELECT 'orders' AS source, o_orderstatus AS key, count(*) AS n
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'events' AS source, event_type AS key, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def union_all_metric_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six EMF metric counters (§1.1 row 12) as a unioned counters
    relation — replaces CloudWatch EMF chunked flushes with observe()-style
    aggregate rows."""
    o = load_table(spark, "orders", sf_dir)
    e = load_table(spark, "events", sf_dir)
    a = o.groupBy(F.col("o_orderstatus").alias("key")).agg(F.count(F.lit(1)).alias("n")) \
         .select(F.lit("orders").alias("source"), "key", "n")
    b = e.groupBy(F.col("event_type").alias("key")).agg(F.count(F.lit(1)).alias("n")) \
         .select(F.lit("events").alias("source"), "key", "n")
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# §2.6 Writes / state transitions — MERGE semantics as a query
# ---------------------------------------------------------------------------

@register(
    "merge_upsert_semantics",
    oracle="""
    SELECT coalesce(c_custkey, s.custkey) AS custkey,
           CASE WHEN c_custkey IS NULL THEN 'insert'
                WHEN s.custkey IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           CAST(coalesce(s.spend, CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS new_balance
    FROM customer
    FULL OUTER JOIN (
      SELECT o_custkey AS custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey
    ) s ON c_custkey = s.custkey
    """,
)
def merge_upsert_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert (page-status transitions, store_notion_blocks.py:140-150 /
    upload_notion_blocks.py:129-152) expressed relationally: full-outer join
    of target and source with insert/update/keep action resolution —
    the exact dataflow a Delta MERGE plans."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    src = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(dec("o_totalprice")).alias("spend"))
    )
    j = c.join(src, c.c_custkey == src.custkey, "full_outer")
    return j.select(
        F.coalesce(c.c_custkey, src.custkey).alias("custkey"),
        F.when(c.c_custkey.isNull(), "insert")
         .when(src.custkey.isNull(), "keep")
         .otherwise("update").alias("action"),
        F.coalesce(src.spend, dec("c_acctbal")).cast("double").alias("new_balance"),
    )


# ---------------------------------------------------------------------------
# Window functions (running state, deltas, ranks)
# ---------------------------------------------------------------------------

@register(
    "running_total_per_user",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value
    FROM events
    """,
)
def running_total_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-key state (block-progress accounting)."""
    e = load_table(spark, "events", sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id", "user_id",
        F.sum(dec("value")).over(w).cast("double").alias("running_value"),
    )


@register(
    "lag_interarrival_delta",
    oracle="""
    SELECT event_id, user_id,
           epoch_ms(ts) - epoch_ms(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
    FROM events
    """,
)
def lag_interarrival_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-arrival gap per key (retry/backoff timing analysis)."""
    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        (ts_ms("ts") - F.unix_millis(F.lag("ts").over(w))).alias("gap_ms"),
    )


@register(
    "rank_within_partition",
    oracle="""
    SELECT c_custkey, c_nationkey,
           rank() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
           ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC, c_custkey) AS bal_quartile
    FROM customer
    """,
)
def rank_within_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_nationkey",
        F.rank().over(w).alias("bal_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
    )


# ---------------------------------------------------------------------------
# Time windows (batch equivalents of the streaming aggregations, §2.9)
# ---------------------------------------------------------------------------

@register(
    "tumbling_window_agg",
    oracle="""
    SELECT epoch_ms(date_trunc('hour', ts)) AS win_start_ms,
           event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregation — the batch shape of the
    streaming `window()` aggregation (SURVEY §2.9)."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(
            F.unix_millis(F.col("win.start")).alias("win_start_ms"),
            "event_type", "n", "total_value",
        )
    )


@register(
    "sliding_window_agg",
    oracle="""
    SELECT epoch_ms(win_start) AS win_start_ms, count(*) AS n
    FROM (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
      FROM events
    )
    GROUP BY win_start
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour window sliding by 1 hour: each event lands in two windows."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis(F.col("win.start")).alias("win_start_ms"), "n")
    )


@register(
    "session_window_agg",
    oracle="""
    WITH brk AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM brk
    )
    SELECT user_id, epoch_ms(min(ts)) AS session_start_ms, count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 5-minute gap — native `session_window` in
    Spark; gaps-and-islands SQL in the oracle."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("win.start")).alias("session_start_ms"),
            "n_events",
        )
    )


@register(
    "trade_volume_nation_pairs",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           count(*) AS n_lineitems,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_nationkey != cn.n_nationkey
    GROUP BY sn.n_name, cn.n_name
    """,
)
def trade_volume_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation trade-flow matrix (TPC-H Q7's shape, undated):
    discounted revenue between every (supplier nation, customer nation)
    pair where the nations differ — the two-dimension star join the
    volume-shipping report runs.

    100 TB shape: lineitem joins orders on the shared orderkey (the one
    big equi-join); customer, supplier, and both nation aliases are
    dimensions and broadcast; revenue accumulates as exact DECIMAL of
    6-dp-rounded products so the matrix is order-independent."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
    ).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .filter(F.col("sn_key") != F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(rev).cast("double").alias("volume"),
        )
    )


RETURNED_TOP_K = 20


@register(
    "returned_item_customers",
    oracle=f"""
    WITH rev AS (
      SELECT c_custkey, c_name, n_name,
             SUM(CAST(round(l_extendedprice * (1 - l_discount), 6)
                      AS DECIMAL(18,6))) AS lost_d,
             count(*) AS n_returned_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
    )
    SELECT c_custkey, c_name, n_name,
           CAST(lost_d AS DOUBLE) AS lost_revenue, n_returned_items
    FROM rev
    ORDER BY lost_d DESC, c_custkey
    LIMIT {RETURNED_TOP_K}
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10's shape, undated): the
    top-``RETURNED_TOP_K`` customers by revenue lost to returns, with
    nationality — the churn-risk report.

    100 TB shape: the returnflag filter pushes into the lineitem scan
    before the one big equi-join (orders); customer and nation
    broadcast; revenue is exact DECIMAL; top-k plans as TakeOrdered
    on the aggregated (per-customer) frame — no global sort."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
    ).cast("decimal(18,6)")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(rev).alias("lost_d"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
    )
    return (
        agg.orderBy(F.desc("lost_d"), F.asc("c_custkey"))
        .limit(RETURNED_TOP_K)
        .select(
            "c_custkey", "c_name", "n_name",
            F.col("lost_d").cast("double").alias("lost_revenue"),
            "n_returned_items",
        )
    )


WIDGET_TZ_OFFSET_MIN = -300  # dashboard viewer at UTC-5, like the widget's
                             # offsetInMinutes handling
WIDGET_TOP_N = 20


@register(
    "dashboard_status_widget",
    oracle=f"""
    WITH recent AS (
      SELECT event_id, ts, event_type,
             row_number() OVER (ORDER BY ts DESC, event_id) AS rn
      FROM events
    )
    SELECT rn,
           strftime(ts + INTERVAL ({WIDGET_TZ_OFFSET_MIN}) MINUTE,
                    '%b %d %H:%M:%S') AS status_time,
           'events/' || event_id::VARCHAR AS page_key,
           event_type AS status,
           '| ' || strftime(ts + INTERVAL ({WIDGET_TZ_OFFSET_MIN}) MINUTE,
                            '%b %d %H:%M:%S')
                || ' | events/' || event_id::VARCHAR || ' | '
                || event_type || ' |' AS row_md
    FROM recent WHERE rn <= {WIDGET_TOP_N}
    """,
)
def dashboard_status_widget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CloudWatch custom widget as ONE query
    (notion_pages_custom_widget.py:63-90): most-recent-first status
    rows rendered as markdown table lines, with the viewer's timezone
    offset applied exactly like the widget's offsetInMinutes handling
    (here a fixed UTC-5 viewer).  Composes the time scan, recency
    top-N, dashboard strftime, and markdown row fold that exist as
    separate operators into the end-user artifact.

    100 TB shape: the recency cut is orderBy().limit() — TakeOrdered,
    never a corpus-wide sort or single-partition window; the rank and
    row assembly run over the ``WIDGET_TOP_N`` surviving rows."""
    e = load_table(spark, "events", sf_dir)
    top = (
        e.select("event_id", "ts", "event_type")
        .orderBy(F.desc("ts"), F.asc("event_id"))
        .limit(WIDGET_TOP_N)
    )
    rn = F.row_number().over(
        W.orderBy(F.desc("ts"), F.asc("event_id"))  # over 20 rows
    )
    shifted = F.col("ts") + F.expr(f"INTERVAL {WIDGET_TZ_OFFSET_MIN} MINUTE")
    t_str = F.date_format(shifted, "MMM dd HH:mm:ss")
    key = F.concat(F.lit("events/"), F.col("event_id").cast("string"))
    return (
        top.withColumn("rn", rn)
        .select(
            "rn",
            t_str.alias("status_time"),
            key.alias("page_key"),
            F.col("event_type").alias("status"),
            F.concat(
                F.lit("| "), t_str, F.lit(" | "), key, F.lit(" | "),
                F.col("event_type"), F.lit(" |"),
            ).alias("row_md"),
        )
    )


@register(
    "orders_open_interval_depth",
    oracle="""
    WITH closes AS (
      SELECT l_orderkey AS okey, max(l_shipdate) AS close_d
      FROM lineitem GROUP BY l_orderkey
    ), intervals AS (
      SELECT o.o_orderdate AS open_d, c.close_d
      FROM orders o JOIN closes c ON o.o_orderkey = c.okey
    ), deltas AS (
      SELECT open_d AS d, count(*) AS n_opened, 0 AS n_closed
      FROM intervals GROUP BY open_d
      UNION ALL
      SELECT close_d AS d, 0, count(*) FROM intervals GROUP BY close_d
    ), days AS (
      SELECT d, CAST(sum(n_opened) AS BIGINT) AS n_opened,
             CAST(sum(n_closed) AS BIGINT) AS n_closed
      FROM deltas GROUP BY d
    )
    SELECT d, n_opened, n_closed,
           CAST(sum(n_opened - n_closed) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS open_depth
    FROM days
    """,
)
def orders_open_interval_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency profile: how many orders are OPEN (placed
    but not yet fully received) at the end of each day — the classic
    active-interval depth pattern behind queue-depth, concurrent-
    session, and WIP dashboards: explode each interval into a +1 at
    open and a -1 at close, aggregate to day granularity, and take the
    running sum.  An order's interval is [o_orderdate,
    max(l_shipdate)] (this dataset's lineitem carries ship dates only);
    orders with no lineitems carry no close event
    and are excluded by the inner join (documented — they never
    entered fulfilment).

    100 TB shape: the fact tables collapse to per-DAY deltas in two
    map-side-partial aggregates before any ordering exists, so the
    running-sum window runs over the bounded day-calendar table
    (~2,500 rows at any TPC-H scale — the explicitly-bounded global
    window precedent of text_zipf_fit), never over orders.  All
    counters are exact integers."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    closes = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.max("l_shipdate").alias("close_d")
    )
    intervals = o.join(closes, o["o_orderkey"] == F.col("okey")).select(
        F.col("o_orderdate").alias("open_d"), "close_d"
    )
    deltas = intervals.groupBy(F.col("open_d").alias("d")).agg(
        F.count(F.lit(1)).alias("n_opened"), F.lit(0).alias("n_closed")
    ).unionByName(
        intervals.groupBy(F.col("close_d").alias("d")).agg(
            F.lit(0).alias("n_opened"), F.count(F.lit(1)).alias("n_closed")
        )
    )
    days = deltas.groupBy("d").agg(
        F.sum("n_opened").cast("long").alias("n_opened"),
        F.sum("n_closed").cast("long").alias("n_closed"),
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return days.select(
        "d", "n_opened", "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w)
        .cast("long").alias("open_depth"),
    )
