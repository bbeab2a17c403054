r"""Graph operators over corpus-derived graphs (north-star extension).

``pagerank_word_graph`` runs fixed-iteration PageRank over the word
adjacency graph of the documents table — the iterative-algorithm
showcase (link-analysis shape: rank wiki pages by their link graph,
reference FAQ's inter-page link structure) expressed as DataFrame joins
with an *exactly* matching SQL oracle.

Floating-point PageRank cannot hash-match across engines (summation
order changes the last ulp), so ranks are scaled integers: rank_0 =
SCALE//N and every update uses only integer multiply / floor-divide /
mod — bit-identical in Spark and DuckDB at any parallelism, because
integer arithmetic is associative and exact.  The per-edge share
``(r//out)*w + ((r%out)*w)//out`` is the overflow-safe decomposition of
``r*w//out`` (never forms the full r*w product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame
from mediawiki_to_notion_spark.sources.tables import load_table

PR_SCALE = 1_000_000_000_000  # ranks are fractions of this (10^12)
PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping d = 0.85 as a ratio


def _pagerank_oracle() -> str:
    from mediawiki_to_notion_spark.functions.text import ADJ_BIGRAMS_SQL
    ADJ_SQL_BODY = ADJ_BIGRAMS_SQL.strip().rstrip()
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
    it{k} AS (
      SELECT n.token,
             (SELECT ({PR_DAMP_DEN - PR_DAMP_NUM} * {PR_SCALE})
                     // ({PR_DAMP_DEN} * n) FROM nn)
             + ({PR_DAMP_NUM} * coalesce(s.s, 0)) // {PR_DAMP_DEN} AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.b AS token,
               sum((r.rank // o.out_w) * e.w
                   + ((r.rank % o.out_w) * e.w) // o.out_w)::BIGINT AS s
        FROM {prev} r JOIN edges e ON r.token = e.a JOIN outw o ON e.a = o.a
        GROUP BY e.b
      ) s ON n.token = s.token
    )""")
        prev = f"it{k}"
    return f"""
    WITH tokall AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    nodes AS (SELECT DISTINCT token FROM tokall WHERE token != ''),
    nn AS (SELECT count(*) AS n FROM nodes),
    {ADJ_SQL_BODY},
    edges AS (SELECT a, b, count(*) AS w FROM adj GROUP BY a, b),
    outw AS (SELECT a, sum(w)::BIGINT AS out_w FROM edges GROUP BY a),
    r0 AS (
      SELECT token, (SELECT {PR_SCALE} // n FROM nn) AS rank FROM nodes
    ),
    {','.join(iters)}
    SELECT token, rank FROM {prev}
    """


@register("pagerank_word_graph", oracle=_pagerank_oracle())
def pagerank_word_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank(``PR_ITERS`` iterations, d=0.85) over the word-adjacency
    graph: nodes are distinct tokens, an edge a→b with weight w means
    token b followed token a w times.  Dangling mass (tokens that only
    ever end a document) evaporates, identically in both engines.

    Scale shape: edge build is one partial-agg shuffle keyed (a, b);
    each iteration is an equi-join of the rank vector with the edge
    list plus one partial-agg shuffle keyed by destination — the
    standard Pregel-as-DataFrames plan, O(E) per round with no driver
    data movement (only the vocabulary count, computed once).  Lineage
    is truncated per round via localCheckpoint exactly like the CC
    loop."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    tokall = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    from mediawiki_to_notion_spark.functions.text import adjacent_bigrams
    from mediawiki_to_notion_spark.operators import iter_local as IL

    nodes_raw = tokall.distinct()
    adj = adjacent_bigrams(d)
    edges_w = adj.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    outw = edges_w.groupBy("a").agg(F.sum("w").alias("out_w"))
    edges_raw = edges_w.join(outw, "a")

    # Scale cutover (r10, see iter_local.py): rank vector and edge
    # list are vocabulary-sized.  When both fit the cap the all-integer
    # update replays driver-side — Python unbounded ints compute the
    # identical div/mod shares — two vocabulary-aggregation jobs total,
    # no checkpoints.  Past the cap (a web-scale vocabulary) the
    # distributed loop below runs verbatim; the over-cap probes cost
    # one extra vocabulary aggregation, the same accepted trade as the
    # tokenizer cutover.
    nrows = IL.collect_capped(nodes_raw)
    if nrows is not None:
        if not nrows:
            return nodes_raw.select(
                "token", F.lit(0).cast("long").alias("rank"))
        erows = IL.collect_capped(edges_raw)
        if erows is not None:
            local = IL.pagerank_local(
                [r.token for r in nrows],
                [(r.a, r.b, int(r.w), int(r.out_w)) for r in erows],
                PR_ITERS, PR_SCALE, PR_DAMP_NUM, PR_DAMP_DEN,
            )
            return local_frame(
                spark, sorted(local.items()), "token string, rank long"
            )

    # eager checkpoints: nodes and edges are re-referenced every round,
    # and a cached DF would still carry the full tokenize/agg lineage
    # into each round's plan — leaf scans keep per-round Catalyst work
    # flat (see dedup_connected_components for the measured rationale)
    nodes = nodes_raw.localCheckpoint()
    n = nodes.count()
    if n == 0:
        # empty corpus → empty rank vector (the teleport term below
        # divides by |V|; an empty graph must not crash the pipeline)
        return nodes.select("token", F.lit(0).cast("long").alias("rank"))

    edges = edges_raw.localCheckpoint()

    teleport = ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // (PR_DAMP_DEN * n)
    ranks = nodes.select("token", F.lit(PR_SCALE // n).alias("rank"))
    for _ in range(PR_ITERS):
        shares = (
            ranks.join(edges, ranks.token == edges.a)
            .select(
                F.col("b").alias("token"),
                F.expr(
                    "(rank div out_w) * w + ((rank % out_w) * w) div out_w"
                ).alias("share"),
            )
            .groupBy("token")
            .agg(F.sum("share").alias("s"))
        )
        ranks = nodes.join(shares, "token", "left").select(
            "token",
            F.expr(
                f"{teleport}L + ({PR_DAMP_NUM} * coalesce(s, 0L)) "
                f"div {PR_DAMP_DEN}"
            ).alias("rank"),
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _oriented_word_edges(spark: SparkSession, sf_dir: str):
    """(undirected edges, degrees, degree-oriented edges) of the word
    adjacency graph — the shared substrate of the triangle queries.
    Edge list and oriented list are localCheckpointed: each is consumed
    by several plan branches, and the dedup shuffle must run once."""
    from mediawiki_to_notion_spark.functions.text import adjacent_bigrams

    d = load_table(spark, "documents", sf_dir)
    adj = adjacent_bigrams(d)
    eu = (
        adj.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        eu.select(F.col("x").alias("node"))
        .unionAll(eu.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dx, dy = deg.alias("dx"), deg.alias("dy")
    fwd = (F.col("dx.d") < F.col("dy.d")) | (
        (F.col("dx.d") == F.col("dy.d")) & (F.col("x") < F.col("y"))
    )
    o = (
        eu.join(dx, F.col("x") == F.col("dx.node"))
        .join(dy, F.col("y") == F.col("dy.node"))
        .select(
            F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("src"),
            F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("dst"),
        )
        .localCheckpoint()
    )
    return eu, deg, o


def _triangle_oracle() -> str:
    from mediawiki_to_notion_spark.functions.text import ADJ_BIGRAMS_SQL
    return f"""
    WITH {ADJ_BIGRAMS_SQL.strip()},
    eu AS (
      SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
      FROM adj WHERE a != b
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT x AS node FROM eu UNION ALL SELECT y AS node FROM eu
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (dx.d < dy.d) OR (dx.d = dy.d AND x < y)
                  THEN x ELSE y END AS src,
             CASE WHEN (dx.d < dy.d) OR (dx.d = dy.d AND x < y)
                  THEN y ELSE x END AS dst
      FROM eu JOIN deg dx ON eu.x = dx.node JOIN deg dy ON eu.y = dy.node
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM o e1 JOIN o e2 ON e1.dst = e2.src
      WHERE EXISTS (SELECT 1 FROM o e3
                    WHERE e3.src = e1.src AND e3.dst = e2.dst)
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM eu) AS n_edges,
           n_triangles
    FROM tri
    """


@register("graph_triangle_count", oracle=_triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the undirected word-adjacency graph via
    degree orientation (Schank's algorithm, the MapReduce-standard
    formulation): orient every edge from its lower-(degree, id) endpoint
    to the higher one — a DAG in which each triangle survives as exactly
    one directed wedge a→b→c closed by a→c — then count wedges that
    close, as one equi-join plus one semi-join.

    100 TB shape: orientation bounds every node's out-degree by
    O(sqrt(|E|)), so the wedge join's fan-out is capped and the hot
    high-degree hub never pairs its full neighborhood (the reason plain
    wedge counting dies on power-law graphs).  Edge list is
    localCheckpointed: dedup shuffle runs once, not once per consumer.
    Joins are equi-joins on node ids."""
    eu, deg, o = _oriented_word_edges(spark, sf_dir)
    e1, e2 = o.alias("e1"), o.alias("e2")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("wa"), F.col("e2.dst").alias("wc")
    )
    tris = wedges.join(
        o,
        (F.col("wa") == F.col("src")) & (F.col("wc") == F.col("dst")),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = eu.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return counts.crossJoin(tris).select("n_nodes", "n_edges", "n_triangles")


def _clustering_oracle() -> str:
    from mediawiki_to_notion_spark.functions.text import ADJ_BIGRAMS_SQL
    return f"""
    WITH {ADJ_BIGRAMS_SQL.strip()},
    eu AS (
      SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y
      FROM adj WHERE a != b
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT x AS node FROM eu UNION ALL SELECT y AS node FROM eu
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (dx.d < dy.d) OR (dx.d = dy.d AND x < y)
                  THEN x ELSE y END AS src,
             CASE WHEN (dx.d < dy.d) OR (dx.d = dy.d AND x < y)
                  THEN y ELSE x END AS dst
      FROM eu JOIN deg dx ON eu.x = dx.node JOIN deg dy ON eu.y = dy.node
    ),
    tris AS (
      SELECT e1.src AS ta, e1.dst AS tb, e2.dst AS tc
      FROM o e1 JOIN o e2 ON e1.dst = e2.src
      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    pertri AS (
      SELECT node, count(*) AS t FROM (
        SELECT ta AS node FROM tris
        UNION ALL SELECT tb FROM tris
        UNION ALL SELECT tc FROM tris
      ) GROUP BY node
    )
    SELECT d.node, d.d AS degree,
           coalesce(t, 0) AS n_triangles,
           CASE WHEN d.d >= 2
                THEN round(2.0 * coalesce(t, 0) / (d.d * (d.d - 1)), 6)
                ELSE 0.0 END AS clustering_coef
    FROM deg d LEFT JOIN pertri ON d.node = pertri.node
    """


@register("graph_clustering_coefficient", oracle=_clustering_oracle())
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: 2T(v) / (d(v)(d(v)-1)) —
    how much of each word's neighborhood is itself connected (Watts &
    Strogatz), the standard community-structure signal on top of the
    degree-oriented triangle machinery shared with
    graph_triangle_count.

    Each triangle survives orientation as exactly one (a→b→c, a→c)
    wedge closure, so exploding its three vertices counts every
    node's triangles once.  Same 100 TB posture as the global count:
    equi-joins only, fan-out bounded by oriented out-degree."""
    _, deg, o = _oriented_word_edges(spark, sf_dir)
    e1, e2 = o.alias("e1"), o.alias("e2")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("ta"),
        F.col("e1.dst").alias("tb"),
        F.col("e2.dst").alias("tc"),
    )
    tris = wedges.join(
        o,
        (F.col("ta") == F.col("src")) & (F.col("tc") == F.col("dst")),
        "inner",
    ).select("ta", "tb", "tc")
    pertri = (
        tris.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    t0 = F.coalesce(F.col("t"), F.lit(0))
    return deg.join(pertri, "node", "left").select(
        "node",
        F.col("d").alias("degree"),
        t0.alias("n_triangles"),
        F.when(
            F.col("d") >= 2,
            F.round(
                F.lit(2.0) * t0 / (F.col("d") * (F.col("d") - 1)), 6
            ),
        ).otherwise(F.lit(0.0)).alias("clustering_coef"),
    )
