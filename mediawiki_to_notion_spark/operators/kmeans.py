r"""Lloyd's k-means refinement over the embeddings table (north-star
extension: the "train the coarse quantizer" step that turns the
deterministic first-K codebook used by similarity_ivf_probe /
semantic_dedup_clustered into a data-fitted one).

The engine-parity problem with iterative float ML is accumulation
order: a centroid is a mean of member vectors, and double sums are not
associative.  Every update therefore sums coordinates as
DECIMAL(28,12) (exact, order-independent), divides once in double, and
rounds to 6 dp — so Spark and DuckDB produce bit-identical centroids at
every iteration and the whole refinement is value-hash checkable.

Empty clusters keep their previous centroid (the standard Lloyd
fallback), expressed as a per-dimension coalesce in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.functions import vectors as V
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame
from mediawiki_to_notion_spark.sources.tables import load_table

KM_K = 8
KM_ITERS = 2
KM_DIM = 64


def _kmeans_oracle() -> str:
    parts = [f"""
    cent0 AS (
      SELECT vec_id AS cluster_id, embedding::DOUBLE[] AS cent
      FROM embeddings WHERE vec_id < {KM_K}
    )"""]
    for it in range(1, KM_ITERS + 1):
        prev = f"cent{it - 1}"
        parts.append(f"""
    assign{it} AS (
      SELECT e.vec_id, e.embedding, c.cluster_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(
                 e.embedding::DOUBLE[], c.cent), 6) DESC, c.cluster_id
             ) AS rn
      FROM embeddings e CROSS JOIN {prev} c
    ), upd{it} AS (
      SELECT a.cluster_id, d.dim,
             round(CAST(sum(CAST((a.embedding::DOUBLE[])[d.dim+1]
                                 AS DECIMAL(28,12))) AS DOUBLE)
                   / count(*), 6) AS coord
      FROM assign{it} a, LATERAL (SELECT unnest(range(0, {KM_DIM})) AS dim) d
      WHERE a.rn = 1
      GROUP BY a.cluster_id, d.dim
    ), cent{it} AS (
      SELECT g.cluster_id,
             list(coalesce(u.coord, g.old_coord) ORDER BY g.dim) AS cent
      FROM (
        SELECT c.cluster_id, d.dim, c.cent[d.dim+1] AS old_coord
        FROM {prev} c, LATERAL (SELECT unnest(range(0, {KM_DIM})) AS dim) d
      ) g LEFT JOIN upd{it} u
        ON u.cluster_id = g.cluster_id AND u.dim = g.dim
      GROUP BY g.cluster_id
    )""")
        last = f"cent{it}"
    return f"""
    WITH {','.join(parts)}
    SELECT cluster_id, d.dim, cent[d.dim+1] AS coord
    FROM {last}, LATERAL (SELECT unnest(range(0, {KM_DIM})) AS dim) d
    """


@register("kmeans_lloyd_refine", oracle=V.hygiene_oracle(_kmeans_oracle()))
def kmeans_lloyd_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``KM_ITERS`` Lloyd iterations refining the first-``KM_K`` codebook
    (cosine assignment, exact-decimal mean update, 6-dp centroids).

    Scale shape — the canonical distributed k-means plan: the K×dim
    centroid frame broadcasts into every assignment (MLlib collects to
    the driver and re-literalizes; here the same truncation comes from
    an eager per-round localCheckpoint, so the data never leaves the
    cluster); assignment is a map-side cross join + per-vector argmax
    pruned by WindowGroupLimit; the update is one partial-agg shuffle
    keyed (cluster, dim).  The checkpoint keeps every round's plan a
    leaf scan, flat at any iteration count."""
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    # spread the single-file embeddings scan: assignment scoring is a
    # map-side stage and would otherwise serialize through one task
    e = ensure_parallelism(
        V.hygiene(load_table(spark, "embeddings", sf_dir))
    )
    # Scale cutover (r10, see iter_local.py): when the hygiene-filtered
    # vector table fits the cap, the Lloyd rounds replay driver-side
    # with every double operation in the engines' order (dimension-
    # sequential folds, Double.toString-based HALF_UP rounding, exact
    # decimal sums) — bit-identical by tests/test_iter_driver_cutover;
    # past the cap the broadcast-assignment loop below runs verbatim
    # (a 100 TB embedding table must never be collected).
    from mediawiki_to_notion_spark.operators import iter_local as IL

    vrows = IL.collect_capped(e.select("vec_id", "embedding"))
    if vrows is not None:
        cents = IL.lloyd_refine_local(
            [(int(r.vec_id), list(r.embedding)) for r in vrows],
            KM_K, KM_ITERS, KM_DIM,
        )
        return local_frame(
            spark,
            [(cid, d, c) for cid, coords in cents
             for d, c in enumerate(coords)],
            "cluster_id long, dim int, coord double",
        )
    cents = (
        e.filter(F.col("vec_id") < KM_K)
        .select(
            F.col("vec_id").alias("cluster_id"),
            V.to_double_array(F.col("embedding")).alias("cent"),
        )
        .localCheckpoint()
    )
    for _ in range(KM_ITERS):
        cents = _lloyd_round(e, cents).localCheckpoint()
    return cents.select(
        "cluster_id", F.posexplode("cent").alias("dim", "coord")
    )


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast codebook, per-vector
    argmax (WindowGroupLimit prunes to one row pre-exchange)."""
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.asc("cluster_id"))
    return (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "embedding", "cluster_id",
            F.round(
                V.cosine(V.to_double_array(F.col("embedding")), F.col("cent")),
                6,
            ).alias("cos_c"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )


def _lloyd_round(e: DataFrame, cents: DataFrame) -> DataFrame:
    """One assignment + exact-mean update; empty clusters keep their
    previous centroid."""
    assigned = _assign(e, cents)
    upd = (
        assigned.select(
            "cluster_id",
            F.posexplode(V.to_double_array(F.col("embedding"))).alias("dim", "x"),
        )
        .groupBy("cluster_id", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("coord")
        )
    )
    old = cents.select(
        "cluster_id", F.posexplode("cent").alias("dim", "old_coord")
    )
    return (
        old.join(upd, ["cluster_id", "dim"], "left")
        .select(
            "cluster_id", "dim",
            F.coalesce("coord", "old_coord").alias("coord"),
        )
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "coord"))),
                lambda s: s["coord"],
            ).alias("cent")
        )
    )
