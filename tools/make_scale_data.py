"""Synthesize a 10x scale-up of /root/testdata/sf0.1 for the scaling
soak (VERDICT r5 item 1): converts the engine's "scales ~linearly"
claim from plan-gated to observed.

Construction (deterministic, one Spark job, raw reads so the physical
schema — every timestamp, events.ts included, as INT64
TIMESTAMP(MICROS, isAdjustedToUTC=false) — is preserved byte-compatible
with the schemas load_table declares):

- region/nation: fixed dimensions at every TPC-H scale factor — copied
  once, NOT multiplied.
- fact/dim tables: 10 copies unioned, every key column offset by
  k * (max_key + 1) so referential joins stay consistent per copy and
  key cardinality scales 10x.  Non-key attributes (prices, dates,
  segments, event ts) are left unchanged: like real TPC-H scaling, the
  time range and group-label domains stay fixed and per-group density
  grows — exactly the regime a 100 TB corpus presents.
- documents: copy k > 0 suffixes every token with "~k", which keeps
  each copy's INTERNAL duplicate/ngram structure identical while
  making copies mutually non-duplicative — duplicate RATE is
  preserved (the dedup queries' selectivity is unchanged) and
  duplicate VOLUME scales linearly.  Naive identical copies would
  flip every document to a 10x exact duplicate and measure a
  different workload.
- embeddings: copy k rotates the 64-dim vector by k positions —
  norms and coordinate distributions preserved, cross-copy cosine
  decorrelated, so ANN/semantic-dedup selectivity stays realistic.

Output: /root/repo/.scale/sf1/*.parquet (gitignored scratch; the
read-only /root/testdata is never touched).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

SRC = os.environ.get("SCALE_SRC", "/root/testdata/sf0.1")
# N_COPIES=10 -> sf1 (the r6 soak default); SCALE_N_COPIES=100 -> sf10
# (the r7 heavy-tail decade).  DST defaults to .scale/sf{N/10}.
N_COPIES = int(os.environ.get("SCALE_N_COPIES", "10"))
# The sign-mask scheme (flip dim i iff ((i+1)*(k+1)) % 11 < 5) is only
# pairwise distinct for multipliers k+1 in 2..10 (mod 11): with more
# copies, multipliers congruent mod 11 (k+1=2 vs 13) would get the SAME
# mask and silently mint exact duplicate embedding copies, corrupting
# scaling/dedup measurements (ADVICE r8).  Fail loudly instead.
if os.environ.get("SCALE_EMB_SIGNS") == "1" and N_COPIES > 10:
    raise SystemExit(
        f"SCALE_EMB_SIGNS=1 supports at most 10 copies (got {N_COPIES}): "
        "sign masks repeat for multipliers congruent mod 11")
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.environ.get(
    "SCALE_DST",
    os.path.join(_ROOT, ".scale",
                 f"sf{N_COPIES // 10}" if N_COPIES % 10 == 0
                 else f"sfx{N_COPIES}"))

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# offsets must be consistent across tables sharing a key domain
KEY_DOMAIN = {
    "c_custkey": "custkey", "o_custkey": "custkey",
    "s_suppkey": "suppkey", "l_suppkey": "suppkey",
    "p_partkey": "partkey", "l_partkey": "partkey",
    "o_orderkey": "orderkey", "l_orderkey": "orderkey",
    "event_id": "event_id", "user_id": "user_id",
    "doc_id": "doc_id", "vec_id": "vec_id",
}


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mediawiki_to_notion_spark.session import get_spark

    spark = get_spark("make_scale_data")
    os.makedirs(DST, exist_ok=True)

    # SCALE_TABLES=documents,embeddings restricts the build (the r8
    # sf100 decade only soaks the pair-output family, so the 10 GB
    # lineitem replication would be pure waste); dims always copy.
    only = os.environ.get("SCALE_TABLES")
    wanted = set(only.split(",")) if only else set(KEY_COLS)

    for t in ("region", "nation"):
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite").parquet(f"{DST}/{t}.parquet")
        print(f"{t}: copied (fixed dim)")

    # one base per key DOMAIN: max over every column mapped to it
    bases: dict[str, int] = {}
    raw = {t: spark.read.parquet(f"{SRC}/{t}.parquet")
           for t in KEY_COLS if t in wanted}
    for t, cols in KEY_COLS.items():
        if t not in wanted:
            continue
        for c in cols:
            mx = raw[t].agg(F.max(c)).collect()[0][0]
            dom = KEY_DOMAIN[c]
            bases[dom] = max(bases.get(dom, 0), int(mx) + 1)

    for t, cols in KEY_COLS.items():
        if t not in wanted:
            continue
        df = raw[t]
        copies = []
        for k in range(N_COPIES):
            c = df
            for col in cols:
                c = c.withColumn(
                    col, F.col(col) + F.lit(k * bases[KEY_DOMAIN[col]]))
            if t == "documents" and k > 0:
                # suffix every (non-empty) token; recompute n_chars
                c = c.withColumn(
                    "text",
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.split("text", " "),
                            lambda w: F.when(w == "", w).otherwise(
                                F.concat(w, F.lit(f"~{k}"))),
                        ),
                    ),
                ).withColumn("n_chars", F.length("text"))
            if t == "embeddings" and k > 0 and os.environ.get(
                    "SCALE_EMB_SIGNS") == "1":
                # STAGE-2 transform (building sfN00 FROM an already
                # rotated sfN0): rotations COMPOSE, so a second rotation
                # stage would mint exact cross-copy duplicates
                # (rot(j)+rot(k) == rot(j')+rot(k') whenever j+k ==
                # j'+k' mod d).  Sign masks don't compose with
                # rotations and are pairwise distinct for k+1 in 2..10:
                # flip dim i iff ((i+1)*(k+1)) % 11 < 5 — the indicator
                # sets m^-1{0..4} differ for every multiplier because
                # {1,2,3,4} is not multiplicatively invariant mod 11.
                # Norm-preserving, identity-free (~5/11 of dims flip).
                m = k + 1
                c = c.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda v, i: F.when(
                            ((i + 1) * m) % 11 < 5, -v).otherwise(v),
                    ),
                )
            elif t == "embeddings" and k > 0:
                # rotate by k mod d; past a full cycle (k >= d, only at
                # N_COPIES > 64) alternate cycles also REVERSE the
                # vector so no two copies share a transform — both ops
                # are norm-preserving and keep cross-copy cosines
                # decorrelated (a repeated transform would mint exact
                # cross-copy duplicates and shift ANN selectivity)
                d = 64
                rot = k % d
                expr = (
                    F.concat(
                        F.slice("embedding", rot + 1, d - rot),
                        F.slice("embedding", 1, rot),
                    ) if rot else F.col("embedding")
                )
                if (k // d) % 2 == 1:
                    expr = F.reverse(expr)
                c = c.withColumn("embedding", expr)
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    sys.exit(main())
