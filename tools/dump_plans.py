"""Dump formatted physical plans.

With no arguments, regenerate PLANS.md — the plans of the
scale-sensitive queries, so the plan properties SCALING.md claims
(pushdown, broadcast, partial aggregation, no cartesian products) can
be read directly without running Spark.  With a round, a suffix and
query names, write plans/r<round>/<query>_<suffix>.txt — the
before/after plans an optimization round's claims (Exchange counts,
join strategies, pushed filters) are checked against.

Usage:  python tools/dump_plans.py
        python tools/dump_plans.py <round> <suffix> <query> [<query> ...]
        python tools/dump_plans.py 11 before market_basket_part_pairs

SF dir via SPARK_GRAFT_SF_DIR; default /root/testdata/sf0.01 for
PLANS.md and the bench scale /root/testdata/sf0.1 for round dumps, so
plan literals (AQE initial partitions, derived plane counts) match what
the bench runs.

The dump is the ANALYZED-and-OPTIMIZED physical plan as Spark prints it
(`df.explain("formatted")` equivalent via queryExecution); AQE replans
at runtime on top of these (skew-join split, partition coalescing), so
what ships to a cluster is this plan or better.
"""

from __future__ import annotations

import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mediawiki_to_notion_spark.operators import QUERIES, load_all  # noqa: E402
from mediawiki_to_notion_spark.session import get_spark  # noqa: E402

# (query, what the reader should verify in the plan)
SHOWCASE: list[tuple[str, str]] = [
    ("scan_project_filter",
     "Filter and projection reach the parquet scan: `PushedFilters` is "
     "populated and `ReadSchema` lists only the projected columns."),
    ("agg_pricing_summary",
     "Partial→final hash aggregation (`HashAggregate` twice, map-side "
     "combine) inside one `WholeStageCodegen` span per side of the "
     "exchange; exact DECIMAL sums."),
    ("star_join_shipping_priority",
     "Both dimension sides arrive via `BroadcastExchange` + "
     "`BroadcastHashJoin`; the fact table is never shuffled for the "
     "joins."),
    ("salted_join_orders_customer",
     "The salt column appears in the join keys (`_salt`), spreading a "
     "hot customer across tasks; result is column-identical to the "
     "plain join."),
    ("dedup_minhash_lsh",
     "Candidate generation is a band-signature equi-join "
     "(`SortMergeJoin`/`ShuffledHashJoin` on band keys) — no "
     "`CartesianProduct`, no corpus-sized `BroadcastNestedLoopJoin`."),
    ("similarity_ivf_probe",
     "The coarse codebook is a `BroadcastExchange`; per-probe top-k is "
     "a `WindowGroupLimit` (rank pruned before the final sort)."),
    ("sliding_distinct_users_hll",
     "The `Generate` (24-pane explode) sits ABOVE the partial sketch "
     "aggregate: events aggregate to per-hour sketches first, then "
     "hour-rows fan out 24x — never the raw events."),
    ("pack_sequences_greedy",
     "The corpus-wide prefix sum is a per-range-partition window plus "
     "a broadcast offset join (32 rows) — no single-task global window "
     "over the corpus.  (embedding_pca_power's executor-side reduction "
     "tier can't appear here: its returned frame is the driver-side "
     "eigensolve result — its plan shape is asserted in "
     "tests/test_plan_quality.py::test_embedding_pca_reduction_tier_is_executor_side.)"),
    ("text_gopher_repetition_rules",
     "ZERO exchanges: one `MapInPandas` over the (doc_id, text) scan — "
     "per-document statistics never shuffle."),
    ("cms_heavy_hitters",
     "The sketch build collapses to a fixed 4x256 cell grid via "
     "partial-combinable `HashAggregate`; the probe joins the "
     "broadcast grid, not the corpus."),
    ("bloom_filter_prune_certificate",
     "The set-bit table (<= 8192 rows) is a `BroadcastExchange` on the "
     "probe side — the decontamination pre-filter shape."),
    ("weighted_sample_systematic",
     "The corpus-wide running position is a per-range-partition window "
     "plus a 32-row broadcast offset join — no single-task global "
     "window over the corpus."),
    ("corpus_prepare_pipeline",
     "The end-to-end funnel→dedup→shard composition stays one plan: "
     "semi-joins against the duplicate subgraph, shard window over "
     "survivors only."),
    # r6 additions
    ("dedup_substring_spans_token_exact",
     "The dup-window set and the adjacent hash-PAIR set are both "
     "partial-combinable `HashAggregate`s on 8-byte keys; the lag/"
     "cumsum `Window`s are partitioned by doc_id and run only over "
     "duplicated windows — never the full window stream."),
    ("dedup_simhash",
     "48 per-bit weight sums collapse in ONE partial→final "
     "`HashAggregate` pass (map-side combine); candidates come from "
     "the (band, value) equi-join — no `CartesianProduct` at "
     "production fingerprint width."),
    ("dedup_embedding_cosine_lsh",
     "The corpus-size-derived, probe-aware plane count only changes "
     "literals: the plan stays probe-key explode → bucket equi-join "
     "(`ShuffledHashJoin`, the one join shape of the SRP family) → "
     "Arrow `MapInPandas` verification — "
     "2^planes tracks n·(p+1)/32 (SCALING.md r7) over decorrelated "
     "hyperplanes."),
    ("dedup_embedding_cosine_lsh_multitable",
     "r8 sf100 rebuild: ONE Arrow `MapInPandas` computes both tables' "
     "bucket ids (the column-expression folds were interpreted "
     "O(n·npl²·d)); per table, a `ShuffledHashJoin` on the probe key "
     "carries the vectors so the Arrow verify kernel consumes the join "
     "output pipelined — no candidate-id materialization; the "
     "`HashAggregate` dedup runs on the post-threshold verified "
     "output."),
    ("dedup_fuzzy_levenshtein",
     "Sorted-neighborhood pairing with the window offset exploded INTO "
     "the join key: `Generate explode(sequence(1, W))` on the right "
     "side, then a pure equi-join on (blk, rn) — n·W candidate rows "
     "exist structurally; Levenshtein runs post-join inside the same "
     "codegen stage, never per in-block pair (the sf100 soak caught "
     "the post-join-predicate formulation at m² per flooded block)."),
    ("similarity_mmr_rerank",
     "Candidate generation and MICRO-UNIT pair cosines stay relational "
     "(broadcast query side, two bounded localCheckpoints); the greedy "
     "MMR walk is one cogrouped `FlatMapCoGroupsInPandas` per query — "
     "pure int64 state ≤ 16 rows/query; the r7 formulation's five "
     "unrolled level plans (~6.8 s fixed) are gone."),
    ("orders_forecast_holt_winters",
     "The relational half (broadcast dims, month aggregate, per-nation "
     "ordered series collect) feeds one `ArrowEvalPython` (pandas UDF) "
     "fold per nation — the 12-slot array-state Catalyst expression "
     "this replaced cost 8-10 s of pure plan compilation at every "
     "scale factor."),
    ("dedup_substring_cut_exact",
     "Everything heavy is a hash partial-agg on 8-byte keys; the "
     "lag/cumsum `Window`s run only over duplicated windows "
     "partitioned by doc_id; chain signatures and span survivorship "
     "are two more hash aggregates; the rebuild is the same one-pass "
     "anti-membership left join as dedup_substring_cut."),
    ("wordpiece_tokenize_fertility",
     "The tokenizer-apply shape after the r9 scale cutover: under "
     "the driver cap of distinct words the trained (word → n_pieces) "
     "dim is a `LocalTableScan` (driver replay, bit-identical — "
     "tests/test_tokenizer_driver_cutover.py) broadcast onto the ONE "
     "corpus pass: a word-keyed `BroadcastHashJoin` + "
     "partial-combinable per-doc `HashAggregate`.  Past the cap the "
     "late-r6 distributed shape runs instead: vocab via "
     "`BroadcastExchange` onto the distinct-word candidate stream, "
     "greedy max-munch as a JVM `aggregate` fold — every stage "
     "vocabulary-sized except the single corpus scan."),
    ("dedup_winnowing_fingerprint",
     "Winnowing (late r7): the per-window min(struct(h,-p)) runs in a "
     "`Window` doc-partitioned by doc_id (no cross-doc shuffle beyond "
     "the partition), selection shrinks the gram stream ~2/(W+1) "
     "before the fingerprint equi-join; no BroadcastNestedLoopJoin or "
     "CartesianProduct anywhere in the pairing."),
    ("corpus_filter_agreement",
     "The pair matrix (late r7) computes ALL 6x4 counters in one "
     "global `HashAggregate` with a partial phase (no doc_id "
     "self-join, no per-pair re-scan); upstream is the single "
     "(doc_id, token) partial agg the tf-idf family shares."),
    ("text_zipf_fit",
     "The top-256 rank cut is `TakeOrderedAndProject` (distributed "
     "partial top-k, never a global sort); the rank window and the "
     "least-squares aggregate run over 256 rows, and the vocabulary "
     "count joins in as a broadcast scalar."),
]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    ).rstrip("\n")


def dump_round(rnd: int, suffix: str, names: list[str]) -> None:
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark(f"plans-r{rnd}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — {suffix} (sf dir: {sf_dir})\n\n")
            f.write(_plan(QUERIES[name](spark, sf_dir)) + "\n")
        print(f"wrote {os.path.relpath(path, ROOT)}")
        spark.catalog.clearCache()


def dump_showcase() -> None:
    spark = get_spark("plans")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out = io.StringIO()
    out.write(
        "# PLANS — formatted physical plans for the scale-sensitive "
        "queries\n\n"
        "Generated by `python tools/dump_plans.py` (do not hand-edit). "
        f"SF dir: `{sf_dir}`.\n"
        "Each section states the property the plan must exhibit — the "
        "same properties\n`tests/test_plan_quality.py` asserts — then "
        "the plan as Spark prints it.\n"
    )
    for name, check in SHOWCASE:
        out.write(f"\n## {name}\n\n**Verify:** {check}\n\n")
        out.write(f"```\n{_plan(QUERIES[name](spark, sf_dir))}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


def main() -> None:
    args = sys.argv[1:]
    if args and (len(args) < 3 or not args[0].isdigit()):
        raise SystemExit(__doc__)
    load_all()
    if args:
        dump_round(int(args[0]), args[1], args[2:])
    else:
        dump_showcase()


if __name__ == "__main__":
    main()
