"""Scaling soak (VERDICT r5 item 1): measure per-query scaling
exponents over a real 10x data scale-up instead of asserting
linearity from plan shapes.

Runs the most expensive headline queries at sf0.1 (/root/testdata)
and at the synthesized sf1 (tools/make_scale_data.py, 10x rows with
preserved selectivity), N runs each with a noop sink, and reports

    exponent = log(t_sf1 / t_sf0.1) / log(10)

per query on the min-of-N times.  1.0 = perfectly linear; < 1 means
fixed per-query overhead still dominates; > ~1.1 flags a super-linear
plan that needs a fix or a written explanation.

Output: one JSON line to stdout + SCALING_SOAK.json next to the repo
root (the SCALING.md table is maintained by hand from it).
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools._harness import idle_gate, loadavg, timed_noop  # noqa: E402

# Defaults measure sf0.1 -> sf1; the r7 heavy-tail decade re-points the
# pair at sf1 -> sf10 via env (SOAK_SRC/SOAK_DST/SOAK_ONLY/SOAK_OUT).
SF01 = os.environ.get("SOAK_SRC", "/root/testdata/sf0.1")
SF1 = os.environ.get("SOAK_DST", os.path.join(ROOT, ".scale", "sf1"))
SOAK_OUT = os.environ.get("SOAK_OUT", "SCALING_SOAK.json")

# the most expensive headline queries (BENCH_DETAIL medians), extended
# each round so every heavy plan family is covered
SOAK = [
    "corpus_prepare_pipeline", "bpe_train_merges",
    "dedup_connected_components", "dedup_survivorship",
    "bpe_tokenize_fertility", "stats_moments_lineitem",
    "dedup_substring_cut", "kmeans_lloyd_refine",
    "market_basket_part_pairs", "sliding_distinct_users",
    "hll_distinct_within_band", "dedup_embedding_cosine_lsh",
    "dedup_duplicate_ngram_spans", "mixture_anneal_schedule",
    "dedup_fuzzy_levenshtein", "text_gopher_repetition_rules",
    "dedup_substring_spans_exact", "dedup_minhash_lsh",
    "dedup_minhash_incremental", "pagerank_word_graph",
    "similarity_ivf_probe", "dedup_simhash",
    "dedup_substring_spans_token_exact", "approx_distinct_within_band",
    # late-r6: the tokenizer triad + DSIR + Copeland — the
    # corpus-collapse loops should show near-zero exponents (loop
    # state is vocabulary-sized, only the initial scan scales)
    "unigram_lm_train", "wordpiece_train_merges",
    "dsir_importance_select",
    "eval_pairwise_copeland", "text_unicode_nfc_normalize",
    "decontaminate_span_cut",
    # r7 additions: the composed exact-substring cut, the two-table
    # LSH, and the adaptive recall gate (its exact ground-truth side
    # is the deliberate quadratic baseline — expect output-bound)
    "dedup_substring_cut_exact",
    "dedup_embedding_cosine_lsh_multitable",
    "embedding_matryoshka_recall",
    # late-r7: the fuzzy decontamination (eval-index vs corpus minhash)
    # and the zero-shuffle chunker (expect ~0 exponent)
    "decontaminate_fuzzy_minhash",
    "chunk_documents_overlap",
    # late-r7 wave 2: winnowing pairs on the duplicate-preserving scale
    # corpus (expect containment-like sub-linear; df cap bounds hot fps)
    "dedup_winnowing_fingerprint",
    # late-r7 wave 2 cont.: the (doc,token)-keyed agreement matrix, the
    # co-shingled-pair b-bit calibration (estimate_quality's shape),
    # and the TakeOrdered-bounded Zipf fit (expect ~scan-bound)
    "corpus_filter_agreement",
    "dedup_minhash_b_bit",
    "text_zipf_fit",
    # the |types|^2-bounded bootstrap fan-out and the |sources|-bounded
    # water-filling plan (both expect ~scan-bound exponents)
    "eval_win_rate_bootstrap",
    "source_token_budget_allocation",
    # MMR: candidate generation is the broadcast brute-force pass, the
    # unrolled levels are queries x 16 — expect the brute-force slope
    "similarity_mmr_rerank",
    "similarity_prf_rocchio",
    "similarity_ivf_balance_audit",
    "events_bot_regularity_screen",
    "text_bigram_entropy_rate",
    "events_k_anonymity_audit",
    "embedding_dim_variance_audit",
    # sampled calibration pair (the 1.27 second-decade catch)
    "dedup_minhash_estimate_quality",
    "events_ab_cuped",
    "orders_demand_forecast_holt",
    "orders_open_interval_depth",
    "orders_forecast_holt_winters",
]


def main() -> None:
    from mediawiki_to_notion_spark.operators import QUERIES, load_all
    from mediawiki_to_notion_spark.session import get_spark

    load_all()
    only = os.environ.get("SOAK_ONLY")
    soak = [n for n in SOAK if n in only.split(",")] if only else SOAK
    extra = ([n for n in only.split(",") if n not in SOAK] if only else [])
    soak += extra
    n_runs = int(os.environ.get("SOAK_RUNS", "3"))
    gate = idle_gate()
    loadavg_start = loadavg()
    # the session's input-size-derived AQE width (session.py) must fit
    # the LARGER side of the soak pair — that's where wide initial
    # shuffles pay (r7: substring cut exp 1.25 -> 1.03 at sf10)
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", SF1)
    spark = get_spark("scaling_soak")

    def timed(name: str, sf_dir: str) -> float:
        return min(timed_noop(spark, QUERIES[name], sf_dir)
                   for _ in range(n_runs))

    # warmup both datasets once (footers, codegen, Arrow workers)
    for name in soak:
        timed_noop(spark, QUERIES[name], "/root/testdata/sf0.01")

    # r9 fix (VERDICT r8 brief #3): key the per-SF timings by the
    # ACTUAL soak pair (the r8 third-decade artifact said t_sf0.1/t_sf1
    # while holding sf10/sf100 values)
    k_src = f"t_{os.path.basename(SF01)}"
    k_dst = f"t_{os.path.basename(SF1)}"
    rows = {}
    for name in soak:
        la_q = loadavg()[0]
        t01 = timed(name, SF01)
        t1 = timed(name, SF1)
        exp = math.log(t1 / t01) / math.log(10.0)
        rows[name] = {k_src: round(t01, 3), k_dst: round(t1, 3),
                      "exponent": round(exp, 3),
                      "loadavg_1m_at_start": la_q}
        print(f"{name:40s} {t01:7.2f}s  {t1:8.2f}s  exp {exp:5.2f}",
              file=sys.stderr, flush=True)

    out = {
        "metric": f"scaling_exponents_{os.path.basename(SF01)}_to_"
                  f"{os.path.basename(SF1)}",
        "n_runs_min_of": n_runs,
        "loadavg_start": loadavg_start,
        **gate,
        "queries": rows,
        "max_exponent": max(r["exponent"] for r in rows.values()),
        "median_exponent": sorted(
            r["exponent"] for r in rows.values())[len(rows) // 2],
    }
    with open(os.path.join(ROOT, SOAK_OUT), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
