"""Reference-implementation parity for the unigram-LM (SentencePiece-
style) hard-EM trainer.  The Spark side implements the Viterbi
segmentation as a DP fold; the reference here implements the SPEC
directly — enumerate ALL 2^(n-1) segmentations of each word and pick
the minimum by (total integer cost, lexicographic piece list).  Exact
agreement on randomized corpora proves the DP (and its tie-break) is
equivalent to the enumeration spec — the class of both-engines-
consistent bug the DuckDB oracle alone cannot catch, since the oracle
uses the same DP formulation."""

from __future__ import annotations

import math
import os
import tempfile

import pytest

from mediawiki_to_notion_spark.operators.unigram_lm import (
    UNI_MAX_PIECE,
    UNI_MAX_WORD_LEN,
    UNI_ROUNDS,
    UNI_SEED_K,
    _micro_nat_cost,
)


def _enumerate_segmentations(word: str, costs: dict[str, int]):
    """All valid (cost, pieces) segmentations — every piece must be in
    the cost table (single chars always are)."""
    n = len(word)
    out = []
    for mask in range(1 << (n - 1)):
        pieces, start, ok = [], 0, True
        for pos in range(1, n + 1):
            if pos == n or (mask >> (pos - 1)) & 1:
                p = word[start:pos]
                if p not in costs:
                    ok = False
                    break
                pieces.append(p)
                start = pos
        if ok:
            out.append((sum(costs[p] for p in pieces), pieces))
    return out


def _reference_unigram(word_freq: dict[str, int], rounds: int):
    """Plain-Python hard-EM trainer mirroring the module spec:
    substring seed (top UNI_SEED_K multi-char + all chars), integer
    micro-nat costs, brute-force min-(cost, pieces) segmentation,
    usage re-count, zero-usage pruning with chars floored at 1."""
    sub: dict[str, int] = {}
    for w, f in word_freq.items():
        for s in range(len(w)):
            for ln in range(1, min(UNI_MAX_PIECE, len(w) - s) + 1):
                p = w[s:s + ln]
                sub[p] = sub.get(p, 0) + f
    chars = {p for p in sub if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in sub.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:UNI_SEED_K]
    vocab = dict(multi)
    vocab.update({p: sub[p] for p in chars})

    seg: dict[str, list[str]] = {}
    for _ in range(rounds):
        total = float(sum(vocab.values()))
        costs = {p: _micro_nat_cost(total, c) for p, c in vocab.items()}
        usage: dict[str, int] = {}
        for w, f in word_freq.items():
            _, pieces = min(_enumerate_segmentations(w, costs))
            seg[w] = pieces
            for p in pieces:
                usage[p] = usage.get(p, 0) + f
        vocab = {p: u for p, u in usage.items() if len(p) >= 2}
        vocab.update({ch: max(usage.get(ch, 0), 1) for ch in chars})
    return vocab, seg


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_unigram_train_matches_enumeration_reference(spark, seed):
    import numpy as np

    from mediawiki_to_notion_spark.operators.unigram_lm import (
        _final_costs,
        _unigram_train,
        _viterbi_segment,
    )

    rng = np.random.default_rng(seed)
    alphabet = "abcd"
    words = [
        "".join(rng.choice(list(alphabet), size=rng.integers(1, 9)))
        for _ in range(120)
    ]
    texts = [
        " ".join(rng.choice(words, size=rng.integers(3, 20)))
        for _ in range(40)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        vocab, _words, wf = _unigram_train(spark, tmp)
        wframe = spark.createDataFrame(wf, "word string, freq long")
        # the apply-side segmentation under the final costs
        costs = _final_costs(spark, vocab).selectExpr(
            "piece", "cost_micro_nats AS cost"
        )
        got_seg = {
            r.word: list(r.pieces)
            for r in _viterbi_segment(wframe, costs).collect()
        }

    freq: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    want_vocab, _ = _reference_unigram(freq, UNI_ROUNDS)
    assert vocab == want_vocab
    # final-cost segmentation must equal the enumeration spec too
    total = float(sum(want_vocab.values()))
    fcosts = {p: _micro_nat_cost(total, c) for p, c in want_vocab.items()}
    want_seg = {
        w: min(_enumerate_segmentations(w, fcosts))[1] for w in freq
    }
    assert got_seg == want_seg


def test_micro_nat_cost_is_half_away():
    # floor(x+.5) on the always-positive cost domain == round-half-away
    assert _micro_nat_cost(math.e, 1) == 1_000_000
    assert _micro_nat_cost(2.0, 1) == 693_147  # ln 2 = 0.6931471805


def test_oracle_unroll_depth_covers_corpus(spark):
    """The DuckDB oracle unrolls DP levels to UNI_MAX_WORD_LEN; assert
    the test corpus never exceeds it (sf0.001 and sf0.01 — the SFs the
    driver gates run at)."""
    import pyspark.sql.functions as F

    from mediawiki_to_notion_spark.sources.tables import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        d = load_table(spark, "documents", sf)
        mx = (
            d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .agg(F.max(F.length("w")))
            .collect()[0][0]
        )
        assert mx <= UNI_MAX_WORD_LEN, sf
