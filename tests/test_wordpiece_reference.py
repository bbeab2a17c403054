"""Reference-implementation parity for the WordPiece trainer and its
max-munch encoder: the Spark fold/argmax formulation must reproduce a
plain-Python Schuster & Nakajima trainer and a direct longest-prefix
tokenizer exactly on randomized corpora (tie-break and
merge-interaction edge cases that hand fixtures would miss — and the
class of both-engines-consistent bug the DuckDB oracle cannot catch,
since the oracle mirrors the same formulation)."""

from __future__ import annotations

import os
import tempfile

import pytest

from mediawiki_to_notion_spark.operators.tokenizer_local import _strip_cont
from mediawiki_to_notion_spark.operators.wordpiece import (
    WP_SCALE,
    WP_TRAIN_ROUNDS,
)


def _initial(word: str):
    return tuple([word[0]] + ["##" + c for c in word[1:]])


def _reference_wordpiece(word_freq: dict[str, int], rounds: int):
    """Plain-Python WordPiece trainer: integer-scaled likelihood score
    (n_ab * WP_SCALE) // (n_a * n_b), ties (a, b) ascending, greedy
    left-to-right non-overlapping merge rewrite."""
    vocab = {w: _initial(w) for w in word_freq}
    merges = []
    for rnd in range(1, rounds + 1):
        sym: dict[str, int] = {}
        pair: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            for s in syms:
                sym[s] = sym.get(s, 0) + f
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair[p] = pair.get(p, 0) + f
        if not pair:
            break
        scored = {
            p: (n * WP_SCALE) // (sym[p[0]] * sym[p[1]])
            for p, n in pair.items()
        }
        (a, b) = min(scored, key=lambda p: (-scored[p], p[0], p[1]))
        merged = a + _strip_cont(b)
        merges.append((rnd, a, b, merged, pair[(a, b)], scored[(a, b)]))
        new_vocab = {}
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges, vocab


def _max_munch(word: str, vocab: set[str]) -> list[str]:
    """Direct greedy longest-prefix tokenization (the BERT algorithm)."""
    pieces, pos = [], 0
    while pos < len(word):
        for end in range(len(word), pos, -1):
            cand = ("##" if pos else "") + word[pos:end]
            if cand in vocab:
                pieces.append(cand)
                pos = end
                break
        else:  # pragma: no cover - single chars always in vocab
            raise AssertionError(f"untokenizable: {word!r} at {pos}")
    return pieces


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_wordpiece_matches_reference(spark, seed):
    import numpy as np

    from mediawiki_to_notion_spark.operators.wordpiece import (
        _wordpiece_train,
        wordpiece_tokenize_fertility,
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
        merges, _vocab, _wf = _wordpiece_train(spark, tmp)
        fert = {
            r.doc_id: (r.n_words, r.n_pieces)
            for r in wordpiece_tokenize_fertility(spark, tmp).collect()
        }

    freq: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    want_merges, _ = _reference_wordpiece(freq, WP_TRAIN_ROUNDS)
    assert merges == want_merges

    vocab = {s for w in freq for s in _initial(w)}
    vocab |= {m[3] for m in want_merges}
    want_fert = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.split(" ") if w]
        if ws:
            want_fert[i] = (
                len(ws), sum(len(_max_munch(w, vocab)) for w in ws)
            )
    assert fert == want_fert
