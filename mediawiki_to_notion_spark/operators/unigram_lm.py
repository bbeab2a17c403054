"""Unigram-LM (SentencePiece-style) tokenizer: hard-EM training + apply.

The OTHER major subword-tokenizer family beyond BPE (Kudo 2018,
"Subword Regularization", arXiv:1804.10959; the SentencePiece `unigram`
model type).  Where BPE greedily composes merges bottom-up, the unigram
LM starts from a large seed vocabulary of substrings and iterates
EM rounds: segment the corpus with the current piece costs (E-step,
here the hard/Viterbi variant), re-estimate piece probabilities from
usage, and prune pieces the segmenter never chooses (M-step).  The
artifact is the (piece, count, cost) table a tokenizer ships.

Exact cross-engine parity strategy
----------------------------------
* Piece costs are INTEGER micro-nats: ``floor(1e6 * ln(T / c) + 0.5)``
  (half-away-from-zero, DuckDB ``round`` semantics; costs are always
  > 0 so floor(x+.5) == round-half-away).  Python ``math.log`` and
  DuckDB ``ln`` both delegate to the platform libm (verified: 0
  mismatches over a 200k-value sweep), so both engines derive bit-equal
  integer cost tables from the same integer counts.
* The Viterbi DP value is the tuple ``(cost, pieces)`` where ties on
  integer cost are broken by the lexicographically smallest piece
  LIST.  Both Spark and DuckDB order ``array<string>`` element-wise
  (verified to agree), and two distinct segmentations of the same word
  can never be prefix-lists of each other (equal concatenation), so
  the comparison never depends on prefix semantics.  This order is
  DP-compatible: appending a piece preserves list order, so the
  optimal-substructure argument covers the tie-break too.

100 TB shape
------------
The corpus collapses to the distinct-word frequency table FIRST (one
groupBy — vocabulary-, not corpus-, sized; the word table all three
trainers share, tokenizer_local._word_table).  Every EM round then
touches only that table: candidate edges come from a broadcast join
against the piece-cost table (bounded by UNI_SEED_K + alphabet), the
Viterbi DP is a JVM-side ``aggregate`` fold over each word's sorted
edge list (no Python in the loop), and the driver collects only the
per-round usage table (bounded: <= |vocab| <= UNI_SEED_K + alphabet
rows — the vocab IS the driver-sized artifact being trained, exactly
like the BPE merge table).  Nothing in the loop scales with corpus size.

The DuckDB oracle unrolls the DP levels to UNI_MAX_WORD_LEN (the
synthetic corpus' words are <= 8 chars — asserted in tests); the Spark
fold is fully general in word length.

Reference scope: the reference repo (process-mw-dump.py) has no
tokenizer surface; this is part of the training-data-pipeline
extension mandated by the build brief alongside BPE
(text_analysis.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.operators import tokenizer_local as TL
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame

UNI_MAX_PIECE = 4      # max piece length admitted to the seed vocabulary
UNI_SEED_K = 48        # top-K multi-char seed pieces (by count desc, piece asc)
UNI_ROUNDS = 3         # hard-EM iterations
UNI_MAX_WORD_LEN = 8   # oracle DP unroll depth (asserted over the corpus)


def _micro_nat_cost(total: float, cnt: int) -> int:
    """floor(1e6*ln(T/c)+0.5) — DuckDB round() (half-away) semantics."""
    return int(math.floor(1e6 * math.log(total / cnt) + 0.5))


def _position_pieces(words: DataFrame) -> DataFrame:
    """All (word, freq, piece, i, j) substring occurrences with
    len(piece) <= UNI_MAX_PIECE; i/j are 0-based start / 1-based end."""
    pos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(UNI_MAX_PIECE), F.length("word") - s + 1),
                ),
                lambda ln: F.struct(s.alias("s"), ln.alias("ln")),
            ),
        )
    )
    return words.select("word", "freq", F.explode(pos).alias("p")).select(
        "word",
        "freq",
        F.col("word").substr(F.col("p.s"), F.col("p.ln")).alias("piece"),
        (F.col("p.s") - 1).alias("i"),
        (F.col("p.s") + F.col("p.ln") - 1).alias("j"),
    )


def _viterbi_segment(words: DataFrame, costs: DataFrame) -> DataFrame:
    """Per-word min-cost segmentation under the broadcast piece-cost
    table; ties on integer cost broken by lexicographically smallest
    piece list.  Returns (word, freq, cost, pieces).

    The DP is one JVM ``aggregate`` fold per word over its (j, i)-sorted
    edge list; the accumulator is the dp array ``[(cost, pieces)]``
    indexed by end position.  Single-char pieces are always in the
    vocabulary, so every level 1..len(word) receives at least one edge
    and the fold never sees a gap.
    """
    edges = (
        _position_pieces(words)
        .join(F.broadcast(costs), "piece")
        .select(
            "word",
            "freq",
            F.struct(
                F.col("j"), F.col("i"), F.col("cost"), F.col("piece")
            ).alias("e"),
        )
    )
    zero = F.array(
        F.struct(
            F.lit(0).cast("long").alias("cost"),
            F.array().cast("array<string>").alias("pieces"),
        )
    )

    def step(acc, e):
        prev = F.element_at(acc, e["i"] + 1)
        cand = F.struct(
            (prev["cost"] + e["cost"]).alias("cost"),
            F.concat(prev["pieces"], F.array(e["piece"])).alias("pieces"),
        )
        last = F.element_at(acc, -1)
        better = (cand["cost"] < last["cost"]) | (
            (cand["cost"] == last["cost"]) & (cand["pieces"] < last["pieces"])
        )
        return F.when(F.size(acc) == e["j"], F.concat(acc, F.array(cand))).otherwise(
            F.when(
                better,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(cand)),
            ).otherwise(acc)
        )

    dp = F.aggregate(F.array_sort(F.collect_list("e")), zero, step)
    return (
        edges.groupBy("word", "freq")
        .agg(
            F.element_at(dp, -1)["cost"].alias("cost"),
            F.element_at(dp, -1)["pieces"].alias("pieces"),
        )
    )


def _unigram_train(spark: SparkSession, sf_dir: str):
    """Run the hard-EM loop; returns (vocab, words, wf) where vocab is
    the final {piece: count} dict (driver-sized artifact).  When the
    driver cutover fired, wf is the collected (word, freq) list and
    words is None: the apply side encodes from wf instead of
    re-collecting the identical table (the ADVICE-r9 wordpiece
    discipline; r10 applies it here).  On the distributed path words is
    the distinct-word frame and wf is None."""
    wf, words = TL._word_table(spark, sf_dir)
    if wf is not None:
        # driver replay of the seed + EM rounds (same libm ln via
        # _micro_nat_cost, same integer usage counts, same tie-breaks)
        vocab = TL.unigram_train_local(
            wf, UNI_ROUNDS, UNI_SEED_K, UNI_MAX_PIECE, _micro_nat_cost)
        return vocab, None, wf
    cand = (
        _position_pieces(words)
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    multi = (
        cand.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(UNI_SEED_K)
        .collect()  # bounded: UNI_SEED_K rows (TakeOrdered, distributed)
    )
    chars = cand.filter(F.length("piece") == 1).collect()  # bounded: alphabet
    char_set = {r.piece for r in chars}
    vocab: dict[str, int] = {r.piece: int(r.cnt) for r in multi}
    vocab.update({r.piece: int(r.cnt) for r in chars})

    for _rnd in range(UNI_ROUNDS):
        total = float(sum(vocab.values()))
        costs = local_frame(
            spark,
            [(p, _micro_nat_cost(total, c)) for p, c in sorted(vocab.items())],
            "piece string, cost long",
        )
        seg = _viterbi_segment(words, costs)
        usage_rows = (
            seg.select(F.explode("pieces").alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").alias("u"))
            .collect()  # bounded: <= |vocab| rows
        )
        usage = {r.piece: int(r.u) for r in usage_rows}
        vocab = {p: u for p, u in usage.items() if len(p) >= 2}
        vocab.update({ch: max(usage.get(ch, 0), 1) for ch in char_set})
    return vocab, words, None


def _final_costs(spark: SparkSession, vocab: dict[str, int]) -> DataFrame:
    total = float(sum(vocab.values()))
    return local_frame(
        spark,
        [(p, c, _micro_nat_cost(total, c)) for p, c in sorted(vocab.items())],
        "piece string, n_uses long, cost_micro_nats long",
    )


def _unigram_pieces(spark: SparkSession, vocab: dict[str, int],
                    words: DataFrame | None, wf):
    """Viterbi segmentation of every distinct word under the FINAL
    piece costs: a {word: n_pieces} dict from a driver replay when the
    trainer's cutover fired (same float(total)/libm-ln cost table as
    _final_costs, same (cost, pieces) tie-break as _viterbi_segment),
    else the distributed (word, n_pieces) frame."""
    if wf is not None:
        total = float(sum(vocab.values()))
        costs = {p: _micro_nat_cost(total, c) for p, c in vocab.items()}
        return {
            w: len(TL.unigram_viterbi_local(w, costs, UNI_MAX_PIECE)[1])
            for w, _f in wf
        }
    costs = _final_costs(spark, vocab).select(
        "piece", F.col("cost_micro_nats").alias("cost"))
    return _viterbi_segment(words, costs).select(
        "word", F.size("pieces").alias("n_pieces"))


def _dp_cte(r: int, cost_cte: str) -> str:
    """Unrolled Viterbi DP CTEs for EM round r against cost table
    ``cost_cte``; emits e{r}, dp{r}_0..dp{r}_L, seg{r}."""
    parts = [f"""e{r} AS MATERIALIZED (
      SELECT w.word, w.freq, u.s - 1 AS i, u.s + v.ln - 1 AS j,
             c.cost, c.piece
      FROM w0 w,
           LATERAL (SELECT unnest(range(1, len(w.word) + 1)) AS s) u,
           LATERAL (SELECT unnest(range(1,
                    least({UNI_MAX_PIECE}, len(w.word) - u.s + 1) + 1)) AS ln) v
      JOIN {cost_cte} c ON c.piece = substr(w.word, u.s, v.ln)
    ),
    dp{r}_0 AS MATERIALIZED (
      SELECT word, freq, CAST(0 AS BIGINT) AS cost,
             CAST([] AS VARCHAR[]) AS pieces
      FROM w0
    )"""]
    for j in range(1, UNI_MAX_WORD_LEN + 1):
        branches = [
            f"""SELECT d.word, d.freq, d.cost + e.cost AS cost,
               list_append(d.pieces, e.piece) AS pieces
        FROM dp{r}_{i} d JOIN e{r} e
          ON e.word = d.word AND e.i = {i} AND e.j = {j}"""
            for i in range(max(0, j - UNI_MAX_PIECE), j)
        ]
        joined = "\n        UNION ALL ".join(branches)
        parts.append(f"""dp{r}_{j} AS MATERIALIZED (
      SELECT word, freq, cost, pieces FROM (
        SELECT *, row_number() OVER (
          PARTITION BY word ORDER BY cost, pieces) AS rn
        FROM ({joined})
      ) WHERE rn = 1
    )""")
    levels = "\n      UNION ALL ".join(
        f"SELECT word, freq, pieces, {j} AS lvl FROM dp{r}_{j}"
        for j in range(1, UNI_MAX_WORD_LEN + 1)
    )
    parts.append(f"""seg{r} AS MATERIALIZED (
      SELECT word, freq, pieces
      FROM ({levels})
      WHERE lvl = len(word)
    )""")
    return ",\n    ".join(parts)


def _em_round_ctes(r: int) -> str:
    """Usage / prune / re-cost CTEs turning seg{r} into c{r}."""
    return f"""u{r} AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS u
      FROM (SELECT unnest(pieces) AS piece, freq FROM seg{r})
      GROUP BY piece
    ),
    v{r} AS MATERIALIZED (
      SELECT piece, u AS cnt FROM u{r} WHERE len(piece) >= 2
      UNION ALL
      SELECT c.piece, greatest(coalesce(u.u, 0), 1) AS cnt
      FROM chars c LEFT JOIN u{r} u USING (piece)
    ),
    c{r} AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(floor(1e6 * ln(
               (SELECT CAST(sum(cnt) AS DOUBLE) FROM v{r}) / cnt) + 0.5)
             AS BIGINT) AS cost
      FROM v{r}
    )"""


def _unigram_oracle(final: str = "vocab") -> str:
    """Fully-unrolled DuckDB twin of the hard-EM loop.  ``final='vocab'``
    selects the trained piece table; ``final='fertility'`` runs one
    extra segment-only round with the final costs and reports
    per-document piece counts."""
    ctes = [TL._words_sql(), f"""sub AS MATERIALIZED (
      SELECT substr(w.word, u.s, v.ln) AS piece,
             CAST(sum(w.freq) AS BIGINT) AS cnt
      FROM w0 w,
           LATERAL (SELECT unnest(range(1, len(w.word) + 1)) AS s) u,
           LATERAL (SELECT unnest(range(1,
                    least({UNI_MAX_PIECE}, len(w.word) - u.s + 1) + 1)) AS ln) v
      GROUP BY piece
    ),
    chars AS MATERIALIZED (SELECT piece, cnt FROM sub WHERE len(piece) = 1),
    v0 AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM sub WHERE len(piece) >= 2
        ORDER BY cnt DESC, piece LIMIT {UNI_SEED_K})
      UNION ALL SELECT piece, cnt FROM chars
    ),
    c0 AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(floor(1e6 * ln(
               (SELECT CAST(sum(cnt) AS DOUBLE) FROM v0) / cnt) + 0.5)
             AS BIGINT) AS cost
      FROM v0
    )"""]
    for r in range(1, UNI_ROUNDS + 1):
        ctes.append(_dp_cte(r, f"c{r - 1}"))
        ctes.append(_em_round_ctes(r))
    if final == "fertility":
        rf = UNI_ROUNDS + 1
        ctes.append(_dp_cte(rf, f"c{UNI_ROUNDS}"))
        return TL._fertility_sql(
            ctes, f"SELECT word, len(pieces) AS n_pieces FROM seg{rf}")
    return ("WITH " + ",\n    ".join(ctes) + f"""
    SELECT piece, cnt AS n_uses, cost AS cost_micro_nats
    FROM c{UNI_ROUNDS}
    ORDER BY n_uses DESC, piece""")


@register("unigram_lm_train", oracle=_unigram_oracle())
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018, hard-EM/Viterbi
    variant): seed the vocabulary with all corpus substrings up to
    ``UNI_MAX_PIECE`` chars (top-``UNI_SEED_K`` multi-char by frequency,
    plus every single character for full coverage), then iterate
    ``UNI_ROUNDS`` rounds of Viterbi segmentation under integer
    micro-nat piece costs, usage re-counting, and zero-usage pruning.
    Output: the final (piece, n_uses, cost_micro_nats) vocabulary —
    the artifact a SentencePiece-style tokenizer ships.

    100 TB shape: see the module docstring — one corpus-scale groupBy
    up front; every round is vocabulary-sized with a broadcast cost
    join, a JVM aggregate-fold DP, and a <=|vocab|-row driver collect.
    """
    vocab, _words, _wf = _unigram_train(spark, sf_dir)
    return _final_costs(spark, vocab).orderBy(
        F.desc("n_uses"), F.asc("piece")
    )


@register("unigram_lm_fertility", oracle=_unigram_oracle(final="fertility"))
def unigram_lm_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the trained unigram-LM tokenizer: Viterbi-
    segment the corpus under the FINAL piece costs and report
    per-document piece counts and fertility (pieces per whitespace
    word) — the unigram twin of ``bpe_tokenize_fertility``
    (text_analysis.py).

    100 TB shape: encoding is vocabulary-sized — the final costs
    segment the distinct-word table once, and the corpus pass is ONE
    word-keyed equi-join of the exploded token stream against the
    (word -> n_pieces) dim followed by a map-side-combinable per-doc
    sum."""
    vocab, words, wf = _unigram_train(spark, sf_dir)
    return TL._fertility(
        spark, sf_dir, _unigram_pieces(spark, vocab, words, wf))
