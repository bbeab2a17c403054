"""WordPiece tokenizer: likelihood-scored merge training + max-munch
apply.  Completes the subword-tokenizer triad next to BPE
(text_analysis.py, frequency-scored merges) and the unigram LM
(unigram_lm.py, global Viterbi): WordPiece (Schuster & Nakajima 2012;
the BERT tokenizer) merges the adjacent pair maximizing the language-
model likelihood gain score = count(ab) / (count(a) * count(b)), and
its ENCODE side is greedy longest-match-first ("maximum munch")
against the shipped vocabulary with '##' continuation markers — not a
re-derivation of the merge chain.

Exact cross-engine parity strategy
----------------------------------
The likelihood score is a ratio of integers; comparing ratios with
doubles invites ulp-divergence between engines, so both engines rank
by the exact integer ``score_scaled = (n_ab * 10^12) div (n_a *
n_b)``.  The intermediate product n_ab * 10^12 overflows int64 once
n_ab exceeds ~9.2e6, so the multiply runs in wide exact arithmetic —
DECIMAL(38,0) on Spark (``div`` on decimals yields an exact BIGINT),
HUGEINT (int128) on DuckDB — and only the <=1e12-bounded quotient is
materialized as BIGINT.  Ties broken by (a, b) ascending; the
truncating division is part of the operator's spec, applied
identically on both sides.

100 TB shape
------------
The BPE trainer's loop (``tokenizer_local._merge_train``, ranked by
this score instead of the pair count): the corpus collapses to the
distinct-word frequency table first; each round is two
vocabulary-sized aggregations (symbol counts, pair counts) joined on
the (tiny) pair table, and the driver sees exactly ONE row per round
(the argmax).  The merge rewrite is the same JVM ``aggregate`` fold.
The max-munch encode side is vocabulary-sized too: one broadcast
join of candidate (start, end) substring matches against the vocab,
one fold per distinct word, then a single word-keyed equi-join of the
exploded corpus against the (word -> n_pieces) dim.

Reference scope: the reference repo has no tokenizer surface; this is
part of the training-data-pipeline extension mandated by the build
brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.operators import tokenizer_local as TL
from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame

WP_TRAIN_ROUNDS = 8
WP_SCALE = 10**12   # integer scale for the likelihood score


def _wordpiece_train(spark: SparkSession, sf_dir: str):
    """Run the WordPiece merge loop — the shared merge trainer
    (``tokenizer_local._merge_train``) with '##' continuations, ranked
    by the exact likelihood score; returns (merges, vocab_frame, wf)
    where merges is [(round, a, b, merged, n_pair, score_scaled)],
    vocab_frame the final (word, l, freq) symbol-sequence table, and wf
    the collected (word, freq) list when the driver cutover fired
    (None on the distributed path) — returned so the encode side can
    reuse it instead of re-aggregating the corpus."""
    return TL._merge_train(spark, sf_dir, "##", WP_TRAIN_ROUNDS, WP_SCALE)


def _wordpiece_pieces(spark: SparkSession, merges, vocab_frame, wf):
    """Max-munch encode of every distinct word against the shipped
    vocabulary (initial symbols + the merged symbols): a {word:
    n_pieces} dict from a driver scan when the trainer's cutover fired,
    else the distributed (word, n_pieces) frame."""
    if wf is not None:
        vocab_set = {s for w, _f in wf for s in TL._initial(w, "##")}
        vocab_set.update(m[3] for m in merges)
        return TL.wordpiece_max_munch_local([w for w, _ in wf], vocab_set)
    # distributed path: the trainer's checkpointed (word, l, freq)
    # frame is a leaf scan — project the word table straight off it
    words = vocab_frame.select("word", "freq")
    alphabet = words.select(
        F.explode(TL._initial_symbols("##")).alias("piece")
    ).distinct()
    vocab = alphabet.union(
        local_frame(spark, [(m[3],) for m in merges], "piece string")
    ).distinct()

    # candidate matches: effective piece at non-initial starts carries ##
    pos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda s: F.transform(
                F.sequence(F.lit(1), F.length("word") - s + 1),
                lambda ln: F.struct(s.alias("s"), ln.alias("ln")),
            ),
        )
    )
    cand = (
        words.select("word", "freq", F.explode(pos).alias("p"))
        .select(
            "word",
            "freq",
            (F.col("p.s") - 1).alias("i"),
            (F.col("p.s") + F.col("p.ln") - 1).alias("j"),
            F.concat(
                F.when(F.col("p.s") == 1, F.lit("")).otherwise(F.lit("##")),
                F.col("word").substr(F.col("p.s"), F.col("p.ln")),
            ).alias("piece"),
        )
        .join(F.broadcast(vocab), "piece")
    )
    # greedy max-munch fold over (i, j)-sorted matches: longest match
    # at the current position wins (later j at the same i replaces),
    # matches starting inside a committed piece are skipped
    zero = F.struct(
        F.lit(0).alias("pos"),
        F.lit(-1).alias("last_i"),
        F.lit(0).cast("long").alias("n_pieces"),
    )

    def step(acc, e):
        take = F.struct(
            e["j"].alias("pos"),
            e["i"].alias("last_i"),
            (acc["n_pieces"] + 1).alias("n_pieces"),
        )
        extend = F.struct(
            e["j"].alias("pos"),
            e["i"].alias("last_i"),
            acc["n_pieces"].alias("n_pieces"),
        )
        return (
            F.when(e["i"] == acc["last_i"], extend)
            .when(e["i"] == acc["pos"], take)
            .otherwise(acc)
        )

    return (
        cand.select(
            "word",
            "freq",
            F.struct(F.col("i"), F.col("j")).alias("m"),
        )
        .groupBy("word", "freq")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("m")), zero, step
            )["n_pieces"].alias("n_pieces")
        )
        .select("word", "n_pieces")
    )


def _wp_train_oracle(rounds: int = WP_TRAIN_ROUNDS) -> str:
    return TL._merge_rules_sql(
        "##", rounds, WP_SCALE,
        "a, b, merged, n_pair, score AS score_scaled")


def _wp_fertility_oracle(rounds: int = WP_TRAIN_ROUNDS,
                         steps: int = 8) -> str:
    """Max-munch ENCODE oracle: vocab = initial symbols + the
    {rounds} merged symbols; greedy longest-prefix matching unrolled
    to {steps} pieces (corpus words are <= 8 chars — asserted in
    tests — and every single char is in the vocab, so <= 8 pieces
    always suffice and no word can fail to tokenize)."""
    ctes = TL._merge_ctes("##", rounds, WP_SCALE)
    merged_sel = "\n        UNION ALL ".join(
        f"SELECT merged AS piece FROM m{k}" for k in range(1, rounds + 1)
    )
    ctes.append(f"""vocab AS MATERIALIZED (
      SELECT DISTINCT piece FROM (
        SELECT substr(word, 1, 1) AS piece FROM w0
        UNION ALL
        SELECT '##' || x.c AS piece
        FROM w0, LATERAL (SELECT unnest(
             regexp_extract_all(substr(word, 2), '.')) AS c) x
        UNION ALL
        {merged_sel}
      )
    ),
    we AS MATERIALIZED (
      SELECT w.word, u.s - 1 AS i, u.s + v.ln - 1 AS j, c.piece
      FROM w0 w,
           LATERAL (SELECT unnest(range(1, len(w.word) + 1)) AS s) u,
           LATERAL (SELECT unnest(range(1, len(w.word) - u.s + 2)) AS ln) v
      JOIN vocab c
        ON c.piece = (CASE WHEN u.s = 1 THEN '' ELSE '##' END)
                     || substr(w.word, u.s, v.ln)
    ),
    wbest AS MATERIALIZED (
      SELECT word, i, j, piece FROM (
        SELECT *, row_number() OVER (
          PARTITION BY word, i ORDER BY j DESC) AS rn
        FROM we
      ) WHERE rn = 1
    ),
    mm0 AS MATERIALIZED (
      SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS n_pieces FROM w0
    )""")
    for k in range(1, steps + 1):
        ctes.append(f"""mm{k} AS MATERIALIZED (
      SELECT word, freq, pos, n_pieces FROM mm{k - 1}
      WHERE pos = len(word)
      UNION ALL
      SELECT w.word, w.freq, e.j AS pos, w.n_pieces + 1 AS n_pieces
      FROM (SELECT * FROM mm{k - 1} WHERE pos < len(word)) w
      JOIN wbest e ON e.word = w.word AND e.i = w.pos
    )""")
    return TL._fertility_sql(ctes, f"SELECT word, n_pieces FROM mm{steps}")


@register("wordpiece_train_merges", oracle=_wp_train_oracle())
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer TRAINING (Schuster & Nakajima 2012): from
    the BERT-style initial split (first char plain, continuations
    '##'-marked), iterate ``WP_TRAIN_ROUNDS`` rounds merging the
    adjacent symbol pair with the highest likelihood score
    count(ab)/(count(a)*count(b)) — ranked by the exact integer
    ``score_scaled`` (ties: (a, b) ascending) — and rewriting the
    vocabulary greedily left-to-right.  Output: the ordered merge-rule
    table (round, a, b, merged, n_pair, score_scaled).

    100 TB shape: see module docstring — vocabulary-sized rounds, one
    driver row per round, JVM-side merge fold."""
    merges, _vocab, _wf = _wordpiece_train(spark, sf_dir)
    return local_frame(
        spark, merges,
        "round int, a string, b string, merged string, n_pair long, "
        "score_scaled long",
    ).orderBy("round")


@register("wordpiece_tokenize_fertility", oracle=_wp_fertility_oracle())
def wordpiece_tokenize_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of WordPiece: greedy longest-match-first
    ("maximum munch") tokenization against the shipped vocabulary
    (initial symbols + the ``WP_TRAIN_ROUNDS`` merged symbols, '##'
    continuation convention — the BERT tokenizer's algorithm, NOT a
    replay of the merge chain), reporting per-document piece counts
    and fertility.  Single chars are always in the vocabulary, so no
    word can fail to tokenize (no [UNK] path on this corpus).

    100 TB shape: matching is one broadcast join of candidate
    (start, end) substrings against the vocab on the distinct-word
    table; the greedy scan is a JVM ``aggregate`` fold over each
    word's (i, j)-sorted match list; the corpus pass is one word-keyed
    equi-join + map-side-combinable per-doc sum."""
    merges, vocab_frame, wf = _wordpiece_train(spark, sf_dir)
    return TL._fertility(
        spark, sf_dir, _wordpiece_pieces(spark, merges, vocab_frame, wf))
