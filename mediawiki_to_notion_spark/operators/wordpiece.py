"""WordPiece tokenizer: likelihood-scored merge training + max-munch
apply.  Completes the subword-tokenizer triad next to BPE
(text_analysis.py:1179, frequency-scored merges) and the unigram LM
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
Identical to the BPE trainer's discipline: the corpus collapses to
the distinct-word frequency table first; each round is two
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

from mediawiki_to_notion_spark.operators.registry import register
from mediawiki_to_notion_spark.plans.pipeline import local_frame
from mediawiki_to_notion_spark.sources.tables import load_table

WP_TRAIN_ROUNDS = 8
WP_SCALE = 10**12   # integer scale for the likelihood score


def _strip_cont(sym: str) -> str:
    return sym[2:] if sym.startswith("##") else sym


def _initial_symbols():
    """Column expr: word -> its initial WordPiece symbol sequence
    [w0, ##w1, ##w2, ...]."""
    chars = F.split("word", "")
    return F.concat(
        F.slice(chars, 1, 1),
        F.transform(
            F.slice(chars, 2, F.length("word") - 1),
            lambda c: F.concat(F.lit("##"), c),
        ),
    )


def _wordpiece_train(spark: SparkSession, sf_dir: str):
    """Run the WordPiece merge loop; returns (merges, vocab_frame, wf)
    where merges is [(round, a, b, merged, n_pair, score_scaled)],
    vocab_frame the final (word, l, freq) symbol-sequence table, and
    wf the collected (word, freq) list when the driver cutover fired
    (None on the distributed path) — returned so the fertility apply
    side can reuse it instead of re-aggregating the corpus and
    re-collecting the identical table (ADVICE r9)."""
    from mediawiki_to_notion_spark.operators import tokenizer_local as TL
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    # r10: spread the single-file scan before the corpus explode/agg
    # (same hazard as unigram_lm._word_freq; no-op at real scale)
    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Scale cutover (r9, see tokenizer_local.py): driver replay of the
    # rounds when the distinct-word table fits the cap — exact DECIMAL
    # score arithmetic is plain unbounded-int // in Python — else the
    # distributed loop below, unchanged.
    words = words.persist()  # probe + fallback share one aggregation
    wf = TL.collect_word_freqs(words)
    if wf is not None:
        words.unpersist()
        merges, seqs = TL.wordpiece_train_local(
            wf, WP_TRAIN_ROUNDS, WP_SCALE)
        vocab = local_frame(
            spark, [(w, seqs[w], f) for w, f in wf],
            "word string, l array<string>, freq long",
        )
        return merges, vocab, wf
    cur = words.select(
        "word", _initial_symbols().alias("l"), "freq"
    ).localCheckpoint()
    words.unpersist()
    merges: list[tuple[int, str, str, str, int, int]] = []
    for rnd in range(1, WP_TRAIN_ROUNDS + 1):
        syms = (
            cur.select(F.explode("l").alias("s"), "freq")
            .groupBy("s")
            .agg(F.sum("freq").alias("n_sym"))
        )
        pairs = (
            cur.filter(F.size("l") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("l") - 1),
                        lambda i: F.struct(
                            F.element_at("l", i).alias("a"),
                            F.element_at("l", i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n_pair"))
        )
        top = (
            pairs.join(
                F.broadcast(syms.selectExpr("s AS a", "n_sym AS n_a")), "a"
            )
            .join(
                F.broadcast(syms.selectExpr("s AS b", "n_sym AS n_b")), "b"
            )
            .select(
                "a",
                "b",
                "n_pair",
                F.expr(
                    f"(CAST(n_pair AS DECIMAL(38,0)) * {WP_SCALE}) div "
                    f"(CAST(n_a AS DECIMAL(38,0)) * n_b)"
                ).alias("score_scaled"),
            )
            .orderBy(F.desc("score_scaled"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # bounded: ONE row per round
        )
        if not top:
            break
        a, b = top[0].a, top[0].b
        merged = a + _strip_cont(b)
        merges.append(
            (rnd, a, b, merged, int(top[0].n_pair), int(top[0].score_scaled))
        )
        cur = cur.select(
            "word",
            F.aggregate(
                "l",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, F.lit(-1)) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("l"),
            "freq",
        ).localCheckpoint()
    return merges, cur, None


def _seq_sql() -> str:
    """DuckDB expr: word -> '<'-delimited initial symbol string, e.g.
    'hey' -> '<h><##e><##y>' (corpus is [A-Za-z0-9 ]; delimiters and
    '#' cannot collide with symbol text — the BPE oracle's encoding,
    text_analysis.py:1054)."""
    return (
        "'<' || substr(word, 1, 1) || '>' || coalesce(array_to_string("
        "list_transform(regexp_extract_all(substr(word, 2), '.'),"
        " x -> '<##' || x || '>'), ''), '')"
    )


def _wp_train_ctes(rounds: int) -> list[str]:
    """Unrolled per-round CTEs of the WordPiece loop: w{k} carries the
    '<'-delimited symbol strings after k merges; m{k} is round k's
    argmax merge row."""
    ctes = [f"""w0 AS MATERIALIZED (
      SELECT word, {_seq_sql()} AS s, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word != '' GROUP BY word
    )"""]
    for k in range(1, rounds + 1):
        ctes.append(f"""l{k} AS MATERIALIZED (
      SELECT string_split(substr(s, 2, len(s) - 2), '><') AS l, freq
      FROM w{k - 1}
    ),
    sy{k} AS MATERIALIZED (
      SELECT sym, CAST(sum(freq) AS BIGINT) AS n_sym
      FROM (SELECT unnest(l) AS sym, freq FROM l{k})
      GROUP BY sym
    ),
    m{k} AS MATERIALIZED (
      SELECT a, b,
             a || (CASE WHEN b LIKE '##%' THEN substr(b, 3) ELSE b END)
               AS merged,
             n_pair,
             CAST((CAST(n_pair AS HUGEINT) * {WP_SCALE})
                  // (CAST(sa.n_sym AS HUGEINT) * sb.n_sym) AS BIGINT)
               AS score_scaled
      FROM (
        SELECT l[u.i] AS a, l[u.i + 1] AS b,
               CAST(sum(freq) AS BIGINT) AS n_pair
        FROM l{k}, LATERAL (SELECT unnest(range(1, len(l))) AS i) u
        GROUP BY a, b
      ) p
      JOIN sy{k} sa ON sa.sym = p.a
      JOIN sy{k} sb ON sb.sym = p.b
      ORDER BY score_scaled DESC, a ASC, b ASC LIMIT 1
    ),
    w{k} AS MATERIALIZED (
      SELECT word,
             replace(s, '<' || m.a || '><' || m.b || '>',
                     '<' || m.merged || '>') AS s, freq
      FROM w{k - 1}, m{k} m
    )""")
    return ctes


def _wp_train_oracle(rounds: int = WP_TRAIN_ROUNDS) -> str:
    ctes = _wp_train_ctes(rounds)
    selects = "\n    UNION ALL ".join(
        f"SELECT {k} AS round, a, b, merged, n_pair, score_scaled FROM m{k}"
        for k in range(1, rounds + 1)
    )
    return ("WITH " + ",\n    ".join(ctes) + "\n    " + selects
            + "\n    ORDER BY round")


def _wp_fertility_oracle(rounds: int = WP_TRAIN_ROUNDS,
                         steps: int = 8) -> str:
    """Max-munch ENCODE oracle: vocab = initial symbols + the
    {rounds} merged symbols; greedy longest-prefix matching unrolled
    to {steps} pieces (corpus words are <= 8 chars — asserted in
    tests — and every single char is in the vocab, so <= 8 pieces
    always suffice and no word can fail to tokenize)."""
    ctes = _wp_train_ctes(rounds)
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
    return ("WITH " + ",\n    ".join(ctes) + f""",
    wl AS MATERIALIZED (SELECT word, n_pieces FROM mm{steps}),
    dw AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           round(CAST(sum(n_pieces) AS BIGINT)::DOUBLE / count(*), 6)
             AS fertility
    FROM dw JOIN wl USING (word)
    GROUP BY doc_id""")


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
    from mediawiki_to_notion_spark.operators import tokenizer_local as TL

    merges, vocab_frame, wf = _wordpiece_train(spark, sf_dir)
    from mediawiki_to_notion_spark.plans.pipeline import ensure_parallelism

    # r10: spread the encode pass (single-split hazard)
    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    dw_corpus = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    # Scale cutover (r9): max-munch is a per-distinct-word scan — when
    # the word table fits the cap it runs driver-side against the
    # Python vocab set (same greedy longest-match), and only the
    # corpus-scale join+agg below stays distributed.  The (word, freq)
    # table is NOT re-aggregated or re-collected here: _wordpiece_train
    # just built the identical table, so its collected wf (driver path)
    # / checkpointed vocab frame (distributed path) are reused verbatim
    # (ADVICE r9 — one corpus scan and one driver collect fewer).
    if wf is not None:
        vocab_set = set()
        for w, _f in wf:
            vocab_set.add(w[0])
            vocab_set.update("##" + c for c in w[1:])
        vocab_set.update(m[3] for m in merges)
        wp = TL.wordpiece_max_munch_local([w for w, _ in wf], vocab_set)
        # broadcast (guide §3.1): wl_local is the cap-bounded distinct
        # word table; the hint keeps the corpus encode join a map-side
        # hash probe at any cap-bounded size, never a sort-merge with a
        # full corpus-word Exchange.
        wl_local = F.broadcast(local_frame(
            spark, sorted(wp.items()), "word string, n_pieces long"))
        return (
            dw_corpus.join(wl_local, "word")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("n_pieces").alias("n_pieces"),
                F.round(
                    F.sum("n_pieces").cast("double") / F.count(F.lit(1)), 6
                ).alias("fertility"),
            )
        )
    # distributed path: the trainer's checkpointed (word, l, freq)
    # frame is a leaf scan — project the word table straight off it
    words = vocab_frame.select("word", "freq")
    alphabet = words.select(
        F.explode(_initial_symbols()).alias("piece")
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

    wl = (
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
    )
    return (
        dw_corpus.join(wl.select("word", "n_pieces"), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.round(
                F.sum("n_pieces").cast("double") / F.count(F.lit(1)), 6
            ).alias("fertility"),
        )
    )
