"""The shared core of the three subword tokenizers (BPE —
text_analysis.py, WordPiece — wordpiece.py, unigram-LM —
unigram_lm.py): one word table, one cutover, one merge loop for the two
merge-based trainers, one fertility pass, and their DuckDB templates.

The training loops iterate rounds whose loop state is the
DISTINCT-WORD frequency table — vocabulary-, not corpus-, sized (31
words at every tested SF; ~31k even at the synthetic sf100).  The
distributed round loop is the right shape at 100 TB, but at bench
scale its wall is merge-rounds x fixed per-action overhead.  So the
trainers cut over on the size of their input, not on a setting:

* ONE corpus-scale groupBy produces the (word, freq) table
  (:func:`_word_table` — the only corpus-sized step either way);
* if the table has at most ``iter_local._DRIVER_CAP`` rows (the one
  cap of every driver replay, probed by ``iter_local.collect_capped``:
  one bounded ``limit(cap+1)`` collect, no separate count job), the
  rounds replay here in exact Python arithmetic — the SAME integer
  counts, the SAME exact-integer scores (``n_ab * 10^12 // (n_a *
  n_b)`` in unbounded Python ints == Spark DECIMAL(38,0) div == DuckDB
  HUGEINT //), the SAME libm ``math.log`` the micro-nat costs already
  use on both engines, and the SAME tie-break total orders — so the
  output is bit-identical to the distributed loop (pinned by
  tests/test_tokenizer_driver_cutover.py, which runs BOTH paths on one
  input, and by the unchanged DuckDB oracles);
* past the cap the distributed loop runs (the 100 TB path: a
  web-scale corpus' distinct-word table can be ~1e8 rows and must
  never be collected).

BPE and WordPiece are one merge trainer (:func:`_merge_train`) told
apart by two family parameters: the continuation marker ``cont`` (""
for BPE, "##" for WordPiece), which fixes the initial symbols and the
merged symbol's spelling, and ``scale``, the ranking rule (None: pair
count, BPE; else the exact integer likelihood score, WordPiece).

Every replay below is order-insensitive in its inputs: counts are
commutative integer sums, argmaxes use total orders (score desc, then
the unique (a, b) pair ascending), seed selection sorts with a total
key, and the one float in the loop (``total``) is ``float(<exact int
sum>)`` — so the arbitrary row order of a ``collect()`` cannot perturb
results.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediawiki_to_notion_spark.operators import iter_local as IL
from mediawiki_to_notion_spark.plans.pipeline import (
    ensure_parallelism,
    local_frame,
)
from mediawiki_to_notion_spark.sources.tables import load_table


def _corpus_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word): every non-empty whitespace word of the corpus.
    A single-file parquet corpus arrives as ONE scan split; spreading
    it first keeps the explode and the map-side partial aggregation
    off one task (a no-op at real scale)."""
    d = ensure_parallelism(load_table(spark, "documents", sf_dir))
    return d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")


def _word_table(spark: SparkSession, sf_dir: str):
    """The (word, freq) table and the cutover: ``(wf, None)`` with the
    collected rows when the table fits the driver cap, else
    ``(None, words)`` with the checkpointed frame.  The aggregation is
    persisted across the probe, so the over-cap path does not pay the
    corpus scan a second time."""
    words = (
        _corpus_words(spark, sf_dir)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    rows = IL.collect_capped(words)
    if rows is not None:
        words.unpersist()
        return [(r.word, r.freq) for r in rows], None
    cur = words.localCheckpoint()
    words.unpersist()
    return None, cur


def _fertility(spark: SparkSession, sf_dir: str, wl,
               pieces: str = "n_pieces") -> DataFrame:
    """Per-document (doc_id, n_words, <pieces>, fertility) of the corpus
    encoded by ``wl``: a (word, n_pieces) frame, or the {word:
    n_pieces} dict of a driver replay.  The dict becomes a broadcast
    local relation, so the corpus join stays a map-side hash probe at
    any cap-bounded size, never a sort-merge with a corpus Exchange."""
    if isinstance(wl, dict):
        wl = F.broadcast(local_frame(
            spark, sorted(wl.items()), "word string, n_pieces long"))
    n = F.sum("n_pieces")
    return (
        _corpus_words(spark, sf_dir).join(wl, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            n.alias(pieces),
            F.round(n.cast("double") / F.count(F.lit(1)), 6)
            .alias("fertility"),
        )
    )


# -- BPE / WordPiece merge trainer --------------------------------------------


def _strip_cont(sym: str, cont: str = "##") -> str:
    return sym[len(cont):] if sym.startswith(cont) else sym


def _initial(word: str, cont: str) -> list[str]:
    """A word's initial symbols [w0, cont+w1, ...]."""
    return [word[0]] + [cont + c for c in word[1:]]


def _initial_symbols(cont: str):
    """Column expr: :func:`_initial` of the ``word`` column."""
    chars = F.split("word", "")
    if not cont:
        return chars
    return F.concat(
        F.slice(chars, 1, 1),
        F.transform(
            F.slice(chars, 2, F.length("word") - 1),
            lambda c: F.concat(F.lit(cont), c),
        ),
    )


def _merge_seq(s: list[str], a: str, b: str, merged: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge — the exact semantics
    of the Spark ``aggregate`` fold (last==a & x==b -> replace last)
    and of the oracles' string ``replace``."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        if i + 1 < n and s[i] == a and s[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _merge_train_local(wf, cont: str, rounds: int, scale: int | None):
    """Driver replay of the merge loop: (round, a, b, merged, n_pair,
    score) rules plus the final word -> symbol-sequence map.  Pair
    counting includes overlapping positions (as both engines count);
    the rewrite is greedy non-overlapping (as both engines rewrite).
    The score is the pair count, or with ``scale`` the exact integer
    ``(n_ab * scale) // (n_a * n_b)``."""
    seqs = {w: _initial(w, cont) for w, _ in wf}
    freq = dict(wf)
    merges = []
    for rnd in range(1, rounds + 1):
        sym_cnt: Counter = Counter()
        pair_cnt: Counter = Counter()
        for w, s in seqs.items():
            f = freq[w]
            if scale:
                for x in s:
                    sym_cnt[x] += f
            for i in range(len(s) - 1):
                pair_cnt[(s[i], s[i + 1])] += f
        if not pair_cnt:
            break
        scored = (
            ((n * scale) // (sym_cnt[a] * sym_cnt[b]) if scale else n,
             a, b, n)
            for (a, b), n in pair_cnt.items()
        )
        # argmax by (score desc, a asc, b asc) — a TOTAL order (pairs
        # are unique keys), so dict iteration order cannot matter
        score, a, b, n = min(scored, key=lambda t: (-t[0], t[1], t[2]))
        merged = a + _strip_cont(b, cont)
        merges.append((rnd, a, b, merged, n, score))
        for w in seqs:
            seqs[w] = _merge_seq(seqs[w], a, b, merged)
    return merges, seqs


def _merge_train(spark: SparkSession, sf_dir: str, cont: str, rounds: int,
                 scale: int | None = None):
    """The merge loop; returns (merges, vocab, wf): merges as
    [(round, a, b, merged, n_pair, score)], vocab the final (word, l,
    freq) symbol-sequence table, wf the word table rows on the driver
    path (None past the cap).

    Distributed path: the loop state is the word table rewritten in
    place (localCheckpoint per round), each round's shuffle is one
    vocabulary-sized pair groupBy (plus the symbol groupBy the
    likelihood score needs), the driver sees exactly ONE row per round
    (the argmax), and the rewrite is a JVM ``aggregate`` fold."""
    wf, words = _word_table(spark, sf_dir)
    if wf is not None:
        merges, seqs = _merge_train_local(wf, cont, rounds, scale)
        # broadcast-hinted: the cap-bounded word table keeps the
        # fertility encode join a broadcast; the hint survives the
        # consumer's projection.  The over-cap table stays unhinted.
        vocab = F.broadcast(local_frame(
            spark, [(w, seqs[w], f) for w, f in wf],
            "word string, l array<string>, freq long",
        ))
        return merges, vocab, wf
    cur = words.select("word", _initial_symbols(cont).alias("l"), "freq")
    merges = []
    for rnd in range(1, rounds + 1):
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
        if scale:
            syms = (
                cur.select(F.explode("l").alias("s"), "freq")
                .groupBy("s")
                .agg(F.sum("freq").alias("n_sym"))
            )
            pairs = (
                pairs.join(F.broadcast(
                    syms.selectExpr("s AS a", "n_sym AS n_a")), "a")
                .join(F.broadcast(
                    syms.selectExpr("s AS b", "n_sym AS n_b")), "b")
                .select("a", "b", "n_pair", F.expr(
                    f"(CAST(n_pair AS DECIMAL(38,0)) * {scale}) div "
                    f"(CAST(n_a AS DECIMAL(38,0)) * n_b)").alias("score"))
            )
        else:
            pairs = pairs.withColumn("score", F.col("n_pair"))
        top = (
            pairs.orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # bounded: ONE row per round
        )
        if not top:
            break
        a, b = top[0].a, top[0].b
        merged = a + _strip_cont(b, cont)
        merges.append(
            (rnd, a, b, merged, int(top[0].n_pair), int(top[0].score)))
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


# -- family-specific driver replays -------------------------------------------


def wordpiece_max_munch_local(
    words: list[str], vocab: set[str]
) -> dict[str, int]:
    """Greedy longest-match-first encode (the BERT tokenizer): word ->
    piece count.  Single chars are always in the vocab on this corpus,
    so the scan always advances."""
    out: dict[str, int] = {}
    for w in words:
        pos, n = 0, 0
        L = len(w)
        while pos < L:
            prefix = "" if pos == 0 else "##"
            ln = L - pos
            while ln > 1 and (prefix + w[pos:pos + ln]) not in vocab:
                ln -= 1
            # ln == 1 falls through: single chars are vocab members
            pos += ln
            n += 1
        out[w] = n
    return out


def unigram_viterbi_local(
    word: str, costs: dict[str, int], max_piece: int
) -> tuple[int, tuple[str, ...]]:
    """Min-cost segmentation; ties on integer cost broken by the
    lexicographically smallest piece list — Python tuple-of-str
    comparison matches the engines' element-wise array ordering
    (equal-concatenation lists are never prefixes of each other)."""
    L = len(word)
    dp: list[tuple[int, tuple[str, ...]] | None] = [None] * (L + 1)
    dp[0] = (0, ())
    for j in range(1, L + 1):
        best = None
        for i in range(max(0, j - max_piece), j):
            prev = dp[i]
            if prev is None:
                continue
            piece = word[i:j]
            c = costs.get(piece)
            if c is None:
                continue
            cand = (prev[0] + c, prev[1] + (piece,))
            if best is None or cand < best:
                best = cand
        dp[j] = best
    assert dp[L] is not None, word  # single chars are always in vocab
    return dp[L]


def unigram_train_local(
    wf: list[tuple[str, int]],
    rounds: int,
    seed_k: int,
    max_piece: int,
    micro_nat_cost,
) -> dict[str, int]:
    """Hard-EM unigram-LM loop: substring seed (top-K multi-char by
    (count desc, piece asc) + full single-char coverage), then
    ``rounds`` of Viterbi segmentation / usage recount / zero-usage
    prune.  Returns the final {piece: count} vocab."""
    cnt: Counter = Counter()
    for w, f in wf:
        L = len(w)
        for s in range(L):
            for ln in range(1, min(max_piece, L - s) + 1):
                cnt[w[s:s + ln]] += f
    multi = sorted(
        ((p, c) for p, c in cnt.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:seed_k]
    char_set = {p for p in cnt if len(p) == 1}
    vocab: dict[str, int] = dict(multi)
    vocab.update({p: int(cnt[p]) for p in char_set})

    for _rnd in range(rounds):
        total = float(sum(vocab.values()))  # exact int sum, then float
        costs = {p: micro_nat_cost(total, c) for p, c in vocab.items()}
        usage: Counter = Counter()
        for w, f in wf:
            _, pieces = unigram_viterbi_local(w, costs, max_piece)
            for p in pieces:
                usage[p] += f
        vocab = {p: int(u) for p, u in usage.items() if len(p) >= 2}
        vocab.update({ch: max(int(usage.get(ch, 0)), 1) for ch in char_set})
    return vocab


# -- DuckDB templates ---------------------------------------------------------


def _words_sql(extra: str = "") -> str:
    """The w0 CTE: the (word, <extra>freq) table of the corpus."""
    return f"""w0 AS MATERIALIZED (
      SELECT word, {extra}CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word != '' GROUP BY word
    )"""


def _merge_ctes(cont: str, rounds: int, scale: int | None = None) -> list[str]:
    """Unrolled per-round DuckDB twin of :func:`_merge_train`.  Words
    are carried as '<'-delimited symbol strings ('<h><##e><##y>'); the
    merge step is a plain string replace, whose left-to-right
    non-overlapping scan matches the Spark fold's greedy semantics.
    The corpus is pure [A-Za-z0-9 ] (asserted in the test suite), so
    the delimiters and '#' can never collide with symbol text.  w{k}
    carries the symbol strings after k merges; m{k} is round k's
    argmax merge row (a, b, merged, n_pair, score)."""
    seq = (
        "'<' || substr(word, 1, 1) || '>' || coalesce(array_to_string("
        "list_transform(regexp_extract_all(substr(word, 2), '.'),"
        f" x -> '<{cont}' || x || '>'), ''), '')"
    )
    b_tail = (f"(CASE WHEN b LIKE '{cont}%' THEN substr(b, {len(cont) + 1})"
              " ELSE b END)" if cont else "b")
    ctes = [_words_sql(f"{seq} AS s, ")]
    for k in range(1, rounds + 1):
        ctes.append(f"""l{k} AS MATERIALIZED (
      SELECT string_split(substr(s, 2, len(s) - 2), '><') AS l, freq
      FROM w{k - 1}
    )""")
        syms, score = "", "n_pair"
        if scale:
            ctes.append(f"""sy{k} AS MATERIALIZED (
      SELECT sym, CAST(sum(freq) AS BIGINT) AS n_sym
      FROM (SELECT unnest(l) AS sym, freq FROM l{k})
      GROUP BY sym
    )""")
            syms = (f"\n      JOIN sy{k} sa ON sa.sym = p.a"
                    f"\n      JOIN sy{k} sb ON sb.sym = p.b")
            score = (f"CAST((CAST(n_pair AS HUGEINT) * {scale})"
                     " // (CAST(sa.n_sym AS HUGEINT) * sb.n_sym) AS BIGINT)")
        ctes.append(f"""m{k} AS MATERIALIZED (
      SELECT a, b, a || {b_tail} AS merged, n_pair, {score} AS score
      FROM (
        SELECT l[u.i] AS a, l[u.i + 1] AS b,
               CAST(sum(freq) AS BIGINT) AS n_pair
        FROM l{k}, LATERAL (SELECT unnest(range(1, len(l))) AS i) u
        GROUP BY a, b
      ) p{syms}
      ORDER BY score DESC, a ASC, b ASC LIMIT 1
    ),
    w{k} AS MATERIALIZED (
      SELECT word,
             replace(s, '<' || m.a || '><' || m.b || '>',
                     '<' || m.merged || '>') AS s, freq
      FROM w{k - 1}, m{k} m
    )""")
    return ctes


def _merge_rules_sql(cont: str, rounds: int, scale: int | None,
                     cols: str) -> str:
    """The merge-rule table: ``cols`` over every round's m{k}."""
    selects = "\n    UNION ALL ".join(
        f"SELECT {k} AS round, {cols} FROM m{k}" for k in range(1, rounds + 1)
    )
    return ("WITH " + ",\n    ".join(_merge_ctes(cont, rounds, scale))
            + "\n    " + selects + "\n    ORDER BY round")


def _fertility_sql(ctes: list[str], wl: str, pieces: str = "n_pieces") -> str:
    """DuckDB twin of :func:`_fertility`: ``wl`` selects (word,
    n_pieces) from ``ctes``."""
    return ("WITH " + ",\n    ".join(ctes) + f""",
    wl AS MATERIALIZED ({wl}),
    dw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS {pieces},
           round(CAST(sum(n_pieces) AS BIGINT)::DOUBLE / count(*), 6)
             AS fertility
    FROM dw JOIN wl USING (word)
    GROUP BY doc_id""")
