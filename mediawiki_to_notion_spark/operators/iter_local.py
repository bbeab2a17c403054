"""Driver-side EXACT replays of the iterative graph / clustering loops
(VERDICT r9 brief #1), and the one cutover probe every driver replay
shares (``collect_capped`` against ``_DRIVER_CAP``; the tokenizers of
``tokenizer_local.py`` use it too).  The path is chosen by the size of
the loop input alone; no setting moves the cap.  The families:

* **Connected components** (``dedup_connected_components``,
  ``_min_label_components``): the loop state is the duplicate-subgraph
  edge list — sized by duplicates FOUND, not by the corpus (a few
  hundred pairs at bench scale; the corpus-scale work, LSH candidate
  generation, stays distributed on both paths).  Converged min-label
  propagation computes one well-defined function: node → minimum id of
  its connected component.  Union-find over the collected edges
  computes the *same function* in exact integer arithmetic, so the
  replay is bit-identical by construction — there is no accumulation
  order to worry about, only set connectivity.
* **PageRank** (``pagerank_word_graph``): loop state is the
  vocabulary-sized rank vector; every update is already all-integer
  (scaled ranks, overflow-safe share decomposition), so a dict replay
  of ``(r // out) * w + ((r % out) * w) // out`` per edge plus the
  integer teleport term is exact — Python unbounded ints agree with
  the engines' BIGINT arithmetic everywhere the engines don't overflow
  (they don't: total rank mass is bounded by PR_SCALE=10^12).
* **Lloyd k-means** (``kmeans_lloyd_refine``): loop state is the K×dim
  centroid table.  The replay collects the (capped) vector table once
  and reproduces every double operation in the engines' order:
  dimension-sequential dot folds (``functions.vectors.np_fold_dots`` —
  already pinned bit-identical to ``aggregate(zip_with(...))`` by the
  SRP kernels), IEEE sqrt/multiply/divide, Java-``Double.toString``
  -based HALF_UP rounding for ``F.round(x, 6)`` and for the
  DECIMAL(28,12) cast (Python ``repr`` and Java ``Double.toString``
  both emit the shortest round-tripping decimal), exact ``decimal``
  sums, and correctly-rounded decimal→double conversion — each step
  documented at the helper that implements it.

Past the cap the distributed loops run verbatim (the 100 TB path); the
probes are ``limit(cap+1)`` collects over already-materialized
(localCheckpoint'd / persisted) frames, so they cost one bounded read,
not an extra corpus pass.  Parity of both paths is pinned by
``tests/test_iter_driver_cutover.py`` which runs them on identical
inputs (including a deep chain for the pointer-jumping CC and a
Unicode corpus for PageRank) and asserts exact equality.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame

# The one cap of every driver replay: CC edges, PageRank nodes and
# edges, k-means vectors, and the tokenizers' distinct-word table.
# 65536 rows of loop input is ~MBs of driver state and sub-second
# replay work for each family.  Read at call time, so the parity tests
# force the distributed branch by patching it to 0.
_DRIVER_CAP = 1 << 16


def collect_capped(df: DataFrame) -> list | None:
    """The cutover probe: all rows if there are at most ``_DRIVER_CAP``
    of them, else None (caller falls back to the distributed loop).
    ``limit(cap+1)`` returns EVERY row when the frame is under the
    cap, so the probe is exact and costs one bounded action."""
    if _DRIVER_CAP <= 0:
        return None
    rows = df.limit(_DRIVER_CAP + 1).collect()
    if len(rows) > _DRIVER_CAP:
        return None
    return rows


# -- connected components ---------------------------------------------------


def cc_min_labels(edges) -> dict:
    """Union-find (path compression + union by size) over an iterable
    of (a, b) edges; returns {node: min id of its component} for every
    node that appears in an edge — exactly what converged min-label
    propagation returns for the edge-induced subgraph.  Integer ids,
    set connectivity only: no order sensitivity exists."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    # min id per root, then label every node
    min_of: dict = {}
    for n in parent:
        r = find(n)
        if r not in min_of or n < min_of[r]:
            min_of[r] = n
    return {n: min_of[find(n)] for n in parent}


# -- PageRank ---------------------------------------------------------------


def pagerank_local(
    tokens: list,
    edge_rows: list,
    iters: int,
    scale: int,
    damp_num: int,
    damp_den: int,
) -> dict:
    """Integer PageRank replay: ``tokens`` is every node, ``edge_rows``
    is (a, b, w, out_w) with out_w the summed out-weight of a.  All
    arithmetic is the distributed expression verbatim — floor div and
    mod on non-negative ints, where Python ``//`` == Spark ``div`` ==
    DuckDB ``//`` — so the replay is exact at any iteration count."""
    n = len(tokens)
    teleport = ((damp_den - damp_num) * scale) // (damp_den * n)
    ranks = {t: scale // n for t in tokens}
    for _ in range(iters):
        s: dict = {}
        for a, b, w, out_w in edge_rows:
            r = ranks[a]
            share = (r // out_w) * w + ((r % out_w) * w) // out_w
            s[b] = s.get(b, 0) + share
        ranks = {
            t: teleport + (damp_num * s.get(t, 0)) // damp_den
            for t in tokens
        }
    return ranks


# -- Lloyd k-means ----------------------------------------------------------

_Q12 = Decimal("1e-12")
_Q6 = Decimal("1e-6")


def round6(x: float) -> float:
    """Bit-exact replica of Spark's ``round(double, 6)``: Scala
    ``BigDecimal(double)`` goes through ``Double.toString`` (the
    shortest round-tripping decimal — the same spec Python ``repr``
    implements), then ``setScale(6, HALF_UP)``, then a correctly-
    rounded decimal→double conversion (both ``BigDecimal.doubleValue``
    paths — exact-long division and ``parseDouble`` — and Python
    ``float(Decimal)`` round correctly at these magnitudes).  Non-
    finite inputs pass through unchanged, as Spark's round leaves
    NaN/Infinity alone."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_Q6, ROUND_HALF_UP))


def q12_units(x: float) -> int:
    """The DECIMAL(28,12) cast of a double as integer 1e-12 units:
    ``Double.toString`` shortest decimal, ``setScale(12, HALF_UP)`` —
    see :func:`round6` for why ``repr`` matches."""
    return int(Decimal(repr(x)).quantize(_Q12, ROUND_HALF_UP).scaleb(12))


def lloyd_refine_local(
    vecs: list,
    k: int,
    iters: int,
    dim: int,
) -> list:
    """Driver replay of ``kmeans_lloyd_refine``'s round loop over the
    collected (vec_id, embedding) table (hygiene-filtered by the
    caller).  Returns [(cluster_id, [coord])] sorted by cluster_id.

    Every float step mirrors the distributed expression's order:

    * cosine = fold-dot / (sqrt(fold-dot(a,a)) * sqrt(fold-dot(b,b)))
      with dimension-sequential accumulation (np_fold_dots), rounded
      via :func:`round6`; argmax by (cos desc, cluster_id asc) — numpy
      argmax returns the FIRST maximum and centroids are scanned in
      cluster_id order, which is exactly that tie-break;
    * the mean update sums exact DECIMAL(28,12) units
      (:func:`q12_units`, order-free integer sum), converts the sum to
      double correctly-rounded, divides by the exact member count in
      IEEE double, and rounds via :func:`round6`;
    * an empty cluster keeps its previous centroid.
    """
    import numpy as np

    from mediawiki_to_notion_spark.functions.vectors import (
        np_fold_dots,
        np_fold_sq,
    )

    # Degenerate inputs (empty table, or no vec_id < k to seed from):
    # the distributed loop yields an empty centroid frame — replay that
    # directly instead of feeding 1-D empty arrays to the fold kernels.
    if not vecs or not any(vid < k for vid, _ in vecs):
        return []

    ids = [v for v, _ in vecs]
    E = np.array([e for _, e in vecs], dtype=np.float64)  # float32 exact
    n = E.shape[0]
    # integer DECIMAL(28,12) units of every element, computed once —
    # the cast depends only on the element, not the round
    U = np.array(
        [[q12_units(x) for x in row] for row in E.tolist()], dtype=np.int64
    )
    ne = np.sqrt(np_fold_sq(E))  # np.sqrt is IEEE correctly rounded

    # initial centroids: raw doubles of vec_id < k, cluster_id = vec_id
    # (plain Python floats, value-identical to the np.float64 objects)
    cents = [
        (vid, [float(x) for x in E[i]])
        for i, vid in enumerate(ids)
        if vid < k
    ]
    cents.sort(key=lambda t: t[0])

    for _ in range(iters):
        C = np.array([c for _, c in cents], dtype=np.float64)
        nc = np.sqrt(np_fold_sq(C))
        dots = np_fold_dots(E, C)                      # (n, k)
        cos = dots / (ne[:, None] * nc[None, :])       # a/(na*nb) order
        cos_r = np.array(
            [[round6(x) for x in row] for row in cos.tolist()]
        )
        assign = np.argmax(cos_r, axis=1)  # first max == lowest cluster_id
        new_cents = []
        for ci, (cid, old) in enumerate(cents):
            members = np.nonzero(assign == ci)[0]
            if len(members) == 0:
                new_cents.append((cid, list(old)))
                continue
            cnt = float(len(members))
            coords = []
            for d in range(dim):
                s = int(U[members, d].sum())  # exact int64 sum
                # DECIMAL(38,12) sum -> double (correctly rounded),
                # then / count in IEEE double, then round(,6)
                mean = float(Decimal(s).scaleb(-12)) / cnt
                coords.append(round6(mean))
            new_cents.append((cid, coords))
        cents = new_cents
    return cents
