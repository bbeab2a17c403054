"""dedup_fuzzy_levenshtein (r8 sorted-neighborhood primary) pins:
output is LINEAR in duplicate-cluster size while keeping every member
of a flooded block connected, and the exhaustive variant measures the
quadratic output the primary avoids."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
import pyarrow.parquet as pq

from mediawiki_to_notion_spark.operators import QUERIES, load_all
from mediawiki_to_notion_spark.operators import iter_local as IL
from mediawiki_to_notion_spark.operators.dedup import (
    FUZZY_SN_WINDOW,
)

load_all()

N_CLUSTER = 40  # one duplicate-flooded block, well past the window


def _write_docs(tmp_path, texts):
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), type=pa.int64()),
                  "text": texts}),
        os.path.join(str(tmp_path), "documents.parquet"),
    )


def _components(pairs, n):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return len({find(i) for i in range(n)})


def test_flooded_block_stays_connected_with_linear_output(spark, tmp_path):
    # N near-identical docs (same 8-char block prefix, tiny tail edits)
    texts = [f"prefix00 common title body variant{i % 3}"
             for i in range(N_CLUSTER)]
    _write_docs(tmp_path, texts)
    rows = QUERIES["dedup_fuzzy_levenshtein"](
        spark, str(tmp_path)).collect()
    pairs = [(r.doc_a, r.doc_b) for r in rows]
    # linear output: <= N * W, NOT the N*(N-1)/2 exhaustive count
    assert len(pairs) <= N_CLUSTER * FUZZY_SN_WINDOW
    assert len(pairs) < N_CLUSTER * (N_CLUSTER - 1) // 2
    # every member chains into ONE component (what CC/survivorship eat)
    assert _components(pairs, N_CLUSTER) == 1


def test_exhaustive_variant_measures_the_quadratic(spark, tmp_path):
    texts = [f"prefix00 common title body variant{i % 3}"
             for i in range(N_CLUSTER)]
    _write_docs(tmp_path, texts)
    n_ex = QUERIES["dedup_fuzzy_levenshtein_exhaustive"](
        spark, str(tmp_path)).count()
    assert n_ex == N_CLUSTER * (N_CLUSTER - 1) // 2


def test_window_pairs_subset_of_exhaustive(spark, tmp_path):
    # mixed corpus: two blocks + unique docs; SN pairs must be a strict
    # subset of the exhaustive pairs with identical distances
    texts = (
        [f"blockaaa doc one tail {i}" for i in range(6)]
        + [f"blockbbb doc two tail {i}" for i in range(3)]
        + ["unique-0 nothing shared here", "unique-1 nor here"]
    )
    _write_docs(tmp_path, texts)
    sn = {(r.doc_a, r.doc_b): r.edit_distance
          for r in QUERIES["dedup_fuzzy_levenshtein"](
              spark, str(tmp_path)).collect()}
    ex = {(r.doc_a, r.doc_b): r.edit_distance
          for r in QUERIES["dedup_fuzzy_levenshtein_exhaustive"](
              spark, str(tmp_path)).collect()}
    assert set(sn) <= set(ex)
    assert all(ex[k] == v for k, v in sn.items())
    # with blocks smaller than the window the sets coincide
    assert set(sn) == set(ex)


@pytest.mark.parametrize("cap", ["0", None])
def test_connectivity_certificate_on_deep_chain(spark, tmp_path,
                                                monkeypatch, cap):
    """A flooded block's sorted-neighborhood pairs form a rank CHAIN
    whose diameter is ~n/W — plain min-label propagation would need
    that many rounds (the adversarial-distribution fixture caught it
    at >20).  The certificate's pointer-jumping CC must converge and
    report zero label mismatches on a 200-deep single-cluster chain.
    cap="0" forces the DISTRIBUTED pointer-jumping loop (r10 cutover);
    cap=None exercises the union-find driver replay."""
    if cap is not None:
        monkeypatch.setattr(IL, "_DRIVER_CAP", int(cap))
    _write_docs(tmp_path, [f"aaaaaaaa doc {'x' * (i % 3)}"
                           for i in range(200)])
    row = QUERIES["dedup_fuzzy_connectivity_certificate"](
        spark, str(tmp_path)).collect()[0]
    assert row.n_clusters_window == row.n_clusters_exhaustive == 1
    assert row.n_label_mismatches == 0
    assert row.window_connectivity_ok
