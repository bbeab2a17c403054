"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from the
``--seed`` argument, with no import of the package or its tools, so a
change to the program cannot silently change a workload's inputs:

- ``wiki_pages`` / ``write_wiki_dump``: a MediaWiki XML export for
  ``wiki_import``;
- ``write_query_tables``: the parquet tables the registry queries read;
- ``query_order``: the seed-permuted order of the ``query_mix`` queries.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import base64
import os
import random
from xml.sax.saxutils import escape

WORDS = (
    "router switch packet vlan trunk subnet gateway firewall tunnel peer "
    "kernel module daemon buffer socket thread cache index shard replica "
    "backup restore cluster node volume snapshot policy token session "
    "latency budget window batch stream merge"
).split()
TEMPLATES = (
    "{{Attention}}", "{{Needswork}}", "{{Needsclarification}}",
    "{{RFC|%d}}", "{{RFC|%d|Spec}}", "{{source|Vendor guide}}",
    "{{MSKB|%d|Known problem}}", "{{VMwareKB|%d}}", "{{Mystery|%d}}",
)
NAMESPACES = {0: None, 1: "Talk", 2: "User", 6: "File", 14: "Category"}


def _sentence(rng: random.Random, lo: int = 6, hi: int = 18) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _inline(rng: random.Random, titles: list[str]) -> str:
    """One paragraph line mixing markup the converter rewrites."""
    parts = [_sentence(rng)]
    roll = rng.random()
    if roll < 0.25:
        parts.append(f"See [[{rng.choice(titles)}|{rng.choice(WORDS)}]].")
    elif roll < 0.4:
        parts.append(f"Also [https://docs.example.org/{rng.choice(WORDS)} "
                     f"{rng.choice(WORDS)} notes].")
    elif roll < 0.55:
        parts.append(f"'''{rng.choice(WORDS)}''' and ''{rng.choice(WORDS)}''.")
    elif roll < 0.7:
        tpl = rng.choice(TEMPLATES)
        parts.append(tpl % rng.randint(100, 9999) if "%d" in tpl else tpl)
    elif roll < 0.8:
        parts.append(f"Use <code>{rng.choice(WORDS)} --{rng.choice(WORDS)}</code>.")
    return " ".join(parts)


def _unit(rng: random.Random, titles: list[str],
          k: int) -> tuple[list[str], int]:
    """One structural unit of an article: its wikitext lines and the
    number of Markdown blocks it converts to (one to six)."""
    roll = rng.random()
    if roll < 0.40:
        return [_inline(rng, titles), ""], 1
    if roll < 0.52:
        return [f"== {rng.choice(WORDS).capitalize()} {k} ==", ""], 1
    if roll < 0.64:
        mark = rng.choice("*#")
        items = rng.randint(2, 5)
        return [f"{mark} {_sentence(rng, 3, 8)}"
                for _ in range(items)] + [""], items
    if roll < 0.74:
        lines = [f"  {rng.choice(WORDS)} {rng.choice(WORDS)} "
                 f"{rng.randint(0, 99)}" for _ in range(rng.randint(2, 6))]
        if rng.random() < 0.5:
            lines[0] += f" '''{rng.choice(WORDS)}'''"
        return lines + [""], 1
    if roll < 0.84:
        cols, n_rows = rng.randint(2, 4), rng.randint(1, 4)
        rows = ['{| class="wikitable"',
                "! " + " !! ".join(rng.choice(WORDS) for _ in range(cols))]
        for _ in range(n_rows):
            rows += ["|-", "| " + " || ".join(
                str(rng.randint(0, 999)) for _ in range(cols))]
        return rows + ["|}", ""], n_rows + 1
    if roll < 0.90:
        return ["----", ""], 1
    if roll < 0.95:
        return [f"{_sentence(rng)}<br/>{_sentence(rng)}", ""], 1
    return [f"[[Category:{rng.choice(WORDS).capitalize()}]]",
            _inline(rng, titles), ""], 1


def _article(rng: random.Random, titles: list[str], n_blocks: int) -> str:
    """An article of ``n_blocks`` Markdown blocks, give or take the size
    of its last unit (at most five more)."""
    lines = ["__TOC__"] if rng.random() < 0.1 else []
    k = blocks = 0
    while blocks < n_blocks:
        unit, n = _unit(rng, titles, k)
        lines += unit
        blocks += n
        k += 1
    return "\n".join(lines).strip() + "\n"


# Share of the dump's pages of each non-article kind; the rest are
# articles.  Counts are fixed per page total, only placement is seeded.
KIND_SHARES = (("redirect", 0.03), ("empty", 0.02), ("other_ns", 0.03),
               ("category", 0.03), ("file", 0.03))
MAX_ARTICLE_BLOCKS = 90


def article_lengths(n_articles: int) -> list[int]:
    """Heavy-tailed article lengths in blocks, the same for every seed:
    Pareto quantiles, so most articles are short and, from about thirty
    articles on, a few run past the 50-block upload chunk while none
    needs a third chunk."""
    return [min(int(2 + 3 * (1 - (i + 0.5) / n_articles) ** (-1 / 1.2)),
                MAX_ARTICLE_BLOCKS) for i in range(n_articles)]


def wiki_pages(seed: int, n_pages: int) -> list[dict]:
    """The pages of a synthetic wiki: ``ns``, ``title``, ``text`` and,
    for File pages, ``upload`` = (filename, raw bytes).  Every seed gives
    the same number of pages of each kind and the same article lengths;
    the seed picks the text and the order."""
    rng = random.Random(seed)
    titles = [f"{rng.choice(WORDS).capitalize()} {rng.choice(WORDS)} {i:05d}"
              for i in range(n_pages)]
    kinds = [kind for kind, share in KIND_SHARES
             for _ in range(max(1, round(share * n_pages)))]
    kinds += ["article"] * (n_pages - len(kinds))
    rng.shuffle(kinds)
    lengths = article_lengths(kinds.count("article"))
    rng.shuffle(lengths)
    pages = []
    for i, (title, kind) in enumerate(zip(titles, kinds)):
        page = {"ns": 0, "title": title, "text": None, "upload": None}
        if kind == "redirect":
            page["text"] = f"#REDIRECT [[{rng.choice(titles)}]]"
        elif kind == "empty":
            page["text"] = ""
        elif kind == "other_ns":
            page["ns"] = rng.choice((1, 2))
            page["title"] = f"{NAMESPACES[page['ns']]}:{title}"
            page["text"] = _sentence(rng)
        elif kind == "category":
            page["ns"] = 14
            page["title"] = f"Category:{title}"
            page["text"] = _inline(rng, titles) + "\n"
        elif kind == "file":
            page["ns"] = 6
            name = f"figure {i:05d}.bin"
            page["title"] = f"File:{name}"
            page["text"] = _sentence(rng)
            page["upload"] = (name, rng.randbytes(rng.randint(64, 4096)))
        else:
            page["text"] = _article(rng, titles, lengths.pop())
        pages.append(page)
    return pages


def write_wiki_dump(path: str, pages: list[dict]) -> None:
    ns_xml = "".join(
        f'      <namespace key="{k}" />\n' if v is None
        else f'      <namespace key="{k}">{v}</namespace>\n'
        for k, v in NAMESPACES.items()
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">\n'
                f"  <siteinfo>\n    <namespaces>\n{ns_xml}"
                "    </namespaces>\n  </siteinfo>\n")
        for p in pages:
            f.write(f"  <page>\n    <title>{escape(p['title'])}</title>\n"
                    f"    <ns>{p['ns']}</ns>\n"
                    f"    <revision><text>{escape(p['text'] or '')}</text>"
                    "</revision>\n")
            if p["upload"]:
                name, data = p["upload"]
                f.write(f"    <upload><filename>{escape(name)}</filename>\n"
                        '      <contents encoding="base64">'
                        f"{base64.b64encode(data).decode()}</contents></upload>\n")
            f.write("  </page>\n")
        f.write("</mediawiki>\n")


# --- registry query tables ---------------------------------------------------

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "hot", "cold", "new", "old", "shiny")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def write_query_tables(out_dir: str, seed: int, scale: float) -> None:
    """TPC-H-shaped star schema plus ``events``, ``documents`` and
    ``embeddings``, at ``scale`` (1.0 is the sf0.1 shape: 150k orders,
    600k line items, 5k documents), as one parquet file per table with
    the column names and types the registry reads."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def n(base: int) -> int:
        return max(int(base * scale), 10)

    def save(name: str, cols: dict, schema: list) -> None:
        table = pa.Table.from_pydict(cols, schema=pa.schema(schema))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    us = pa.timestamp("us")
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)}), os.path.join(out_dir, "region.parquet"))
    save("nation", {"n_nationkey": list(range(25)),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": [i % 5 for i in range(25)]},
         [("n_nationkey", pa.int32()), ("n_name", pa.string()),
          ("n_regionkey", pa.int32())])

    n_cust, n_supp, n_part, n_ord = n(15000), n(1000), n(20000), n(150000)
    save("customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }, [("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string())])
    save("supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }, [("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])
    retail = np.round(rng.uniform(900.0, 999.9, n_part), 1)
    save("part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    }, [("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64())])

    day = np.timedelta64(1, "D")
    base = np.datetime64("1995-01-01", "us")
    save("orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": base + rng.integers(0, 2404, n_ord) * day,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }, [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", us), ("o_orderpriority", pa.string())])

    n_line = 4 * n_ord
    part_key = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": part_key,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[part_key]
                                    * rng.uniform(0.5, 1.5, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": base + rng.integers(1, 2499, n_line) * day,
    }, [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", us)])

    n_ev = n(100000)
    t0 = np.datetime64("2024-01-01", "us")
    save("events", {
        "event_id": np.arange(n_ev),
        "ts": t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
        * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, [("event_id", pa.int64()), ("ts", us), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()),
        ("props", pa.string())])

    n_doc = n(5000)
    texts = []
    for i in range(n_doc):
        words = rng.choice(DOC_WORDS, rng.integers(10, 101))
        texts.append(" ".join(words))
    # one document in twenty is an exact copy of an earlier one with a
    # marker appended, so the dedup queries find real duplicates
    for i in range(20, n_doc, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    save("documents", {
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])

    n_vec = n(2000)
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0.0, 0.6, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": np.arange(n_vec),
        "embedding": pd.Series(list(vecs.astype(np.float32))),
        "label": labels,
    }, [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])


def query_order(seed: int, names: list[str]) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
