"""Driver contract for the spark-graft builder (PySpark target).

Serves the engine's query registry (mediawiki_to_notion_spark.operators):
``entry`` runs the flagship aggregate at sf0.001, ``queries`` /
``oracle_sql`` expose every implemented SURVEY.md §2 operator with its
DuckDB oracle for the t2 correctness gate.

The driver's correctness gate checks ~50 queries in dict order, so
``queries()`` orders the registry by one rule, read from the
``CORRECTNESS_r*.json`` files the driver leaves in the repo root:

1. never-confirmed queries, in registry order;
2. live ``_RECHECK`` entries — confirmed queries rewritten since their
   last green row;
3. every other confirmed query, oldest latest-confirming round first
   (ties in registry order).

Each round's window therefore re-gates the queries whose confirmation
is oldest, and over rounds every registered query sweeps through it.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all

load_all()

_HERE = os.path.dirname(os.path.abspath(__file__))


def _confirmed() -> tuple[set[str], dict[str, int]]:
    """(all-rounds confirmed, name → latest confirming round) from the
    driver's CORRECTNESS files; missing/corrupt files are skipped.

    A completed rows-only check (``no_oracle`` + a row count) confirms a
    query ONLY while it still has no registered oracle: once an oracle is
    added (e.g. pipeline_prepare_convert / multimodal_feature_extract,
    upgraded after r1's rows-only rows), the old weak row no longer
    counts and the query re-fronts for a real hash-checked slot."""
    all_ok: set[str] = set()
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("hash_match") or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and name not in ORACLES
            ):
                all_ok.add(name)
                last_round[name] = max(last_round.get(name, 0), rnd)
    return all_ok, last_round


# Confirmed earlier but rewritten since — need a fresh driver row.  The
# value is the round the rewrite happened in: the entry expires on its
# own once a correctness file from that round or later re-confirms it,
# so delete entries whose round has confirmed them.
_RECHECK: dict[str, int] = {}

# A typo'd or stale name would silently starve a query of its slot; the
# driver imports this module, so fail loudly here.  A real raise, not
# `assert` — asserts are stripped under `python -O`.
_unknown = [n for n in _RECHECK if n not in QUERIES]
if _unknown:
    raise ValueError(f"_RECHECK names not in registry: {_unknown}")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["agg_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in gate
    order: never confirmed, then live rechecks, then the confirmed rest
    by oldest latest-confirming round."""
    confirmed, last_round = _confirmed()
    fresh = [n for n in QUERIES if n not in confirmed]
    recheck = [n for n, rewritten_in in _RECHECK.items()
               if n in confirmed and last_round[n] < rewritten_in]
    front = set(fresh) | set(recheck)
    order = {n: i for i, n in enumerate(QUERIES)}
    rest = sorted((n for n in confirmed if n in QUERIES and n not in front),
                  key=lambda n: (last_round[n], order[n]))
    return {n: QUERIES[n] for n in (*fresh, *recheck, *rest)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return dict(ORACLES)
