"""The event-analytics pairs share one core each: the ordered funnel,
the transition matrix, the weekly retention cells, the trailing-24h
fan-out and the nation-month revenue series (with one DuckDB template
per core), so a slip in a shared piece breaks two queries at once.
Each oracled query built on them is checked against its DuckDB oracle
here, in the default tier, at sf0.001; ``sliding_distinct_users_hll``
is rows-only and stays covered by its accuracy-band plan test."""

from __future__ import annotations

import datetime as dt

import pytest

from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all
from mediawiki_to_notion_spark.oracle import compare
from tests.conftest import SF_SMOKE

load_all()

EVENTS_QUERIES = (
    "event_funnel_conversion",
    "events_conversion_funnel",
    "event_transition_matrix",
    "events_markov_transitions",
    "user_retention_cohorts",
    "retention_cohort_matrix",
    "orders_demand_forecast_holt",
    "orders_forecast_holt_winters",
    "sliding_distinct_users",
    "hll_distinct_within_band",
)


@pytest.mark.parametrize("name", EVENTS_QUERIES)
def test_events_query_matches_oracle(spark, name):
    result = compare(spark, QUERIES[name], ORACLES[name], SF_SMOKE)
    assert result["match"], f"{name}: {result}"
    assert result["spark_rows"] > 0, name


def test_conversion_funnel_builds_without_a_job(spark):
    """The funnel summary is one lazy aggregate over the shared stage
    frame: building it runs no checkpoint and no driver collect."""
    sc = spark.sparkContext
    group = "conversion-funnel-build"
    sc.setJobGroup(group, "build events_conversion_funnel")
    try:
        df = QUERIES["events_conversion_funnel"](spark, SF_SMOKE)
        built = list(sc.statusTracker().getJobIdsForGroup(group))
        # control: an action in the same group is seen by the tracker
        df.collect()
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert built == []
    assert control


def test_conversion_rounds_half_away_from_zero(spark, tmp_path):
    """128 viewers, one of whom clicks after viewing: the click-stage
    conversion is 1/128 = 0.0078125, a tie at the 7th decimal.  DuckDB
    rounds it half away from zero (0.007813); Spark must too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 3, 12)
    users = list(range(128)) + [0]
    types = ["view"] * 128 + ["click"]
    ts = [t0] * 128 + [t0 + dt.timedelta(minutes=5)]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(users)), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types),
        "value": pa.array([1.0] * len(users)),
        "props": pa.array(["{}"] * len(users)),
    }), str(tmp_path / "events.parquet"))
    query = QUERIES["events_conversion_funnel"]
    result = compare(spark, query, ORACLES["events_conversion_funnel"],
                     str(tmp_path))
    assert result["match"], result
    rows = {r.stage: r for r in query(spark, str(tmp_path)).collect()}
    assert [rows[k].n_users for k in (1, 2, 3)] == [128, 1, 0]
    assert rows[2].conversion_from_prev == 0.007813
    assert rows[3].conversion_from_prev == 0.0


def test_transition_into_null_event_type_is_kept(spark, tmp_path):
    """A NULL next event type is a transition of its own; only the last
    event of a user's sequence has none.  User 1 goes view → NULL →
    click, user 2 view → click."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 3, 12)
    users = [1, 1, 1, 2, 2]
    types = ["view", None, "click", "view", "click"]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(users)), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(minutes=i) for i in range(5)],
                       pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array([1.0] * len(users)),
        "props": pa.array(["{}"] * len(users)),
    }), str(tmp_path / "events.parquet"))
    for name in ("event_transition_matrix", "events_markov_transitions"):
        result = compare(spark, QUERIES[name], ORACLES[name], str(tmp_path))
        assert result["match"], f"{name}: {result}"
    rows = {(r.cur, r.nxt): (r.n, r.p) for r in
            QUERIES["events_markov_transitions"](spark, str(tmp_path)).collect()}
    assert rows == {("view", None): (1, 0.5), ("view", "click"): (1, 0.5),
                    (None, "click"): (1, 1.0)}


def test_retention_week_is_seven_days(spark, tmp_path):
    """Retention cells over ten weeks of events: a week offset counts
    whole 7-day weeks between Monday-truncated weeks, so users active
    8 and 9 weeks after their first week land at offsets 8 and 9."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    day0 = dt.datetime(2024, 1, 3, 12)  # a Wednesday; its week is Jan 1
    events = [  # (user, days after day0)
        (1, 0), (1, 7), (1, 56), (1, 63),
        (2, 2), (2, 64),
        (3, 7), (3, 35), (3, 63),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(events)), pa.int64()),
        "ts": pa.array([day0 + dt.timedelta(days=d) for _, d in events],
                       pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in events], pa.int64()),
        "event_type": pa.array(["view"] * len(events), pa.string()),
        "value": pa.array([1.0] * len(events)),
        "props": pa.array(["{}"] * len(events)),
    }), str(tmp_path / "events.parquet"))
    for name in ("user_retention_cohorts", "retention_cohort_matrix"):
        result = compare(spark, QUERIES[name], ORACLES[name], str(tmp_path))
        assert result["match"], f"{name}: {result}"
    jan1, jan8 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
    cells = {(jan1, 0): 2, (jan1, 1): 1, (jan1, 8): 1, (jan1, 9): 2,
             (jan8, 0): 1, (jan8, 4): 1, (jan8, 8): 1}
    got = {(r.cohort_week, r.week_offset): r.n_active_users for r in
           QUERIES["user_retention_cohorts"](spark, str(tmp_path)).collect()}
    assert got == cells
    ms = {d: int(dt.datetime(d.year, d.month, d.day,
                             tzinfo=dt.timezone.utc).timestamp()) * 1000
          for d in (jan1, jan8)}
    got = {(r.cohort_week_ms, r.weeks_since): r.n_active_users for r in
           QUERIES["retention_cohort_matrix"](spark, str(tmp_path)).collect()}
    assert got == {(ms[d], k): n for (d, k), n in cells.items()}
