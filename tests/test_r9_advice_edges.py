"""Edge-case pins for the three r8 ADVICE latent divergences.

Each test builds a synthetic corpus that EXERCISES the edge the stock
testdata never hits (even n for the median rank, sub-3-token documents,
tied first timestamps), runs the Spark operator against an overridden
temp view AND the registered DuckDB oracle over the same synthetic
parquet, and requires exact agreement — the same comparison the driver
gate performs, but on the adversarial input.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from conftest import SF_SMALL

from shelf_spark.data import register_views
from shelf_spark.queries import ORACLES, QUERIES


def _duck_on(tmp_path, tables: dict[str, str], sql: str):
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


@pytest.mark.parametrize("n", [6, 10])  # n % 4 == 2: the divergent ranks
def test_median_ci_even_n_matches_oracle_and_truncation(spark, tmp_path, n):
    """For n % 4 == 2, (n+1)/2 is x.5: DuckDB's float-div CAST rounds
    half-to-even (up) while Spark's integer cast truncates — the r8
    ADVICE divergence. With the oracle on integer division both engines
    must select the SAME (truncated) order statistic."""
    register_views(spark, SF_SMALL)
    prices = [float(100 + 10 * i) for i in range(n)]  # distinct, sorted
    df = spark.createDataFrame(
        [(p,) for p in prices], "l_extendedprice double"
    )
    path = str(tmp_path / "lineitem.parquet")
    df.toPandas().to_parquet(path)
    df.createOrReplaceTempView("lineitem")
    try:
        got = QUERIES["stats_median_ci_exact"](spark, SF_SMALL).collect()[0]
    finally:
        register_views(spark, SF_SMALL, force=True)
    _, oracle = _duck_on(
        tmp_path, {"lineitem": path}, ORACLES["stats_median_ci_exact"]
    )
    # truncation reference: the ((n+1)//2)-th smallest value
    expect_median = sorted(prices)[(n + 1) // 2 - 1]
    assert got.median_ == expect_median
    orow = dict(zip(("n", "lo_rank", "hi_rank", "ci_low", "median_", "ci_high"),
                    oracle[0]))
    assert orow["median_"] == expect_median
    assert (got.n, got.lo_rank, got.hi_rank) == (
        orow["n"], orow["lo_rank"], orow["hi_rank"]
    )
    assert (got.ci_low, got.ci_high) == (orow["ci_low"], orow["ci_high"])


def test_novelty_score_short_docs_match_oracle(spark, tmp_path):
    """Docs with <3 tokens have NO 3-grams; before the r9 guard the Spark
    side fabricated null-index grams for them while the oracle emitted
    none. Both engines must now drop short docs identically."""
    register_views(spark, SF_SMALL)
    rows = [
        (1, "a"),                    # 1 token  → no grams
        (2, "a b"),                  # 2 tokens → no grams
        (3, "a b c"),                # exactly one gram, first seen here
        (4, "a b c d"),              # two grams, one novel
        (5, "x y"),                  # 2 tokens → no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    df.toPandas().to_parquet(path)
    df.createOrReplaceTempView("documents")
    try:
        got = sorted(
            (r.doc_id, r.n_grams, r.n_novel, r.novelty)
            for r in QUERIES["text_novelty_score"](spark, SF_SMALL).collect()
        )
    finally:
        register_views(spark, SF_SMALL, force=True)
    _, oracle = _duck_on(
        tmp_path, {"documents": path}, ORACLES["text_novelty_score"]
    )
    assert got == sorted(oracle)
    scored = {d for d, *_ in got}
    assert scored == {3, 4}, "short docs must not be scored"


def test_concurrent_sessions_tied_first_events_match_oracle(spark, tmp_path):
    """A user's first two events share a timestamp: without a total
    (ts, event_id) order on the running-sum window, intra-tie order
    decided whether a spurious 1-event session split off. Both engines
    must now sessionize deterministically and identically."""
    register_views(spark, SF_SMALL)
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        # user 1: two events at the SAME ts, then one 10 min later
        (101, t0, 1, 1.0),
        (102, t0, 1, 1.0),
        (103, t0 + dt.timedelta(minutes=10), 1, 1.0),
        # user 2: tie at t0+5min (overlapping user 1's session), then a
        # >30min gap → second session
        (201, t0 + dt.timedelta(minutes=5), 2, 1.0),
        (202, t0 + dt.timedelta(minutes=5), 2, 1.0),
        (203, t0 + dt.timedelta(hours=2), 2, 1.0),
    ]
    # `value` as in every events table: the session relation both engines
    # read sums it
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    path = str(tmp_path / "events.parquet")
    df.toPandas().to_parquet(path)
    df.createOrReplaceTempView("events")
    try:
        got = sorted(
            (r.day, r.peak_concurrent, r.n_session_starts)
            for r in QUERIES["events_concurrent_sessions"](
                spark, SF_SMALL
            ).collect()
        )
    finally:
        register_views(spark, SF_SMALL, force=True)
    _, oracle = _duck_on(
        tmp_path, {"events": path}, ORACLES["events_concurrent_sessions"]
    )
    assert got == sorted(oracle)
    # ground truth: u1 has 1 session, u2 has 2 → 3 starts on the one day
    assert got == [(dt.date(2024, 1, 1), 2, 3)]


def test_sessionize_tied_first_events_match_oracle(spark, tmp_path):
    """Same tie class swept proactively in r9: events_sessionize (and
    events_bounce_rate / stream_session_windows' oracle, which share the
    sub-expression) numbered sessions over a ts-only running sum while
    is_new was computed over (ts, event_id) — within a tie the running
    sum could visit the is_new=0 row first and split a spurious
    session. Both engines must now agree on the adversarial input."""
    import datetime as dt

    register_views(spark, SF_SMALL)
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # user 1: first two events SHARE a timestamp → ONE session of 3
        (11, t0, 1, 10.0),
        (12, t0, 1, 20.0),
        (13, t0 + dt.timedelta(minutes=5), 1, 30.0),
        # user 2: tie mid-session after a >30min gap boundary
        (21, t0, 2, 1.0),
        (22, t0 + dt.timedelta(hours=1), 2, 2.0),
        (23, t0 + dt.timedelta(hours=1), 2, 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    path = str(tmp_path / "events.parquet")
    df.toPandas().to_parquet(path)
    df.createOrReplaceTempView("events")
    try:
        got = sorted(
            (r.user_id, r.session_id, r.session_start, r.session_end,
             r.n_events, r.session_value)
            for r in QUERIES["events_sessionize"](spark, SF_SMALL).collect()
        )
    finally:
        register_views(spark, SF_SMALL, force=True)
    _, oracle = _duck_on(
        tmp_path, {"events": path}, ORACLES["events_sessionize"]
    )
    # column order differs between Spark select and oracle SELECT; map by name
    want = sorted(
        (u, s, st, en, n, v) for (u, s, st, en, n, v) in oracle
    )
    assert [(g[0], g[4]) for g in got] == [(w[0], w[4]) for w in want]
    assert got == want
    # ground truth: u1 = one 3-event session; u2 = 1-event + 2-event
    per_user = {}
    for u, _s, _st, _en, n, _v in got:
        per_user.setdefault(u, []).append(n)
    assert sorted(per_user[1]) == [3]
    assert sorted(per_user[2]) == [1, 2]
