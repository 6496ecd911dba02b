"""The session relation S of shelf_spark/queries/events.py: the Spark
builder equals its DuckDB twin row for row on a small hostile events
table, each operator that reads S equals its oracle there, and the query
layer sessionizes nowhere else."""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from shelf_spark.queries import ORACLES, QUERIES, events
from shelf_spark.session import tune

from conftest import owners

T0 = dt.datetime(2024, 5, 1, 0, 0, 0)
_S = dt.timedelta(seconds=1)

#: (event_id, user_id, ts, value) — the cases the 30-minute rule can get
#: wrong.
ROWS = [
    # 1800.5 s from a whole second: a new session on both engines, where
    # a whole-second (unix_timestamp) gap would see exactly 1800 s
    (1, 7, T0, 1.25),
    (2, 7, T0 + 1800.5 * _S, 2.5),
    # a one-event user
    (3, 8, T0 + 60 * _S, 0.75),
    # exactly 30 minutes stays in the session; 30 minutes and 1 µs does not
    (4, 9, T0, 1.0),
    (5, 9, T0 + 1800 * _S, 2.0),
    (6, 9, T0 + 3600 * _S + dt.timedelta(microseconds=1), 3.0),
    # same-ts ties, ordered by event_id, on both sides of a gap
    (12, 10, T0 + 100 * _S, 10.0),
    (11, 10, T0 + 100 * _S, 20.0),
    (13, 10, T0 + 700 * _S, None),
    (15, 10, T0 + 3000 * _S, 5.5),
    (14, 10, T0 + 3000 * _S, 4.5),
    # a session across midnight is attributed to the day it starts
    (16, 11, T0 - 600 * _S, 0.01),
    (17, 11, T0 + 600 * _S, 0.02),
]


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    """A Spark session with its own ``events`` view (temp views are per
    session, so the shared test session's views stay as they are) and a
    DuckDB connection over the same file: ``ts`` is µs without a time
    zone, which Spark reads as TIMESTAMP_NTZ."""
    d = tmp_path_factory.mktemp("session_relation")
    path = str(d / "events.parquet")
    cols = list(zip(*ROWS))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                "ts": pa.array(cols[2], pa.timestamp("us")),
                "user_id": pa.array(cols[1], pa.int64()),
                "event_type": pa.array(["view"] * len(ROWS), pa.string()),
                "value": pa.array(cols[3], pa.float64()),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    session = tune(spark.newSession())
    session.read.parquet(path).createOrReplaceTempView("events")
    yield session, con, str(d)
    con.close()


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _both(df, con, sql):
    """(Spark rows, DuckDB rows), each sorted, after checking that the two
    results have the same columns in the same order."""
    res = con.execute(sql)
    assert df.columns == [c[0] for c in res.description]
    return _sorted(df.collect()), _sorted(res.fetchall())


def test_sessions_twins(engines):
    session, con, _ = engines
    assert session.table("events").schema["ts"].dataType.typeName() == "timestamp_ntz"
    got, want = _both(events._sessions(session), con, events._sql_sessions())
    assert got == want
    per_user = {}
    for user_id, session_id, _, _, n_events, _ in got:
        per_user.setdefault(user_id, []).append((session_id, n_events))
    assert per_user == {
        7: [(1, 1), (2, 1)],
        8: [(1, 1)],
        9: [(1, 2), (2, 1)],
        10: [(1, 3), (2, 2)],
        11: [(1, 2)],
    }


@pytest.mark.parametrize(
    "name",
    [
        "events_sessionize",
        "events_bounce_rate",
        "events_concurrent_sessions",
        "join_interval_overlap",
        "stream_session_windows",
    ],
)
def test_session_operators_match_oracles(engines, name):
    """Each operator that reads S, run unregistered (``__wrapped__``) on
    the hostile table, equals its DuckDB oracle."""
    session, con, sf_dir = engines
    got, want = _both(QUERIES[name].__wrapped__(session, sf_dir), con, ORACLES[name])
    assert got == want
    assert got


def test_interval_overlap_counts_subsecond_gap(engines):
    """User 7's 1800.5 s gap opens a second session at T0 + 1800.5 s,
    which overlaps nothing: user 9's first session ends at T0 + 1800 s.
    Counted in whole seconds, user 7 would have one session overlapping
    four others."""
    session, _, sf_dir = engines
    got = {
        (r.user_id, r.session_id): r.n_concurrent
        for r in QUERIES["join_interval_overlap"].__wrapped__(session, sf_dir).collect()
    }
    assert got == {
        (7, 1): 2, (7, 2): 0, (8, 1): 2, (9, 1): 4, (9, 2): 0,
        (10, 1): 2, (10, 2): 0, (11, 1): 4,
    }


@pytest.mark.parametrize(
    "pattern, owner",
    [
        (re.escape('F.lag("ts")'), ("events.py", "_sessions")),
        (
            re.escape("lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id"),
            ("events.py", "_sql_sessions"),
        ),
    ],
    ids=["spark", "duckdb"],
)
def test_session_gap_only_in_session_relation(pattern, owner):
    assert owners(pattern) == {owner}
