"""The day-domain base relations of shelf_spark/queries/stats.py and the
week-domain retention relation of analytics.py: each Spark builder equals
its DuckDB twin row for row on a small hostile corpus."""

from __future__ import annotations

from datetime import date, datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from shelf_spark.queries import analytics, stats
from shelf_spark.queries.num import sane_ts, sql_sane_ts
from shelf_spark.session import tune

SENTINEL = datetime(9999, 12, 31, 23, 59, 59)
NEG_HALF_CENT_DAY = datetime(2024, 1, 11, 9, 0)


def _events():
    rows = [
        (datetime(2024, 1, 1, 8), "view", 1.0),
        (datetime(2024, 1, 1, 9), "view", 2.0),
        (datetime(2024, 1, 1, 10), "purchase", 12.34),
        (datetime(2024, 1, 1, 11), "purchase", 0.005),
        (datetime(2024, 1, 1, 12), "purchase", -0.125),
        # views but no purchases
        (datetime(2024, 1, 2, 8), "view", 1.0),
        (datetime(2024, 1, 2, 9), "click", 3.0),
        # a purchase day whose values are all NULL
        (datetime(2024, 1, 3, 8), "purchase", None),
        (datetime(2024, 1, 3, 9), "purchase", None),
        (datetime(2024, 1, 3, 10), "view", 1.0),
        (datetime(2024, 1, 4, 23, 59, 59), "purchase", 5.0),
        (datetime(2024, 1, 4, 0, 0), "purchase", 7.25),
        (datetime(2024, 1, 6, 12), "purchase", 1.5),
        (datetime(2024, 1, 6, 13), "purchase", None),
        (SENTINEL, "purchase", 3.0),
        (SENTINEL, "view", 1.0),
    ]
    return pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([i % 3 for i in range(len(rows))], pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _orders():
    rows = [(datetime(2024, 1, d), 100.0 + 7.3 * d) for d in range(1, 11)]
    rows += [
        (datetime(2024, 1, 3), 0.5),
        (datetime(2024, 1, 8), 19.999),
        (NEG_HALF_CENT_DAY, -0.125),
    ]
    return pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([1] * len(rows), pa.int64()),
            "o_orderstatus": pa.array(["O"] * len(rows), pa.string()),
            "o_totalprice": pa.array([r[1] for r in rows], pa.float64()),
            "o_orderdate": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * len(rows), pa.string()),
        }
    )


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    """A Spark session with its own ``events``/``orders`` views (temp
    views are per session, so the shared test session's views stay as
    they are) and a DuckDB connection over the same files."""
    d = tmp_path_factory.mktemp("day_relations")
    con = duckdb.connect()
    session = tune(spark.newSession())
    for name, table in (("events", _events()), ("orders", _orders())):
        path = str(d / f"{name}.parquet")
        pq.write_table(table, path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        session.read.parquet(path).createOrReplaceTempView(name)
    return session, con


def _rows(cols, rows):
    return sorted(
        (tuple(sorted(zip(cols, r))) for r in rows),
        key=lambda r: [(k, repr(v)) for k, v in r],
    )


def _spark_rows(df):
    return _rows(df.columns, [tuple(r) for r in df.collect()])


def _duck_rows(con, sql):
    res = con.execute(sql)
    return _rows([c[0] for c in res.description], res.fetchall())


def _by_day(rows, col):
    return {dict(r)["day"]: dict(r)[col] for r in rows}


@pytest.mark.parametrize(
    "where,sql_where",
    [
        (None, None),
        (lambda: F.col("value").isNotNull(), "value IS NOT NULL"),
        (lambda: sane_ts(F.col("ts")), sql_sane_ts("ts")),
    ],
    ids=["all", "complete-case", "sane-ts"],
)
def test_daily_purchase_cents_twins(engines, where, sql_where):
    session, con = engines
    got = _spark_rows(
        stats._daily_purchase_cents(session, where() if where else None)
    )
    assert got == _duck_rows(con, stats._sql_daily_purchase_cents(sql_where))
    cents = _by_day(got, "cents")
    assert date(2024, 1, 2) not in cents  # views only
    assert cents[date(2024, 1, 1)] == 1234 + 1 - 12
    assert cents[date(2024, 1, 4)] == 500 + 725
    if sql_where == "value IS NOT NULL":
        assert date(2024, 1, 3) not in cents
    else:
        assert cents[date(2024, 1, 3)] is None
    assert (date(9999, 12, 31) in cents) is (sql_where != sql_sane_ts("ts"))


def test_purchase_series_twins(engines):
    session, con = engines
    (row,) = stats._purchase_series(session).collect()
    got = [(i + 1, p["day"], p["y"]) for i, p in enumerate(row["s"])]
    want = con.execute(
        f"SELECT i, day, y FROM ({stats._sql_purchase_series()}) ORDER BY i"
    ).fetchall()
    assert got == want
    assert [d for _, d, _ in got] == [
        date(2024, 1, 1), date(2024, 1, 3), date(2024, 1, 4), date(2024, 1, 6)
    ]
    assert got[1][2] is None


def test_daily_order_cents_twins(engines):
    session, con = engines
    got = _spark_rows(stats._daily_order_cents(session))
    assert got == _duck_rows(con, stats._sql_daily_order_cents())
    assert _by_day(got, "cents")[NEG_HALF_CENT_DAY] == -12


def test_order_lag_moments_twins(engines):
    session, con = engines
    lags = (1, 2, 7)
    glob, lagged = stats._order_lag_moments(stats._daily_order_cents(session), lags)
    ctes = stats._sql_order_lag_moments(lags)
    assert _spark_rows(glob) == _duck_rows(con, f"WITH {ctes} SELECT * FROM gmom")
    got = _spark_rows(lagged)
    assert got == _duck_rows(con, f"WITH {ctes} SELECT * FROM lagged")
    assert sorted(dict(r)["lag"] for r in got) == list(lags)


def test_seasonal_components_twins(engines):
    session, con = engines
    got = _spark_rows(stats._seasonal_components(session))
    assert got == _duck_rows(con, stats._sql_seasonal_components())
    assert len(got) == 11
    # round(x·100) is D's carrier, floor(x·100 + 0.5) is C's: they part
    # on negative half cents, so the two relations must stay separate
    assert _by_day(got, "rev_c")[NEG_HALF_CENT_DAY.date()] == -13


def test_daily_views_purchases_twins(engines):
    session, con = engines
    got = _spark_rows(stats._daily_views_purchases(session))
    assert got == _duck_rows(con, stats._sql_daily_views_purchases())
    x, yi = _by_day(got, "x"), _by_day(got, "yi")
    assert (x[date(2024, 1, 2)], yi[date(2024, 1, 2)]) == (1, 0)
    assert (x[date(2024, 1, 3)], yi[date(2024, 1, 3)]) == (1, 0)
    assert yi[date(2024, 1, 6)] == 150
    assert (x[date(9999, 12, 31)], yi[date(9999, 12, 31)]) == (1, 300)


def test_retention_twins(engines):
    session, con = engines
    got = _spark_rows(analytics._retention(session))
    assert got == _duck_rows(con, analytics._SQL_RETENTION)
    rows = [dict(r) for r in got]
    # every user is active in their cohort week; the 9999 sentinel is
    # hundreds of thousands of weeks later
    assert {r["user_id"] for r in rows if r["weeks_later"] == 0} == {0, 1, 2}
    assert max(r["weeks_later"] for r in rows) > 400_000
