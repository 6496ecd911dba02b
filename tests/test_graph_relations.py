"""The co-purchase graph's base relations in shelf_spark/queries/graph.py:
each Spark builder equals its DuckDB twin row for row, on sf0.001 and on
a small hand-built lineitem."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from shelf_spark.queries import graph
from shelf_spark.session import tune

from conftest import SF_SMALL

THRESHOLDS = (graph._KCORE_MIN_SUPPORT, graph._MIN_COSUPPORT)

#: order key → its parts, one lineitem row per entry.
ORDERS = {
    1: [10],  # one part: no pairs
    2: [20, 20, 21],  # part 20 on two linenumbers
    3: [30, 31],  # (30, 31): support 1
    4: [40, 41],  # (40, 41): support 2
    5: [40, 41],
    6: [50, 51],  # (50, 51): support 3
    7: [50, 51],
    8: [51, 50],
    9: [60, 61],  # an isolated pair
    # K4 on 1-4 plus 1-5, 2-5 and 1-6: five triangles, tied degrees
    10: [1, 2, 3, 4],
    11: [5, 1],
    12: [1, 6],
    13: [2, 5],
}


def _hand_lineitem():
    rows = [(o, p, n) for o, parts in ORDERS.items() for n, p in enumerate(parts, 1)]
    return pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            "l_linenumber": pa.array([r[2] for r in rows], pa.int32()),
        }
    )


@pytest.fixture(scope="module", params=["hand", "sf0.001"])
def engines(request, spark, tmp_path_factory):
    """A Spark session with its own ``lineitem`` view (temp views are per
    session) and a DuckDB connection over the same file."""
    if request.param == "hand":
        path = str(tmp_path_factory.mktemp("graph_relations") / "lineitem.parquet")
        pq.write_table(_hand_lineitem(), path)
    else:
        path = f"{SF_SMALL}/lineitem.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    session = tune(spark.newSession())
    session.read.parquet(path).createOrReplaceTempView("lineitem")
    return request.param, session, con


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck_rows(con, select, *ctes):
    with_ = ", ".join([graph._SQL_GRAPH, *ctes])
    return sorted(con.execute(f"WITH {with_} {select}").fetchall())


def _supp(k):
    return f"supp AS ({graph._sql_support_edges(k)})"


def test_pairs_and_undirected_twins(engines):
    corpus, session, con = engines
    pairs = _spark_rows(graph._basket_pairs(session).select("l_orderkey", "p1", "p2"))
    assert pairs == _duck_rows(con, "SELECT l_orderkey, p1, p2 FROM pairs")
    und = _spark_rows(graph._und_edges(session))
    assert und == _duck_rows(con, "SELECT p1, p2 FROM und")
    assert all(p1 < p2 for p1, p2 in und)
    if corpus == "hand":
        assert not [p for p in pairs if p[0] == 1]
        assert [p[1:] for p in pairs if p[0] == 2] == [(20, 21)]
        assert (60, 61) in und


@pytest.mark.parametrize("k", THRESHOLDS)
def test_support_edges_twins(engines, k):
    corpus, session, con = engines
    got = _spark_rows(graph._support_edges(session, k))
    assert got == _duck_rows(con, "SELECT p1, p2 FROM supp", _supp(k))
    if corpus == "hand":
        support = {(30, 31): 1, (40, 41): 2, (50, 51): 3}
        assert {p for p in support if p in got} == {
            p for p, c in support.items() if c >= k
        }


@pytest.mark.parametrize("k", THRESHOLDS)
def test_directed_support_edges_twins_have_no_duplicates(engines, k):
    _, session, con = engines
    df = graph._directed_edges(graph._support_edges(session, k))
    got = _spark_rows(df)
    assert got == _duck_rows(
        con, "SELECT src, dst FROM d", _supp(k), f"d AS ({graph._sql_directed('supp')})"
    )
    # what lets graph_kcore pin these edges without a distinct
    assert len(got) == len(set(got))
    assert df.count() == df.distinct().count()


def test_directed_undirected_twins(engines):
    _, session, con = engines
    got = _spark_rows(graph._directed_edges(graph._und_edges(session)))
    assert got == _duck_rows(
        con, "SELECT src, dst FROM d", f"d AS ({graph._sql_directed('und')})"
    )
    assert len(got) == len(set(got))


@pytest.mark.parametrize("k", [None, *THRESHOLDS], ids=["und", *map(str, THRESHOLDS)])
def test_degrees_twins(engines, k):
    _, session, con = engines
    if k is None:
        edges, ctes = graph._und_edges(session), [f"deg AS ({graph._sql_degrees('und')})"]
    else:
        edges = graph._support_edges(session, k)
        ctes = [_supp(k), f"deg AS ({graph._sql_degrees('supp')})"]
    got = _spark_rows(graph._degrees(edges))
    assert got == _duck_rows(con, "SELECT node, d FROM deg", *ctes)


ORIENTED_CTES = (
    f"deg AS ({graph._sql_degrees('und')})",
    f"oriented AS ({graph._SQL_ORIENTED})",
    f"tri AS ({graph._SQL_TRI})",
)


def _adjacency(session):
    und = graph._und_edges(session)
    return graph._out_adjacency(und, graph._degrees(und))


def test_out_adjacency_twins(engines):
    corpus, session, con = engines
    got = _spark_rows(_adjacency(session).select("src", F.explode("nbrs").alias("dst")))
    assert got == _duck_rows(con, "SELECT src, dst FROM oriented", *ORIENTED_CTES)
    if corpus == "hand":
        # 3 and 4 both have degree 3 (the lower id is the source); 1 has
        # degree 5 and so points to no one
        assert (3, 4) in got
        assert not [e for e in got if e[0] == 1]


def test_closing_sets_twins(engines):
    corpus, session, con = engines
    got = _spark_rows(
        graph._closing_sets(_adjacency(session)).select(
            "u", "v", F.explode("ws").alias("w")
        )
    )
    assert got == _duck_rows(con, "SELECT a, b, c FROM tri", *ORIENTED_CTES)
    assert len(got) == len(set(got))
    if corpus == "hand":
        assert sorted(sorted(t) for t in got) == [
            [1, 2, 3], [1, 2, 4], [1, 2, 5], [1, 3, 4], [2, 3, 4]
        ]
