"""The one-task numpy kernels of graph_bfs_distances, graph_hits and
graph_kcore (queries/graph.py), on pandas frames, and the job count of
the operators under the one-task bound. The operators' results on both
sides of the bound are checked against plain-Python references in
test_r8e_ops.py (BFS, HITS) and test_queries.py (k-core).
"""

from __future__ import annotations

import pandas as pd
import pytest

from conftest import SF_SMALL

from shelf_spark.data import register_views
from shelf_spark.queries import QUERIES
from shelf_spark.queries.graph import _bfs_levels, _hits_top, _kcore_degrees


def _run(kernel, a: str, b: str, pairs: list[tuple[int, int]], dtype: str) -> pd.DataFrame:
    """``kernel`` over ``pairs`` split into two batches, as one frame."""
    e = pd.DataFrame(pairs, columns=[a, b], dtype=dtype)
    out = list(kernel(iter([e.iloc[: len(e) // 2], e.iloc[len(e) // 2 :]])))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def _undirected(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    return pairs + [(b, a) for a, b in pairs]


def test_kernels_on_empty_edge_set():
    # BFS from the min over no rows: one level-0 row with NULL ends, as
    # the distributed path and the DuckDB oracle give
    for batches in ([], [pd.DataFrame({"p1": [], "p2": []}, dtype="int64")]):
        (bfs,) = _bfs_levels(iter(batches))
        assert [tuple(r) for r in bfs.itertuples(index=False)] == [(0, 1, None, None)]
    assert _run(_hits_top, "src", "dst", [], "int64").empty
    assert _run(_kcore_degrees, "src", "dst", [], "int64").empty


@pytest.mark.parametrize("dtype", ["int32", "int64"])
def test_kernels_keep_id_values_and_type(dtype):
    big = 1 << 40 if dtype == "int64" else 1 << 30
    pairs = [(big + 1, big + 3), (big + 3, big + 7), (big + 7, big + 1), (big + 7, big + 9)]
    bfs = _run(_bfs_levels, "p1", "p2", pairs, dtype)
    assert [tuple(r) for r in bfs.itertuples(index=False)] == [
        (0, 1, big + 1, big + 1),
        (1, 2, big + 3, big + 7),
        (2, 1, big + 9, big + 9),
    ]
    hits = _run(_hits_top, "src", "dst", pairs, dtype)
    assert hits["node"].dtype == dtype
    assert sorted(hits["node"]) == [big + k for k in (1, 3, 7, 9)]
    core = _run(_kcore_degrees, "src", "dst", _undirected(pairs), dtype)
    assert core["item"].dtype == dtype
    assert dict(zip(core["item"], core["core_degree"])) == {big + 1: 2, big + 3: 2, big + 7: 2}


def test_kcore_stops_after_its_rounds():
    # A 12-node path peels two end nodes per round and converges to the
    # empty 2-core only after 6 rounds; the 4 fixed rounds must leave
    # the 4-round state, the path 4-5-6-7.
    path = [(i, i + 1) for i in range(11)]
    core = _run(_kcore_degrees, "src", "dst", _undirected(path), "int64")
    assert dict(zip(core["item"], core["core_degree"])) == {4: 1, 5: 2, 6: 2, 7: 1}


def test_hits_breaks_ties_by_node():
    # Two hubs (9, 2) each point at two authorities (8, 3): the
    # authorities tie on authority and hub, and so do the hubs; ties go
    # to the smaller node, whatever the input order.
    edges = [(9, 8), (2, 8), (9, 3), (2, 3)]
    hits = _run(_hits_top, "src", "dst", edges, "int64")
    assert [tuple(r) for r in hits.itertuples(index=False)] == [
        (3, 0.5, 0.0),
        (8, 0.5, 0.0),
        (2, 0.0, 0.5),
        (9, 0.0, 0.5),
    ]


def test_hits_keeps_top_rows_only():
    edges = [(i, j) for i in range(30) for j in range(i + 1, min(i + 4, 30))]
    hits = _run(_hits_top, "src", "dst", edges, "int64")
    assert len(hits) == 20
    keys = list(zip(-hits["authority"], -hits["hub"], hits["node"]))
    assert keys == sorted(keys)


@pytest.mark.parametrize("name", ["graph_bfs_distances", "graph_hits", "graph_kcore"])
def test_under_bound_operator_is_at_most_five_jobs(spark, name):
    """Under the bound an operator call plus a ``noop`` write of its
    result submit at most 5 jobs on sf0.001: the shuffle stages of the
    edge relation, the one count job that also materialises its pin,
    and the one-task kernel. The distributed rounds submit 17-23."""
    register_views(spark, SF_SMALL)
    sc = spark.sparkContext
    group = f"one-task-{name}"
    sc.setJobGroup(group, f"{name} under the bound")
    try:
        QUERIES[name](spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 5, jobs
