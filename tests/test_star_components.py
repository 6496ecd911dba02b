"""Property tests for connected components (queries/sampling.py::
star_components) against a pure-Python union-find reference — the
oracle gate checks one dataset; these check the algorithm on random and
adversarial graph shapes.

Every property case runs three ways, with the one-task bound
monkeypatched: ``contract`` (bound 0: star contraction to the fixpoint,
then the distributed star projection), ``contract-then-finish`` (bound
= the star forest's edge count: contraction until the residual reaches
it, then the one-task finish) and ``finish`` (the default bound: the
one-task finish at once).
"""

from __future__ import annotations

import random

import pytest

from conftest import runs_in_one_task

from shelf_spark.queries import sampling
from shelf_spark.queries.sampling import star_components

MODES = ("contract", "contract-then-finish", "finish")


def _union_find_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node → min id of its component, for nodes appearing in pairs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.fixture
def rounds(monkeypatch) -> list[int]:
    """Records one entry per distributed contraction round."""
    seen: list[int] = []
    real = sampling._star_round

    def counted(edges):
        seen.append(1)
        return real(edges)

    monkeypatch.setattr(sampling, "_star_round", counted)
    return seen


def _check(spark, monkeypatch, rounds, pairs, expected=None):
    """Run star_components on ``pairs`` in every mode; compare with the
    union-find labels (or ``expected``) and check the path taken."""
    edges = [p for p in pairs if p[0] != p[1]]
    ref = _union_find_components(edges)
    forest = len(ref) - len(set(ref.values()))  # edges of the fixpoint
    bounds = {"contract": 0, "contract-then-finish": forest, "finish": sampling._ONE_TASK_EDGES}
    df = spark.createDataFrame(pairs, "a long, b long")
    for mode in MODES:
        monkeypatch.setattr(sampling, "_ONE_TASK_EDGES", bounds[mode])
        rounds.clear()
        out = star_components(df, "a", "b")
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == (ref if expected is None else expected), mode
        assert runs_in_one_task(out) == (mode != "contract"), mode
        contracted = mode == "contract" or (mode != "finish" and len(edges) > forest)
        assert bool(rounds) == contracted, mode


def test_star_components_random_graphs(spark, monkeypatch, rounds):
    for seed, n, p in ((1, 30, 0.06), (2, 40, 0.03), (3, 25, 0.15)):
        rng = random.Random(seed)
        pairs = [
            (i, j)
            for i in range(n)
            for j in range(i + 1, n)
            if rng.random() < p
        ]
        if pairs:
            _check(spark, monkeypatch, rounds, pairs)


def test_star_components_deep_chain(spark, monkeypatch, rounds):
    # A 48-node path is the adversarial case for min-label propagation
    # (diameter rounds); every path must label every node with the
    # chain head.
    pairs = [(i, i + 1) for i in range(47)]
    _check(spark, monkeypatch, rounds, pairs, expected={i: 0 for i in range(48)})


def test_star_components_orientation_and_self_pairs(spark, monkeypatch, rounds):
    # Pair orientation must not matter, and self-pairs carry no
    # connectivity (a node connected only to itself is its own island —
    # excluded from the edge-derived node set, like the callers' strict
    # a<b pair generators imply).
    pairs = [(5, 2), (2, 9), (7, 7), (11, 10)]
    expected = {2: 2, 5: 2, 9: 2, 10: 10, 11: 10}
    _check(spark, monkeypatch, rounds, pairs, expected=expected)


@pytest.mark.parametrize("mode", ["contract", "finish"])
@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_star_components_keeps_id_type(spark, monkeypatch, mode, id_type):
    if mode == "contract":
        monkeypatch.setattr(sampling, "_ONE_TASK_EDGES", 0)
    pairs = spark.createDataFrame([(3, 1), (1, 2), (8, 9)], f"a {id_type}, b {id_type}")
    out = star_components(pairs, "a", "b")
    assert out.schema.simpleString() == f"struct<node:{id_type},component:{id_type}>"
    assert sorted(tuple(r) for r in out.collect()) == [(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)]


def test_star_components_empty_pairs(spark):
    out = star_components(spark.createDataFrame([], "a int, b int"), "a", "b")
    assert out.schema.simpleString() == "struct<node:int,component:int>"
    assert out.collect() == []


def test_star_components_under_bound_is_one_job(spark):
    """An input at or under the bound costs one job inside
    star_components (the fingerprint that also materialises the pin);
    the labelling itself runs in the caller's action."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame([(i, i + 1) for i in range(47)], "a long, b long")
    sc.setJobGroup("star-components-one-job", "star_components under the bound")
    try:
        star_components(pairs, "a", "b")
        jobs = sc.statusTracker().getJobIdsForGroup("star-components-one-job")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1, jobs


def test_star_components_round_cap_raises(spark, monkeypatch):
    """With the residual above the bound and still changing after the
    last allowed round, star_components raises instead of returning
    unconverged labels (a 48-node chain after one round would give 93
    rows, 45 nodes with two labels); an input that is already a star
    forest converges within the same cap."""
    monkeypatch.setattr(sampling, "_ONE_TASK_EDGES", 0)
    monkeypatch.setattr(sampling, "_MAX_ROUNDS", 1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(47)], "a long, b long")
    with pytest.raises(RuntimeError, match="still changing after 1 rounds"):
        star_components(chain, "a", "b")
    stars = spark.createDataFrame([(5, 2), (9, 2), (11, 10)], "a long, b long")
    got = {r["node"]: r["component"] for r in star_components(stars, "a", "b").collect()}
    assert got == {2: 2, 5: 2, 9: 2, 10: 10, 11: 10}
