from __future__ import annotations

import ast
import os
import pathlib
import re
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shelf_spark.queries import sampling  # noqa: E402
from shelf_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"

QUERIES_DIR = (
    pathlib.Path(__file__).resolve().parent.parent / "shelf_spark" / "queries"
)

#: ``(sampling._ONE_TASK_EDGES, one-task path expected)``: the
#: distributed rounds at bound 0, the one-task kernel at the default.
BOUNDS = ((0, False), (sampling._ONE_TASK_EDGES, True))


def runs_in_one_task(df) -> bool:
    """Whether ``df``'s plan finishes in a one-task ``mapInPandas`` kernel."""
    return "MapInPandas" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("shelf-spark-tests")
    yield s


def jobs_submitted(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` submits, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"  # the tracker keeps old groups
    sc.setJobGroup(group, "jobs submitted by one call")
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def owners(pattern: str) -> set[tuple[str, str]]:
    """(module, top-level name) of every match of ``pattern`` in the query
    layer; a decorator (where an oracle lives) belongs to its function."""
    rx = re.compile(pattern)
    found = set()
    for f in sorted(QUERIES_DIR.glob("*.py")):
        src = f.read_text()
        spans = []
        for node in ast.parse(src).body:
            start = min(
                [node.lineno]
                + [d.lineno for d in getattr(node, "decorator_list", [])]
            )
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                name = node.name
            elif isinstance(node, ast.Assign) and isinstance(
                node.targets[0], ast.Name
            ):
                name = node.targets[0].id
            else:
                name = "<module>"
            spans.append((start, node.end_lineno, name))
        for m in rx.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            name = next((n for a, b, n in spans if a <= line <= b), "<module>")
            found.add((f.name, name))
    return found
