from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shelf_spark.queries import sampling  # noqa: E402
from shelf_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"

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
