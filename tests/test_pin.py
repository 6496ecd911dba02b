"""The query layer's one lineage-cut primitive (shelf_spark/queries/pin.py)."""

from __future__ import annotations

import pathlib
import uuid

import pytest

from shelf_spark.queries.pin import pin

PKG = pathlib.Path(__file__).resolve().parent.parent / "shelf_spark"


def test_local_checkpoint_only_in_pin_module():
    offenders = [
        str(f.relative_to(PKG))
        for f in sorted(PKG.rglob("*.py"))
        if f.name != "pin.py" and ".localCheckpoint(" in f.read_text()
    ]
    assert offenders == []


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = f"pin-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fanout_runs_at_call_reuse_does_not(spark):
    df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    want = sorted(df.collect())

    eager, jobs = _jobs_during(spark, lambda: pin(df, "fanout"))
    assert jobs >= 1
    lazy, jobs = _jobs_during(spark, lambda: pin(df, "reuse"))
    assert jobs == 0

    assert sorted(eager.collect()) == want
    assert sorted(lazy.collect()) == want


@pytest.mark.parametrize("why", ["sort", "loop", "eager", "", None])
def test_unknown_reason_raises(spark, why):
    with pytest.raises(ValueError):
        pin(spark.range(3), why)
