"""Unit tests of the benchmark's own parts (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402
from spans import Tracer  # noqa: E402


def _job(job_id, label, stages, t=1000):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Submission Time": t,
        "Stage Infos": [{"Stage ID": s} for s in stages],
        "Properties": {eventlog.SPAN_KEY: label},
    }


def _submit(stage, attempt, label):
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage, "Stage Attempt ID": attempt},
        "Properties": {eventlog.SPAN_KEY: label},
    }


def _task(stage, attempt, cpu_s, t=1000):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": attempt,
        "Task Info": {"Launch Time": t},
        "Task Metrics": {"Executor CPU Time": int(cpu_s * 1e9), "Executor Run Time": 1000},
    }


def _lines(events):
    return [json.dumps(e, separators=(",", ":")) + "\n" for e in events]


def test_shared_stage_is_credited_to_the_job_that_ran_it():
    """Stage 1 is listed by the warm job first but only runs under the
    measured job; stage 2 runs under the warm job and is run again (a new
    attempt) under the measured job. First-registrant attribution would
    give the warm job all of stage 1 and both attempts of stage 2."""
    log = eventlog.parse_lines(
        _lines(
            [
                _job(0, "warm", [0, 1, 2]),
                _submit(0, 0, "warm"),
                _task(0, 0, 1.0),
                _submit(2, 0, "warm"),
                _task(2, 0, 2.0),
                _job(1, "measured", [1, 2, 3]),
                _submit(1, 0, "measured"),
                _task(1, 0, 4.0),
                _task(1, 0, 4.0),
                _submit(2, 1, "measured"),
                _task(2, 1, 8.0),
                _task(2, 0, 16.0),  # a straggler of the warm attempt
            ]
        )
    )
    work = log.by_label()
    assert work["warm"]["jobs"] == 1 and work["measured"]["jobs"] == 1
    assert work["warm"]["tasks"] == 3 and work["warm"]["cpu_s"] == 19.0
    assert work["measured"]["tasks"] == 3 and work["measured"]["cpu_s"] == 16.0


def test_window_attribution_and_unparsed_lines():
    log = eventlog.parse_lines(
        _lines([_job(0, None, [0], t=5000), _submit(0, 0, None), _task(0, 0, 1.5, t=5500)])
        + ['{"Event":"SparkListenerSQLExecutionStart","physicalPlanDescription":"..."}\n', '{"Event":"SparkListenerTaskEnd"']
    )
    assert log.in_window(5.0, 6.0)["cpu_s"] == 1.5
    assert log.in_window(5.0, 6.0)["jobs"] == 1
    assert log.in_window(6.0, 7.0)["tasks"] == 0


def test_tracer_wraps_and_restores_functions_and_classmethods():
    mod = types.ModuleType("m")
    mod.f = lambda x: x + 1

    class C:
        @classmethod
        def make(cls, x):
            return (cls, x)

    mod.C = C
    raw_f, raw_make = mod.f, vars(C)["make"]
    tr = Tracer("r")
    tr.wrap(mod, "f", "m.f", attrs_of=lambda x: {"x": x})
    tr.wrap(C, "make", "m.make")
    with tr.span("outer") as outer:
        assert mod.f(1) == 2
        assert C.make(3) == (C, 3)
    assert [s.name for s in tr.within(outer, "m.f")] == ["m.f"]
    assert tr.named("m.f")[0].attrs == {"x": 1}
    assert tr.named("m.make")[0].parent == outer.id
    tr.restore()
    assert mod.f is raw_f and vars(C)["make"] is raw_make


def test_benchmark_json_lists_every_metric_the_run_prints():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(layers.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(layers.PER_LAYER)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert all(units[n] == layers.unit(n) for n in units)
