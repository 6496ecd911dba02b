"""Per-query event-log metrics probe: deterministic evidence for
optimization decisions (VERDICT r14 ask #4).

Wall-clock on this box drifts 40-50% between sessions (the r14 driver
bench vs the r13 record), so plan-level decisions are made on
event-log task metrics instead: task count, executor CPU, input bytes
and shuffle bytes are properties of the executed plan, not of ambient
load. This tool runs each named query N times (after a warm pass)
against a session with event logging enabled, labels every run via
``setJobDescription`` and aggregates the Spark event log per label.

Usage:
    python tools/metrics_probe.py QUERY [QUERY ...] [--runs 2]
        [--sf DIR] [--json OUT]

Output: one human table per query (per-run rows + min/max spread) and a
final single-line JSON payload for machine capture.

What "duplicate concurrent evaluation" of a lazily checkpointed
relation looks like here: task count and executor CPU far above the
single-evaluation expectation, typically with input bytes scaled by the
number of racing consumers — compare against a variant whose first
materializing job reads the pin on one branch only.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from shelf_spark.queries import QUERIES  # noqa: E402
from shelf_spark.session import get_spark  # noqa: E402


def _spark_with_eventlog(event_dir: str):
    """get_spark() with event logging. The event-log confs are static, so
    they go to the JVM through PYSPARK_SUBMIT_ARGS before it starts.
    Spark 4 defaults to rolling zstd event logs; a single plain
    JSON-lines file keeps the parser dependency-free."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [*(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()), "pyspark-shell"]
    )
    return get_spark("shelf-spark-metrics-probe")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _load_eventlog():
    """The benchmark's event-log parser (perfbench/eventlog.py), loaded by
    path: it credits each task through its stage submission, so a stage
    shared by the warm job and a probe job is charged to the job that
    ran it."""
    import importlib.util

    path = os.path.join(_REPO, "perfbench", "eventlog.py")
    spec = importlib.util.spec_from_file_location("perfbench_eventlog", path)
    mod = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None, help="also write payload to this path")
    args = ap.parse_args()

    for name in args.queries:
        if name not in QUERIES:
            sys.exit(f"unknown query: {name}")

    event_dir = tempfile.mkdtemp(prefix="shelf-metrics-")
    spark = _spark_with_eventlog(event_dir)
    sc = spark.sparkContext
    walls: dict[str, list[float]] = {}
    for name in args.queries:
        sc.setJobDescription(f"warm:{name}")
        _noop(QUERIES[name](spark, args.sf))
        walls[name] = []
        for r in range(args.runs):
            sc.setJobDescription(f"probe:{name}:{r}")
            t0 = time.perf_counter()
            _noop(QUERIES[name](spark, args.sf))
            walls[name].append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
    spark.stop()

    eventlog = _load_eventlog()
    cols = eventlog.WORK_FIELDS
    per_label = eventlog.parse_dir(event_dir, "spark.job.description").by_label()
    payload: dict[str, dict] = {}
    for name in args.queries:
        runs = [
            per_label.get(f"probe:{name}:{r}", dict.fromkeys(cols, 0.0))
            for r in range(args.runs)
        ]
        print(f"\n== {name} (sf={args.sf}, {args.runs} measured runs) ==")
        hdr = ("run",) + cols + ("wall_sec",)
        print(" ".join(f"{h:>12s}" for h in hdr))
        for r, m in enumerate(runs):
            row = [str(r)] + [f"{m[c]:.2f}" for c in cols] + [f"{walls[name][r]:.3f}"]
            print(" ".join(f"{v:>12s}" for v in row))
        payload[name] = {
            "runs": runs,
            "wall_sec": walls[name],
            "min": {c: round(min(m[c] for m in runs), 3) for c in cols},
            "max": {c: round(max(m[c] for m in runs), 3) for c in cols},
        }

    line = json.dumps({"sf": args.sf, "metrics": payload})
    print(line)
    if args.json:
        with open(args.json, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
