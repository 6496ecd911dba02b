"""Tracing overhead and span coverage for one workload and seed.

    python3 perfbench/overhead.py --workload query_iterative --seed 1 --seconds 10

Runs the benchmark untraced, then traced, and prints for each end-to-end
metric the traced value minus the untraced one (the tracing overhead),
then how much of each phase the traced spans account for:
``queries.body_s + queries.action_s`` against the traced pass on
query_iterative, and the framework spans inside the cold build and the
refreshes on lake_refresh.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _record(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    summary = json.loads(out[-2])
    return json.loads((ROOT / summary["record"]).read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()

    plain = _record(args.workload, args.seed, args.seconds, 0)
    traced = _record(args.workload, args.seed, args.seconds, 1)
    print(f"{'metric':14s} {'untraced':>10s} {'traced':>10s} {'overhead':>10s}")
    for name, value in plain["end_to_end"].items():
        t = traced["end_to_end"][name]
        print(f"{name:14s} {value:10.4f} {t:10.4f} {t - value:+10.4f}")

    layer = traced["per_layer"]
    if args.workload == "query_iterative":
        parts = layer["queries.body_s"] + layer["queries.action_s"]
        print(f"\nbody_s + action_s = {parts:.4f} s of a traced pass of "
              f"{layer['queries.pass_s']:.4f} s ({parts / layer['queries.pass_s']:.1%}); "
              f"untraced pass {plain['end_to_end']['warm_s']:.4f} s")
    spans = [json.loads(line) for line in open(ROOT / Path(traced["record"]).parent / "spans.jsonl")]
    print("\nshare of each phase span covered by its child spans:")
    for phase in ("lake.cold_build", "lake.refresh", "lake.db_query", "queries.pass"):
        for sp in (s for s in spans if s["name"] == phase):
            kids = [k for k in spans if k["parent"] == sp["id"]]
            if not kids:  # the phase's one operation span: look one level down
                kids = [g for k in spans if k["parent"] == sp["id"] for g in spans if g["parent"] == k["id"]]
            covered = sum(k["end"] - k["start"] for k in kids)
            print(f"  {phase:16s} {sp['end'] - sp['start']:8.4f} s  covered {covered / (sp['end'] - sp['start']):.1%} "
                  f"by {sorted({k['name'] for k in kids})}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
