"""State shared by one benchmark run: the session, the tracer, the
operation tally and the timing samples every workload reports into."""

from __future__ import annotations

import functools
import importlib.util
import os
import statistics
import sys
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from spans import Tracer


@dataclass
class Context:
    spark: Any
    tracer: Tracer
    seed: int
    seconds: float
    work: Path
    corpus_dir: Path
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: end-to-end samples by metric name (seconds unless stated)
    samples: dict[str, list[float]] = field(default_factory=dict)
    #: wall-clock window (epoch s) of each warm_s sample, for its CPU
    warm_windows: list[tuple[float, float]] = field(default_factory=list)
    #: workload-specific values (sizes, per-layer inputs)
    facts: dict[str, float] = field(default_factory=dict)

    def sample(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def operation(self, what: str, fn, *args, **kwargs):
        """Run one operation: counted as attempted, and as failed if it
        raises. Returns ``(ok, result)``; never retries."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - a failed operation is a measurement
            self.failed += 1
            self.errors.append(f"{what}: {type(exc).__name__}: {exc}".splitlines()[0][:300])
            traceback.print_exc(file=sys.stderr)
            return False, None

    def wrong(self, what: str, detail: str) -> None:
        """An attempted operation whose output failed its check."""
        self.failed += 1
        self.errors.append(f"{what}: wrong result: {detail}"[:300])


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float] | None:
    """Highest of p90/p99/p99.9 with at least ten samples beyond it, as
    ``(percentile, value)``; None when there are too few samples."""
    for p in (99.9, 99.0, 90.0):
        if len(values) * (100 - p) / 100 >= 10:
            cuts = statistics.quantiles(values, n=1000, method="inclusive")
            return p, cuts[round(p * 10) - 1]
    return None


@functools.cache
def _oracle_normaliser():
    """The oracle gate's own row normalisation (tools/check_correctness.py),
    so a benchmark pass and the gate agree on what a match is."""
    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "_check_correctness", root / "tools" / "check_correctness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when both results hold the same rows, else what differs."""
    if len(spark_rows) != len(duck_rows):
        return f"rowcount spark={len(spark_rows)} duckdb={len(duck_rows)}"
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns spark={sorted(spark_cols)} duckdb={sorted(duck_cols)}"
    normalise = _oracle_normaliser()
    a, b = normalise(spark_rows, spark_cols), normalise(duck_rows, duck_cols)
    if a != b:
        bad = sum(1 for x, y in zip(a, b) if x != y)
        return f"{bad} rows differ"
    return None


def dir_mb(path: Path) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6
