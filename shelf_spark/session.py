"""SparkSession construction and per-session tuning.

The driver hands ``entry``/``queries`` an existing session, so anything we
rely on for correctness must be a *runtime-settable* conf applied in
:func:`tune`; :func:`get_spark` is for our own CLI / bench / tests.

Scale notes (the engine targets a multi-executor cluster even though tests
run on ``local[N]``):

- AQE on: runtime join-strategy switches, skew-join splitting and partition
  coalescing are the main levers that keep plans healthy at 100 TB.
- ``spark.sql.shuffle.partitions`` is only the *pre-AQE* upper bound; AQE
  coalesces. On a real cluster set it ~2-3x total cores.
- UTC session timezone pins timestamp semantics to the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to any session we are handed.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Single-file-per-table testdata at sf<=0.1 doesn't need 200 reducers;
    # AQE coalesces anyway, this just caps pre-AQE task count locally.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
}


def _conf_overrides() -> dict[str, str]:
    """Parse ``SHELF_SPARK_CONF_OVERRIDES`` (``k=v;k=v``) for the
    plan-invariance gate: tools/check_correctness.py --override sets it so
    every session — including worker subprocesses and every per-query
    re-:func:`tune` via ``register_views`` — runs under the perturbed
    physical config (AQE off, hostile partition counts, broadcast
    disabled, Arrow off). Results must not depend on the physical plan;
    this is how we prove it."""
    raw = os.environ.get("SHELF_SPARK_CONF_OVERRIDES", "")
    out: dict[str, str] = {}
    for item in raw.split(";"):
        if "=" in item:
            k, v = item.split("=", 1)
            out[k.strip()] = v.strip()
    return out


#: One-shot flag so the override warning prints once per process, not
#: once per per-query re-tune.
_WARNED_OVERRIDES = False


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    overrides = _conf_overrides()
    if overrides:
        # Always-visible breadcrumb (r10 ADVICE): a stale
        # SHELF_SPARK_CONF_OVERRIDES left in the shell from a
        # plan-invariance sweep would otherwise perturb every subsequent
        # "default" bench/gate run invisibly.
        global _WARNED_OVERRIDES
        if not _WARNED_OVERRIDES:
            _WARNED_OVERRIDES = True
            import sys

            print(
                "shelf_spark: SHELF_SPARK_CONF_OVERRIDES active: "
                + "; ".join(f"{k}={v}" for k, v in sorted(overrides.items())),
                file=sys.stderr,
            )
    confs = {**RUNTIME_CONFS, **overrides}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked down on some build — never fatal
            pass
    return spark


def get_spark(app_name: str = "shelf-spark") -> SparkSession:
    """Build a local session (CLI / bench / tests)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-terminated fragments to stdout that
        # glue onto the NEXT print() — the r7 driver bench artifact was
        # unparseable because the final JSON line inherited a progress-bar
        # prefix. Static conf, so it must be set here, not in tune().
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/shelf-spark-warehouse"))
        # Driver-side listing: above 32 partition dirs Spark lists them in a
        # job (0.4-0.5 s for 120 dirs) whose tasks run in this JVM anyway.
        # Builder only, so a session handed in keeps distributed listing.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
