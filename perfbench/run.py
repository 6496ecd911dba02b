"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload lake_refresh --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, reading and writing only under it
(work files go to ``.perfbench_work/``). One process drives one Spark
session on ``local[<cpus>]``; operations run back to back (a single
closed-loop client). ``--trace 0`` prints the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` wraps the program's layer entry points in
spans, labels Spark jobs per span, and prints the per-layer metrics
instead. The last stdout line is the result; the line before it is a
summary with each timing's median, tail percentile and sample count.
See README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("lake_refresh", "query_iterative")

#: corpus scale per workload (1.0 = 6M lineitem rows)
SCALE = {"lake_refresh": 0.01, "query_iterative": 0.003}

#: input generations timed per run; set-up reports their median
SETUP_REPEATS = 3

#: The serial collector with a fixed young generation sizes the heap by
#: what stays live, not by how long collections took. With the default G1,
#: the JVM's peak RSS on lake_refresh ran 1.17-1.67 GB across seeds on a
#: loaded machine, against 0.87-0.90 GB with these options.
JVM_OPTIONS = ("-XX:+UseSerialGC", "-Xmn256m")


def _environment(work: Path) -> None:
    """Confine Spark, the framework and Python to the work directory, and
    put the repository on the Python workers' path."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    events = work / "eventlog"
    events.mkdir()
    for var in ("SHELF_SPARK_CONF_OVERRIDES", "S3_ACCESS_KEY", "S3_SECRET_KEY", "S3_BUCKET_NAME", "S3_ENDPOINT_URL"):
        os.environ.pop(var, None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "SHELF_CACHE_DIR": str(work / "shelf-cache"),
            "TMPDIR": str(tmp),
            "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.eventLog.enabled=true",
                    f"--conf {shlex.quote(f'spark.eventLog.dir=file://{events}')}",
                    "--conf spark.eventLog.compress=false",
                    "--conf spark.eventLog.rolling.enabled=false",
                    f"--driver-java-options {shlex.quote(' '.join([f'-Djava.io.tmpdir={tmp}', *JVM_OPTIONS]))}",
                    "pyspark-shell",
                ]
            ),
        }
    )
    sys.path.insert(0, str(ROOT))


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.parent.name))
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM and the
    Python workers it forked to exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    workers = [w for c in _children(proc.pid) for w in [c, *_children(c)]]
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{w}").exists() for w in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def _install_wraps(tr) -> None:
    """Spans around each layer's entry points, where callers look them up."""
    from pyspark.sql.readwriter import DataFrameReader
    from shelf_spark.framework import query, snapshots, steps, table_metadata, tables
    from shelf_spark.queries import registry

    def step_attrs(_spark, uri, _deps):
        return {"step": uri.dataset_path.rsplit("/", 1)[-1]}

    def hashed(sp, _result, path):
        sp.attrs["bytes"] = os.path.getsize(path)

    tr.wrap(steps, "prune_completed", "steps.prune_completed")
    tr.wrap(steps, "execute_dag", "steps.execute_dag")
    tr.wrap(steps, "build_table", "steps.build_table", attrs_of=step_attrs)
    tr.wrap(tables, "_exec_sql_step", "tables.exec_sql")
    tr.wrap(tables, "logical_checksum", "tables.logical_checksum")
    tr.wrap(tables, "_partition_fingerprints", "tables.partition_fingerprints")
    tr.wrap(table_metadata.TableMetadata, "validate_df", "table_metadata.validate_df")
    tr.wrap(table_metadata.TableMetadata, "write_sidecar", "table_metadata.write_sidecar")
    tr.wrap(snapshots.Snapshot, "create", "snapshots.create")
    tr.wrap(snapshots, "checksum_file", "snapshots.checksum_file", on_result=hashed)
    tr.wrap(query, "execute_query", "query.execute_query")
    tr.wrap(query, "register_shelf_views", "query.register_shelf_views")
    tr.wrap(registry, "register_views", "data.register_views")
    tr.wrap(DataFrameReader, "parquet", "spark.read_parquet")


def _count_log(path: Path) -> dict[str, int]:
    counts = {"block_exists": 0, "accumulator": 0}
    with open(path, errors="replace") as fh:
        for line in fh:
            if "Block rdd_" in line and "already exists" in line:
                counts["block_exists"] += 1
            elif "Failed to update accumulator" in line:
                counts["accumulator"] += 1
    return counts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run unwinds, so the session, the JVM and the workers stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "shelf_spark").is_dir():
        print(f"perfbench: no shelf_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = ROOT / ".perfbench_work" / f"{run_id}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _environment(work)

    # Spark and Python warnings go to a log the run counts lines in.
    log_path = work / "spark.log"
    log = open(log_path, "w")
    saved_stderr = os.dup(2)
    os.dup2(log.fileno(), 2)
    try:
        result = _run(args, run_id, work)
    except BaseException:
        import traceback

        traceback.print_exc()
        result = None
    finally:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        log.close()
    if result is None:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return 1
    summary, final = result
    _cleanup(work)
    print(json.dumps(summary))
    print(json.dumps(final))
    return 0


def _cleanup(work: Path) -> None:
    """Keep the record, spans and log; drop data, event log and scratch."""
    for child in work.iterdir():
        if child.is_dir():
            shutil.rmtree(child, ignore_errors=True)


def _run(args, run_id: str, work: Path):
    import gen
    from context import Context
    from spans import Tracer

    corpus_dir = work / "corpus"
    setup_times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        gen.write_corpus(gen.corpus(SCALE[args.workload]), str(corpus_dir))
        setup_times.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    from shelf_spark.session import get_spark

    spark = get_spark(f"perfbench-{run_id}")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext

    tracer = Tracer(run_id, sc if args.trace else None)
    ctx = Context(spark, tracer, args.seed, args.seconds, work, corpus_dir)
    try:
        if args.trace:
            _install_wraps(tracer)
        if args.workload == "lake_refresh":
            import lake as lake_mod

            lake = lake_mod.Lake(ctx)
            times = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                lake.prepare()
                times.append(time.perf_counter() - t0)
            setup_times = [a + b for a, b in zip(setup_times, times)]
            lake_mod.run(ctx, lake)
        else:
            import iterative

            iterative.run(ctx)
        ctx.facts["python_peak_rss_mb"] = _peak_rss_mb(os.getpid())
        ctx.facts["jvm_peak_rss_mb"] = _peak_rss_mb(sc._gateway.proc.pid)
        peak_rss = ctx.facts["python_peak_rss_mb"] + ctx.facts["jvm_peak_rss_mb"]
    finally:
        tracer.restore()
        os.chdir(ROOT)
        _stop(spark)

    import eventlog
    import layers

    sys.stderr.flush()
    log_counts = _count_log(work / "spark.log")
    events = eventlog.parse_dir(str(work / "eventlog"))
    setup_s = session_s + statistics.median(setup_times)
    e2e = layers.end_to_end(ctx, events, setup_s, peak_rss)
    record = {
        "run": run_id,
        "record": str((work / "record.json").relative_to(ROOT)),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "errors": ctx.errors[:20],
        "facts": ctx.facts,
        "timings": layers.timing_summary(ctx),
        "samples": ctx.samples,
        "log": log_counts,
        "end_to_end": e2e,
    }
    if args.trace:
        metrics = layers.per_layer(ctx, events, session_s, log_counts)
        record["per_layer"] = metrics
        with open(work / "spans.jsonl", "w") as fh:
            for rec in layers.span_records(ctx, events):
                fh.write(json.dumps(rec) + "\n")
    else:
        metrics = e2e
    with open(work / "record.json", "w") as fh:
        json.dump(record, fh, indent=1)
    summary = {k: record[k] for k in ("run", "record", "attempted", "failed", "errors", "timings", "facts", "log")}
    final = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": layers.unit(k)} for k, v in metrics.items()},
    }
    return summary, final


if __name__ == "__main__":
    sys.exit(main())
