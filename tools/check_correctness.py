"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same Parquet tables, then compares row count, column
names, and order-insensitive values (floats with tolerance). Lets us know
CORRECTNESS_r{N}.json before the driver does.

Usage:
    python tools/check_correctness.py [name-regex] [--sf DIR] [--workers N]

``--workers N`` shards the query list round-robin over N subprocesses,
each with its own SparkSession (local[32/N]) and DuckDB connection — the
queries are independent, so this is a sound wall-clock divider (unlike a
result cache, it never skips anything). The full no-filter sweep remains
the pre-driver ritual; ``--changed-since`` remains the iteration filter.
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
import time
from datetime import date, datetime

sys.path.insert(0, ".")

import duckdb  # noqa: E402

from shelf_spark.data import TABLES, table_path  # noqa: E402
from shelf_spark.queries import ORACLES, QUERIES  # noqa: E402
from shelf_spark.session import get_spark  # noqa: E402
from shelf_spark.tmpdirs import process_tmpdir  # noqa: E402

#: Queries that legitimately emit 0 rows on the tiniest corpus (sf0.001),
#: each mapped to the value-exact twin that proves the same machinery on
#: real rows. A VACUOUS result for a key passes only if its twin was
#: non-vacuous in the same sweep (r13 VERDICT ask #6).
VACUOUS_TWINS = {
    "join_anti": "join_anti_survivors",
    "dedup_semantic_clusters": "dedup_semantic_clusters_t40",
}


def _norm_cell(v):
    """Normalize a cell for order-insensitive comparison."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        # EXACT comparison (bitwise, modulo -0.0): the driver hashes values,
        # so queries must produce identical doubles on both engines.
        return ("f", v + 0.0 if v != 0 else 0.0)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", int(v))
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_cell(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    return ("s", str(v))


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


#: Worker-summary parser. The optional "(N unexplained-vacuous)" suffix
#: (r13 advice gate) must be tolerated: before r14 a shard that reported
#: any unexplained-vacuous rows was silently DROPPED from the merged
#: totals (the sf0.001 merge printed "254 ... of 257" for a 343-query
#: run), and a hostile-corpus run where every shard carried the suffix
#: merged to "0 ok of 0". The vacuous count is also surfaced in the
#: merged line now so the signal is not lost in the fan-out path.
_SUMMARY_RE = re.compile(
    r"^(\d+) ok, (\d+) rows-only, (\d+) FAIL of (\d+)"
    r"(?: \((\d+) unexplained-vacuous\))?$"
)


def _selected(pattern: str, changed_since: str | None) -> list[str]:
    """Registered names matching ``pattern``; with ``changed_since``, only
    those whose defining module changed since that git ref."""
    pat = re.compile(pattern)
    names = [n for n in QUERIES if pat.search(n)]
    if changed_since:
        import subprocess

        out = subprocess.run(
            ["git", "diff", "--name-only", changed_since, "--", "shelf_spark"],
            capture_output=True, text=True, check=True,
        ).stdout
        changed_mods = {
            p.removesuffix(".py").replace("/", ".")
            for p in out.split()
            if p.endswith(".py")
        }
        print(f"# modules changed since {changed_since}: "
              f"{sorted(m.rsplit('.', 1)[-1] for m in changed_mods)}")
        names = [n for n in names if QUERIES[n].__module__ in changed_mods]
    return names


def _shard(names: list[str], i: int, n: int) -> list[str]:
    """Round-robin shard ``i`` of ``n``. Each VACUOUS-prone query is
    co-sharded with its declared twin so the twin check never degrades to
    "not in this run" under --workers; the twin may also run in its own
    shard (cheap, harmless)."""
    part = names[i::n]
    return part + [VACUOUS_TWINS[q] for q in part
                   if q in VACUOUS_TWINS and VACUOUS_TWINS[q] not in part
                   and VACUOUS_TWINS[q] in QUERIES]


#: Lines of a dead worker's stderr echoed into the merged report.
_STDERR_TAIL = 15
#: The line a worker writes to stderr after each query.
_RSS_RE = re.compile(r"# rss after (\S+): python (\d+) MB, jvm (\d+) MB$")


def _rss_mb(pid: int | str = "self") -> int:
    """The resident set size of process ``pid`` in MB (Linux ``/proc``);
    0 once it has exited, as a JVM the kernel killed has."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
    except FileNotFoundError:
        return 0
    return pages * os.sysconf("SC_PAGE_SIZE") >> 20


def _memory_share_mb(workers: int) -> int:
    """A third of physical memory split over ``workers`` gate processes:
    each one's DuckDB limit and, unless set, its JVM heap. The last third
    is left to JVM overheads and Python. With DuckDB's default limit (80 %
    of physical memory per process) and 8 GB heaps, three workers on a
    16 GB machine outgrew it on sf0.1 and the kernel killed one."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return phys_mb // (3 * workers)


#: A spill directory is ``<temp dir>/<prefix><pid>-<random>``.
_SPILL_PREFIX = "check-correctness-duckdb-"


def duckdb_connect(workers: int = 1) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection that spills to a temp directory of
    its own, removed at exit, limited to its share of memory. DuckDB's
    default is ``.tmp/`` under the working directory, which ``--workers``
    processes share, so one worker could delete another's spill file
    mid-query. The directory follows shelf_spark.tmpdirs' per-process
    rule, so a killed worker's is removed by the next connection."""
    import atexit

    tmp = process_tmpdir(_SPILL_PREFIX)
    con = duckdb.connect(config={
        "temp_directory": tmp,
        "memory_limit": f"{_memory_share_mb(workers)}MB",
    })
    atexit.register(con.close)  # runs first: atexit is last-in, first-out
    return con


def _context_stopped(spark) -> bool:
    """Whether ``spark``'s SparkContext has stopped, as a JVM heap OOM
    stops it; a JVM that is gone counts as stopped."""
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001
        return True


def _run_workers(args) -> int:
    """Fan the gate out over N subprocesses and merge their summaries.

    Round-robin sharding spreads the expensive queries (which cluster by
    module, hence by registry position) across workers; each worker gets
    32/N Spark threads so the host is never oversubscribed. A worker that
    exits without its summary line (a crash, an OOM kill) is named with
    its return code and stderr tail, and the merged total is checked
    against the selected query count, so a dead shard can never shrink
    the denominator unnoticed.
    """
    import contextlib
    import subprocess
    import tempfile

    n = args.workers
    names = _selected(args.pattern, args.changed_since)
    expected = sum(len(_shard(names, i, n)) for i in range(n))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(max(4, 32 // n))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{_memory_share_mb(n)}m")
    tot = [0, 0, 0, 0, 0]
    failures: list[str] = []
    dead: list[str] = []
    rc = 0
    with contextlib.ExitStack() as files:
        procs = []
        for i in range(n):
            cmd = [sys.executable, __file__, args.pattern, "--sf", args.sf,
                   "--shard", f"{i}/{n}"]
            if args.changed_since:
                cmd += ["--changed-since", args.changed_since]
            # a file, not a pipe: Spark's stderr is chatty, and an unread
            # full pipe would stall a worker until its turn in the merge
            err = files.enter_context(tempfile.TemporaryFile())
            procs.append((err, subprocess.Popen(
                cmd, env=env, stdout=subprocess.PIPE, stderr=err, text=True,
            )))
        for i, (err, p) in enumerate(procs):
            out, _ = p.communicate()
            rc |= p.returncode
            summarized = False
            for line in out.splitlines():
                m = _SUMMARY_RE.match(line)
                if m:
                    summarized = True
                    for j in range(5):
                        tot[j] += int(m.group(j + 1) or 0)
                elif line.startswith("failures:"):
                    failures += line.split()[1:]
                elif line and not line.startswith("#"):
                    print(f"[w{i}] {line}")
            err.seek(0)
            tail = err.read().decode(errors="replace").splitlines()
            rss = [m for m in map(_RSS_RE.match, tail) if m]
            if rss:
                py = max(rss, key=lambda m: int(m[2]))
                jvm = max(rss, key=lambda m: int(m[3]))
                print(f"[w{i}] largest rss: python {py[2]} MB after {py[1]}, "
                      f"jvm {jvm[3]} MB after {jvm[1]}")
            if not summarized:
                dead.append(f"w{i}")
                print(f"[w{i}] DEAD: exited {p.returncode} without a summary; "
                      "stderr tail:")
                for line in tail[-_STDERR_TAIL:]:
                    print(f"[w{i}]   {line}")
    vac = f" ({tot[4]} unexplained-vacuous)" if tot[4] else ""
    short = f", SHORT by {expected - tot[3]}" if tot[3] != expected else ""
    print(f"\nselected {len(names)} queries ({expected} with co-sharded "
          f"twins), merged {tot[3]}{short}"
          + (f"; dead shards: {' '.join(dead)}" if dead else ""))
    print(f"{tot[0]} ok, {tot[1]} rows-only, {tot[2]} FAIL of {tot[3]} "
          f"({n} workers){vac}")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if (rc or tot[2] or short) else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("pattern", nargs="?", default=".*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--changed-since", metavar="GITREF", default=None,
        help="additionally restrict to queries whose defining module file "
        "changed since GITREF (two-speed workflow: fast local iteration; "
        "the full no-filter sweep remains the pre-driver ritual)",
    )
    ap.add_argument(
        "--workers", type=int, default=1,
        help="shard the query list over N subprocesses, each with its own "
        "Spark session — ~N× wall-clock on a 32-core host (N<=4 sensible)",
    )
    ap.add_argument(
        "--shard", metavar="I/N", default=None,
        help="(internal) run only names[I::N] of the selected list",
    )
    ap.add_argument(
        "--override", action="append", default=[], metavar="CONF=VALUE",
        help="runtime Spark conf override applied to every session "
        "(repeatable; also inherited by --workers subprocesses). The "
        "plan-invariance gate: e.g. --override "
        "spark.sql.adaptive.enabled=false --override "
        "spark.sql.shuffle.partitions=7 proves results don't depend on "
        "the physical plan",
    )
    args = ap.parse_args()

    if args.override:
        existing = os.environ.get("SHELF_SPARK_CONF_OVERRIDES", "")
        parts = ([existing] if existing else []) + args.override
        os.environ["SHELF_SPARK_CONF_OVERRIDES"] = ";".join(parts)
        print(f"# conf overrides: {os.environ['SHELF_SPARK_CONF_OVERRIDES']}")

    if args.workers > 1 and args.shard is None:
        return _run_workers(args)

    names = _selected(args.pattern, args.changed_since)
    shard, workers = (int(x) for x in (args.shard or "0/1").split("/"))
    names = _shard(names, shard, workers)

    spark = get_spark("check-correctness")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    con = duckdb_connect(workers)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf, t)}')"
        )

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    vacuous: list[str] = []
    rowcounts: dict[str, int] = {}
    for name in names:
        t0 = time.time()
        try:
            try:
                sdf = QUERIES[name](spark, args.sf)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: spark error: {exc}")
                if _context_stopped(spark):
                    # every later query would fail on the stopped context;
                    # no summary, so the merge reports this worker DEAD
                    print(f"# SparkContext stopped in {name}; shard ends",
                          file=sys.stderr)
                    return 1
                failures.append(name)
                n_fail += 1
                continue
            if name not in ORACLES:
                print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
                n_rows_only += 1
                continue
            try:
                res = con.execute(ORACLES[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: duckdb error: {exc}")
                failures.append(name)
                n_fail += 1
                continue

            problems = []
            if len(srows) != len(drows):
                problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
            if sorted(scols) != sorted(dcols):
                problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
            if not problems:
                sn, dn = _normalize(srows, scols), _normalize(drows, dcols)
                if sn != dn:
                    bad = sum(1 for a, b in zip(sn, dn) if a != b)
                    for a, b in zip(sn, dn):
                        if a != b:
                            problems.append(f"value diff ({bad} rows) e.g. spark={a} duckdb={b}")
                            break
            if problems:
                print(f"FAIL  {name}: " + "; ".join(problems))
                failures.append(name)
                n_fail += 1
            else:
                # A 0-row/0-row match proves nothing about the expression's
                # VALUES (r12 ADVICE: embed_cosine_pairs' re-proof slot was
                # vacuous) — still a pass, but flagged so a sweep log or a
                # re-proof slot can never silently rest on one.
                vac = " (VACUOUS: 0 rows both sides)" if not srows else ""
                if not srows:
                    vacuous.append(name)
                rowcounts[name] = len(srows)
                print(f"ok    {name}: {len(srows)} rows{vac} [{time.time()-t0:.1f}s]")
                n_pass += 1
        finally:
            # which query grows a worker: a gate process that the kernel
            # kills for memory leaves only its stderr
            print(f"# rss after {name}: python {_rss_mb()} MB, jvm {_rss_mb(jvm_pid)} MB",
                  file=sys.stderr, flush=True)

    # A VACUOUS row is acceptable only when its declared value-exact twin
    # exercised the same machinery non-vacuously (r13 VERDICT ask #6);
    # anything else is UNEXPLAINED — zero of these is the gate target on
    # the standard corpora (hostile corpora may legitimately empty more
    # queries; the label still surfaces them for review).
    n_unexplained_vac = 0
    for name in vacuous:
        twin = VACUOUS_TWINS.get(name)
        if twin is None:
            n_unexplained_vac += 1
            print(f"VACUOUS-UNEXPLAINED  {name}: no declared twin")
        elif rowcounts.get(twin, 0) > 0:
            print(f"vacuous-ok  {name}: twin {twin} non-vacuous "
                  f"({rowcounts[twin]} rows)")
        elif twin in rowcounts:
            n_unexplained_vac += 1
            print(f"VACUOUS-UNEXPLAINED  {name}: twin {twin} also vacuous")
        else:
            print(f"vacuous-?  {name}: twin {twin} not in this run "
                  "(filtered) — unverified")

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL of {len(names)}"
          + (f" ({n_unexplained_vac} unexplained-vacuous)"
             if n_unexplained_vac else ""))
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
