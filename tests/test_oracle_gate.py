"""Pre-driver replica of the CORRECTNESS gate, wired into pytest.

Deselected by default (see pytest.ini addopts) because it runs every
registered query on Spark AND its DuckDB oracle at sf0.01 (~2 min);
run explicitly with ``pytest -m oracle`` before handing a round to the
driver so oracle drift is caught locally first.
"""

from __future__ import annotations

import pytest


@pytest.mark.oracle
def test_oracle_result_types_match_spark(spark):
    """The driver's value-hash is TYPE-sensitive where our row-value gate
    is not: DuckDB quietly returns HUGEINT for bare integer sums and
    DECIMAL for un-cast decimal math, which hash differently from Spark's
    BIGINT/DOUBLE even when values are equal (round 1's only red row).
    Audit every oracle's concrete result types against the Spark schema."""
    import duckdb

    from shelf_spark.data import TABLES, table_path
    from shelf_spark.queries import ORACLES, QUERIES

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf, t)}')"
        )
    ok = {
        "BIGINT": {"bigint"},
        "INTEGER": {"int", "bigint"},
        "DOUBLE": {"double"},
        "VARCHAR": {"string"},
        "BOOLEAN": {"boolean"},
        "DATE": {"date"},
        "TIMESTAMP": {"timestamp", "timestamp_ntz"},
        "TIMESTAMP_NS": {"timestamp", "timestamp_ntz"},
        "BLOB": {"binary"},
        "FLOAT": {"float"},
    }
    problems = []
    for name, sql in ORACLES.items():
        rel = con.sql(sql)
        dtypes = dict(zip(rel.columns, [str(t) for t in rel.types]))
        stypes = {
            f.name: f.dataType.simpleString()
            for f in QUERIES[name](spark, sf).schema.fields
        }
        for col, dt in dtypes.items():
            st, base = stypes.get(col), dt.split("(")[0]
            if st is None:
                problems.append(f"{name}.{col}: missing on spark side")
            elif base.startswith("DECIMAL") and st == dt.lower():
                # matched exact decimals on BOTH sides are deliberate
                # (the r8 integer-exact aggregation idiom, e.g.
                # decimal(38,0) neighbor-degree sums): both engines
                # surface Decimal objects with identical digits, which
                # the driver's canonicalizer compares as equal (proved
                # by agg_abc_classification's green r08 driver row).
                continue
            elif base in ("HUGEINT", "UHUGEINT") or base.startswith("DECIMAL"):
                problems.append(f"{name}.{col}: DuckDB {dt} vs spark {st} (uncast agg)")
            elif base in ok and st not in ok[base]:
                problems.append(f"{name}.{col}: DuckDB {dt} vs spark {st}")
    assert not problems, "\n".join(problems)


@pytest.mark.oracle
def test_no_nested_columns_in_oracle_checked_outputs(spark):
    """The driver canonicalizes results via ``pandas.sort_values``, which
    cannot factorize numpy arrays: any array/map/struct column in an
    oracle-checked query's output errors the driver row even when values
    are exact (r05: ``vectors_quantize_int8`` was the lone offender —
    ``TypeError: unhashable type: 'numpy.ndarray'``). Reduce nested values
    to scalars (to_json / array_join / explode) before output."""
    from shelf_spark.queries import ORACLES, QUERIES

    sf = "/root/testdata/sf0.001"
    offenders = []
    for name in ORACLES:
        for f in QUERIES[name](spark, sf).schema.fields:
            kind = f.dataType.typeName()
            if kind in ("array", "map", "struct"):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, (
        "oracle-checked outputs must be flat (driver sort_values "
        "cannot canonicalize nested cells):\n" + "\n".join(offenders)
    )


@pytest.mark.oracle
def test_all_queries_match_oracles():
    from tools.check_correctness import main as gate
    import sys

    argv, sys.argv = sys.argv, ["check_correctness"]
    try:
        rc = gate()
    finally:
        sys.argv = argv
    assert rc == 0, "oracle gate reported failures (see stdout)"


def test_driver_window_names_valid():
    """The rotated driver window must hold exactly 50 registered names
    (the driver checks the FIRST 50 queries() entries) with no
    duplicates — a typo here silently drops a query's driver evidence."""
    import __spark_entry__ as entry_mod

    from shelf_spark.queries import QUERIES

    import re

    current = max(
        (v for v in vars(entry_mod) if re.match(r"_DRIVER_WINDOW_R\d+$", v)),
        key=lambda v: int(v.rsplit("R", 1)[1]),
    )
    w = getattr(entry_mod, current)
    assert len(w) == 50
    assert len(set(w)) == 50
    missing = [n for n in w if n not in QUERIES]
    assert not missing, missing
    assert list(entry_mod.queries())[:50] == w


def test_worker_summary_parser_tolerates_vacuous_suffix():
    """r14 regression pin: the fan-out merge must parse shard summaries
    both with and without the r13 "(N unexplained-vacuous)" suffix.
    Before the fix, a suffix-carrying shard was silently dropped from
    the merged totals (a 343-query hostile-corpus run merged to
    "0 ok ... of 0" because every shard carried the suffix)."""
    from tools.check_correctness import _SUMMARY_RE

    plain = _SUMMARY_RE.match("85 ok, 1 rows-only, 0 FAIL of 86")
    assert plain and plain.group(5) is None
    assert [int(plain.group(i)) for i in range(1, 5)] == [85, 1, 0, 86]

    suffixed = _SUMMARY_RE.match(
        "84 ok, 1 rows-only, 2 FAIL of 85 (9 unexplained-vacuous)"
    )
    assert suffixed and int(suffixed.group(5)) == 9
    assert [int(suffixed.group(i)) for i in range(1, 5)] == [84, 1, 2, 85]


def test_worker_merge_names_dead_shard(monkeypatch, capsys):
    """A shard that dies before printing its summary is named with its
    return code and stderr tail, and the merged total is checked against
    the selected query count instead of coming up short silently."""
    import argparse
    import subprocess

    from tools import check_correctness as gate

    class FakeWorker:
        def __init__(self, cmd, stdout, stderr, **kw):
            self.dead = cmd[cmd.index("--shard") + 1] == "1/2"
            if self.dead:
                stderr.write(b"Traceback (most recent call last):\nMemoryError\n")
            self.returncode = 137 if self.dead else 0

        def communicate(self):
            if self.dead:
                return "", None
            return "ok    ts_acf: 5 rows\n\n1 ok, 0 rows-only, 0 FAIL of 1\n", None

    monkeypatch.setattr(subprocess, "Popen", FakeWorker)
    args = argparse.Namespace(
        workers=2, pattern="^ts_(acf|ljung_box)$", sf="-", changed_since=None
    )
    assert gate._run_workers(args) == 1
    out = capsys.readouterr().out
    assert "[w1] DEAD: exited 137 without a summary" in out
    assert "[w1]   MemoryError" in out
    assert "selected 2 queries (2 with co-sharded twins), merged 1, SHORT by 1" in out
    assert "1 ok, 0 rows-only, 0 FAIL of 1 (2 workers)" in out


def test_worker_ends_shard_when_spark_context_stopped(spark, monkeypatch, capsys):
    """After a Spark error on a stopped SparkContext (a JVM heap OOM stops
    it), the shard ends without a summary, so the merge reports the worker
    DEAD and the total SHORT, instead of failing every later query on the
    dead context."""
    import sys
    from types import SimpleNamespace as NS

    from conftest import SF_SMALL
    from tools import check_correctness as gate

    assert not gate._context_stopped(spark)
    ran = []

    def stops(spark, sf):
        raise RuntimeError("java.lang.OutOfMemoryError: Java heap space")

    monkeypatch.setattr(gate, "QUERIES", {"q_oom": stops, "q_next": lambda *a: ran.append(a)})
    jvm = NS(java=NS(lang=NS(ProcessHandle=NS(current=lambda: NS(pid=lambda: 0)))))
    stopped = NS(sparkContext=NS(_jvm=jvm, _jsc=NS(sc=lambda: NS(isStopped=lambda: True))))
    monkeypatch.setattr(gate, "get_spark", lambda name: stopped)
    monkeypatch.setattr(sys, "argv", ["check_correctness", "--sf", SF_SMALL])
    assert gate.main() == 1
    out = capsys.readouterr().out
    assert "FAIL  q_oom: spark error" in out
    assert not ran
    assert not any(gate._SUMMARY_RE.match(line) for line in out.splitlines())


def test_gate_processes_spill_to_own_duckdb_dirs():
    """Two gate processes running at once get DuckDB connections with
    different ``temp_directory`` values, each removed when its process
    exits (a shared ``.tmp/`` let one ``--workers`` shard delete another's
    spill file mid-query)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from tools.check_correctness import duckdb_connect\n"
        "con = duckdb_connect()\n"
        "print(con.execute(\"SELECT current_setting('temp_directory')\").fetchone()[0])\n"
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", code], cwd=root,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(2)
    ]
    dirs = []
    for p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        dirs.append(out.strip())
    assert all(dirs) and dirs[0] != dirs[1]
    assert not any(os.path.exists(d) for d in dirs)


def test_gate_removes_spill_dirs_of_dead_processes(tmp_path, monkeypatch):
    """A killed gate worker never runs its exit hook, so its spill
    directory stays behind; the next connection removes the directories
    of processes that no longer run and keeps those of live ones."""
    import os
    import subprocess
    import sys
    import tempfile

    from tools import check_correctness as gate

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # reaped: its pid no longer runs
    dead = tmp_path / f"check-correctness-duckdb-{child.pid}-killed"
    live = tmp_path / f"check-correctness-duckdb-{os.getpid()}-running"
    dead.mkdir()
    live.mkdir()
    gate.duckdb_connect().close()
    assert not dead.exists()
    assert live.exists()


def _oracle_refs() -> dict[str, str]:
    """Query name → the constant or callable its ``@query`` decorator
    names as its oracle, read from the AST. A module function whose last
    statement returns a name (a late-registered twin's oracle, imported in
    its body) counts as that name; literal oracle text counts as its own
    decorator's position."""
    import ast

    from conftest import QUERIES_DIR

    refs = {}
    for f in sorted(QUERIES_DIR.glob("*.py")):
        tree = ast.parse(f.read_text())
        returns = {
            node.name: node.body[-1].value.id
            for node in tree.body
            if isinstance(node, ast.FunctionDef)
            and isinstance(node.body[-1], ast.Return)
            and isinstance(node.body[-1].value, ast.Name)
        }
        for node in tree.body:
            for d in getattr(node, "decorator_list", []):
                if not (isinstance(d, ast.Call) and getattr(d.func, "id", "") == "query"):
                    continue
                kw = {k.arg: k.value for k in d.keywords}
                oracle = kw.get("oracle", d.args[1] if len(d.args) > 1 else None)
                if isinstance(oracle, ast.Name):
                    refs[d.args[0].value] = returns.get(oracle.id, oracle.id)
                else:
                    refs[d.args[0].value] = f"{f.name}:{d.lineno}"
    return refs


def test_equal_oracles_share_one_definition():
    """Two operators held to the same oracle text must name one shared
    definition of it, so the twins cannot drift apart unnoticed."""
    from shelf_spark.queries import ORACLES

    refs = _oracle_refs()
    by_text: dict[str, list[str]] = {}
    for name, sql in ORACLES.items():
        by_text.setdefault(" ".join(sql.split()), []).append(name)
    shared = [names for names in by_text.values() if len(names) > 1]
    assert shared
    copies = [names for names in shared if len({refs[n] for n in names}) > 1]
    assert not copies, copies
