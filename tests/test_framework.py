"""Framework-layer tests: pure functions + end-to-end build cycle in a
tmp shelf (mirrors the reference's test strategy, SURVEY §5: e2e through
a real — here local-FS — object store)."""

from __future__ import annotations

import hashlib
import io
import json
import os
from pathlib import Path

import pytest
from conftest import SF_SMALL, jobs_submitted

from shelf_spark.framework.core import Shelf
from shelf_spark.framework.exceptions import StepDefinitionError
from shelf_spark.framework.query import path_to_snake, table_aliases
from shelf_spark.framework.tables import simplify_dependency_names
from shelf_spark.framework.types import StepURI, is_valid_version
from shelf_spark.framework.utils import (
    checksum_file,
    checksum_folder,
    checksum_manifest,
)


# -- pure functions ----------------------------------------------------------


def test_step_uri_parse_and_order():
    a = StepURI.parse("snapshot://ns/ds/2024-01-01")
    assert (a.scheme, a.path) == ("snapshot", "ns/ds/2024-01-01")
    assert a.version == "2024-01-01"
    assert a.dataset_path == "ns/ds"
    assert str(a) == "snapshot://ns/ds/2024-01-01"
    # lexicographic order: later dates, then `latest`, sort last
    b = StepURI.parse("snapshot://ns/ds/2024-02-01")
    latest = StepURI.parse("snapshot://ns/ds/latest")
    assert a < b < latest
    with pytest.raises(StepDefinitionError):
        StepURI.parse("bogus://x/y")
    with pytest.raises(StepDefinitionError):
        StepURI.parse("not a uri")


def test_is_valid_version():
    assert is_valid_version("2024-07-26")
    assert is_valid_version("latest")
    assert not is_valid_version("v1")
    assert not is_valid_version("2024-7-6")


def test_checksums(tmp_path):
    f = tmp_path / "a.txt"
    f.write_bytes(b"hello world\n")
    assert checksum_file(f) == hashlib.sha256(b"hello world\n").hexdigest()

    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.txt").write_bytes(b"bbb")
    (tmp_path / ".DS_Store").write_bytes(b"junk")  # ignored
    manifest = checksum_folder(tmp_path)
    assert set(manifest) == {"a.txt", "sub/b.txt"}
    # digest is deterministic and order-insensitive over dict ordering
    d1 = checksum_manifest(manifest)
    d2 = checksum_manifest(dict(reversed(list(manifest.items()))))
    assert d1 == d2 and len(d1) == 64


def test_path_to_snake_and_aliases():
    assert path_to_snake("ns/some-ds/2024-07-26") == "ns_someds_20240726"
    # unique dataset gets its unversioned short alias
    aliases = table_aliases(["ns/prices/2024-07-26"])
    assert aliases == {"prices": "ns_prices_20240726"}
    # two versions of the same dataset: alias must qualify by version
    aliases = table_aliases(["ns/prices/2024-07-26", "ns/prices/2024-08-01"])
    assert aliases["prices_20240726"] == "ns_prices_20240726"
    assert aliases["prices_20240801"] == "ns_prices_20240801"
    assert "prices" not in aliases
    # same dataset name in two namespaces: alias extends leftward
    aliases = table_aliases(["a/prices/2024-07-26", "b/prices/2024-07-26"])
    assert aliases["a_prices"] == "a_prices_20240726"
    assert aliases["b_prices"] == "b_prices_20240726"


def test_built_tables_have_one_reader():
    """In the framework, Spark and DuckDB reads of table files happen only
    in ``tables.read_table`` and ``tables._read_any``."""
    import ast

    from shelf_spark.framework import tables

    patterns = (".read.parquet(", ".read.schema(", "read_parquet(")
    offenders = []
    for f in sorted(Path(tables.__file__).parent.glob("*.py")):
        text = f.read_text()
        allowed = {
            i
            for node in ast.walk(ast.parse(text))
            if isinstance(node, ast.FunctionDef)
            and f.name == "tables.py"
            and node.name in ("read_table", "_read_any")
            for i in range(node.lineno, node.end_lineno + 1)
        }
        offenders += [
            f"{f.name}:{i}"
            for i, line in enumerate(text.splitlines(), 1)
            if i not in allowed and any(p in line for p in patterns)
        ]
    assert offenders == []


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """``_read_any`` reads an ORC path: values round-trip and predicates
    reach the ORC scan (same pushdown contract as parquet)."""
    from pyspark.sql import functions as F

    from shelf_spark.data import load_table
    from shelf_spark.framework.tables import _read_any

    out = str(tmp_path / "orders.orc")
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    orders.write.orc(out)

    back = _read_any(spark, out)
    assert back.count() == orders.count()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in orders.collect()}

    filtered = back.filter(F.col("o_orderkey") == 1)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan


def test_simplify_dependency_names():
    deps = [StepURI.parse("table://ns/customers/2024-01-01")]
    assert simplify_dependency_names(deps) == {"customers": deps[0]}
    # collision on dataset name → qualify with namespace
    deps = [
        StepURI.parse("table://a/prices/2024-01-01"),
        StepURI.parse("table://b/prices/2024-01-01"),
    ]
    names = simplify_dependency_names(deps)
    assert names == {"a_prices": deps[0], "b_prices": deps[1]}
    # same path twice is irresolvable
    with pytest.raises(StepDefinitionError):
        simplify_dependency_names([deps[0], deps[0]])


def test_latest_resolution(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    shelf = Shelf.init()
    shelf.add_step(StepURI.parse("snapshot://ns/raw/2024-01-01"))
    shelf.add_step(StepURI.parse("snapshot://ns/raw/2024-03-01"))
    shelf.add_step(
        StepURI.parse("table://ns/out/2024-03-02"),
        [StepURI.parse("snapshot://ns/raw/latest")],
    )
    dag = shelf.resolve_latest()
    deps = dag[StepURI.parse("table://ns/out/2024-03-02")]
    assert deps == [StepURI.parse("snapshot://ns/raw/2024-03-01")]


# -- end-to-end build cycle --------------------------------------------------


@pytest.fixture()
def workspace(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("SHELF_STORE_DIR", str(tmp_path / ".store"))
    monkeypatch.setenv("SHELF_CACHE_DIR", str(tmp_path / ".cache"))
    return tmp_path


def test_snapshot_roundtrip(workspace):
    from shelf_spark.framework.snapshots import Snapshot

    raw = workspace / "input.csv"
    raw.write_text("x,y\n1,2\n3,4\n")
    snap = Snapshot.create(raw, "ns/raw/2024-01-01")
    assert snap.is_up_to_date()
    assert snap.metadata_path.exists()

    # delete the materialized copy; fetch() restores from the store
    snap.data_path.unlink()
    assert not snap.is_up_to_date()
    loaded = Snapshot.load(StepURI.parse("snapshot://ns/raw/2024-01-01"))
    loaded.fetch()
    assert loaded.is_up_to_date()
    assert loaded.data_path.read_text() == "x,y\n1,2\n3,4\n"


def test_directory_snapshot_roundtrip(workspace):
    from shelf_spark.framework.snapshots import Snapshot

    d = workspace / "rawdir"
    (d / "sub").mkdir(parents=True)
    (d / "a.txt").write_text("alpha")
    (d / "sub" / "b.txt").write_text("beta")
    snap = Snapshot.create(d, "ns/dir/2024-01-01")
    assert snap.snapshot_type == "directory"
    assert set(snap.manifest) == {"a.txt", "sub/b.txt"}

    # corrupt one file + add a stray; fetch restores manifest state
    (snap.data_path / "a.txt").write_text("corrupted")
    (snap.data_path / "stray.txt").write_text("stray")
    loaded = Snapshot.load(StepURI.parse("snapshot://ns/dir/2024-01-01"))
    assert not loaded.is_up_to_date()
    loaded.fetch()
    assert loaded.is_up_to_date()
    assert (loaded.data_path / "a.txt").read_text() == "alpha"
    assert not (loaded.data_path / "stray.txt").exists()


def test_build_cycle_sql_step(workspace, spark):
    """init → snapshot → sql table → run → incremental no-op → edit →
    rebuild (the reference's core loop, tests/test_shelf.py:320-358)."""
    from shelf_spark.framework.cli import main as cli
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths

    assert cli(["init"]) == 0
    raw = workspace / "numbers.csv"
    raw.write_text("n,label\n1,one\n2,two\n3,three\n")
    assert cli(["snapshot", str(raw), "ns/numbers/2024-01-01"]) == 0

    shelf = Shelf()
    shelf.new_table("ns/doubled/2024-01-02", ["snapshot://ns/numbers/2024-01-01"])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "doubled.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text("SELECT n, n * 2 AS n2 FROM {numbers}")

    dag = prune_completed(Shelf().resolve_latest())
    assert dag, "table step should be dirty"
    execute_dag(spark, dag)

    out = paths.table_data_path("ns/doubled/2024-01-02")
    assert out.exists()
    rows = {tuple(r) for r in spark.read.parquet(str(out.resolve())).collect()}
    assert rows == {(1, 2), (2, 4), (3, 6)}
    sidecar = paths.table_metadata_path("ns/doubled/2024-01-02")
    assert sidecar.exists()

    # incremental: everything fresh → empty dag
    assert prune_completed(Shelf().resolve_latest()) == {}

    # editing the script dirties the step (Merkle edge via input_manifest)
    script.write_text("SELECT n, n * 3 AS n3 FROM {numbers}")
    dag = prune_completed(Shelf().resolve_latest())
    assert StepURI.parse("table://ns/doubled/2024-01-02") in dag
    execute_dag(spark, dag)
    rows = {tuple(r) for r in spark.read.parquet(str(out.resolve())).collect()}
    assert rows == {(1, 3), (2, 6), (3, 9)}


def test_build_cycle_python_step(workspace, spark):
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths

    Shelf.init()
    raw = workspace / "vals.csv"
    raw.write_text("v\n10\n20\n")
    from shelf_spark.framework.snapshots import Snapshot

    Snapshot.create(raw, "ns/vals/2024-01-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/vals/2024-01-01"))
    shelf.new_table("ns/squared/2024-01-02", ["snapshot://ns/vals/2024-01-01"])
    shelf.save()

    script = paths.TABLE_SCRIPTS_DIR / "ns" / "squared.py"
    script.parent.mkdir(parents=True, exist_ok=True)
    # reference argv contract: script dep1 … depN out
    script.write_text(
        "import sys, pandas as pd\n"
        "df = pd.read_csv(sys.argv[1])\n"
        "df['sq'] = df['v'] ** 2\n"
        "df.to_parquet(sys.argv[2])\n"
    )
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    out = paths.table_data_path("ns/squared/2024-01-02")
    rows = {tuple(r) for r in spark.read.parquet(str(out.resolve())).collect()}
    assert rows == {(10, 100), (20, 400)}


def test_python_step_polars_style_parquet_interchange(workspace, spark):
    """E2E build whose step script writes Parquet with Polars' physical
    conventions — large_string / int64 / date32 / float64 (the reference's
    placeholder scripts write via Polars, README.md:77-91) — then a SQL
    step consumes that output. Pins interchange fidelity end-to-end: the
    argv contract (reference tables.py:142-152), Spark's read of the
    arrow-written file, dtype flow into the sidecar's simpleString schema
    vocabulary, and a golden frame through the downstream step. The script
    uses Polars when the interpreter has it and an identically-typed
    pyarrow writer otherwise (this container has no Polars)."""
    import yaml

    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths

    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/catalog/2024-01-01", [])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "catalog.py"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text(
        "import sys\n"
        "rows = {'name': ['ash', 'birch', None],\n"
        "        'n': [1, 2, 3],\n"
        "        'price': [1.5, 2.25, 0.0]}\n"
        "days = [18262, 18263, None]  # 2020-01-01, 2020-01-02 as date32\n"
        "try:\n"
        "    import polars as pl\n"
        "    from datetime import date, timedelta\n"
        "    df = pl.DataFrame(rows).with_columns(\n"
        "        pl.Series('d', [date(1970, 1, 1) + timedelta(days=v)\n"
        "                        if v is not None else None for v in days]))\n"
        "    df.write_parquet(sys.argv[-1])\n"
        "except ModuleNotFoundError:\n"
        "    import pyarrow as pa, pyarrow.parquet as pq\n"
        "    # Polars' physical parquet types: Utf8→large_string,\n"
        "    # Int64→int64, Float64→double, Date→date32\n"
        "    t = pa.table({'name': pa.array(rows['name'], pa.large_string()),\n"
        "                  'n': pa.array(rows['n'], pa.int64()),\n"
        "                  'price': pa.array(rows['price'], pa.float64()),\n"
        "                  'd': pa.array(days, pa.date32())})\n"
        "    pq.write_table(t, sys.argv[-1])\n"
    )
    # downstream SQL step consumes the Python step's output via a temp view
    shelf = Shelf()
    shelf.new_table("ns/priced/2024-01-02", ["table://ns/catalog/2024-01-01"])
    shelf.save()
    sql = paths.TABLE_SCRIPTS_DIR / "ns" / "priced.sql"
    sql.write_text(
        "SELECT name, n * 2 AS n2, price, d FROM {catalog} WHERE name IS NOT NULL"
    )
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))

    # dtype flow into the sidecar's schema vocabulary (N20)
    meta = yaml.safe_load(
        paths.table_metadata_path("ns/catalog/2024-01-01").read_text()
    )
    assert meta["schema"] == {
        "name": "string",
        "n": "bigint",
        "price": "double",
        "d": "date",
    }
    # golden frame through the downstream SQL step
    import datetime as dt

    out = paths.table_data_path("ns/priced/2024-01-02")
    got = {tuple(r) for r in spark.read.parquet(str(out.resolve())).collect()}
    assert got == {
        ("ash", 2, 1.5, dt.date(2020, 1, 1)),
        ("birch", 4, 2.25, dt.date(2020, 1, 2)),
    }


def test_sidecar_writes_empty_provenance_as_comments(workspace):
    """Unfilled provenance fields appear as '# key:' comment lines in the
    sidecar — the human-curation skeleton the reference writes (reference
    snapshots.py:131-139 + utils.py:76-94) — and YAML loaders skip them."""
    from shelf_spark.framework.snapshots import Snapshot

    raw = workspace / "input.csv"
    raw.write_text("x\n1\n")
    snap = Snapshot.create(raw, "ns/raw/2024-01-01", {"source_url": "http://example.com"})
    text = snap.metadata_path.read_text()
    assert "# description:" in text
    assert "# license:" in text
    # a provided field is written as real YAML, not a comment
    assert "source_url: http://example.com" in text
    assert "# source_url:" not in text
    loaded = Snapshot.load(StepURI.parse("snapshot://ns/raw/2024-01-01"))
    assert loaded.provenance.get("source_url") == "http://example.com"
    assert "description" not in loaded.provenance
    assert loaded.is_up_to_date()


def test_snapshot_edit_flag_opens_editor(workspace, monkeypatch):
    """--edit opens the written sidecar in $EDITOR (⇄ reference
    __init__.py:215-216's vim hook)."""
    from shelf_spark.framework.cli import main as cli
    from shelf_spark.framework import paths

    assert cli(["init"]) == 0
    raw = workspace / "e.csv"
    raw.write_text("x\n1\n")
    editor = workspace / "fake_editor.sh"
    log = workspace / "editor_calls.txt"
    editor.write_text(f'#!/bin/sh\necho "$1" >> {log}\n')
    editor.chmod(0o755)
    monkeypatch.setenv("EDITOR", str(editor))
    assert cli(["snapshot", str(raw), "ns/edited/2024-01-01", "--edit"]) == 0
    called_with = log.read_text().strip()
    assert called_with == str(paths.snapshot_metadata_path("ns/edited/2024-01-01"))
    # without --edit the editor is not invoked
    log.unlink()
    raw2 = workspace / "e2.csv"
    raw2.write_text("x\n2\n")
    assert cli(["snapshot", str(raw2), "ns/unedited/2024-01-01"]) == 0
    assert not log.exists()


def test_concurrent_sql_steps_colliding_dep_names(workspace, spark):
    """Two independent SQL steps whose deps simplify to the SAME short name
    ('data', from a/data and b/data) build concurrently on one session. Temp
    views are session-global, so without per-build unique view names one
    build would read the other's dependency. Each output must see only its
    own input, and no dep_* views may leak past the builds."""
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths

    Shelf.init()
    raw_a = workspace / "a.csv"
    raw_a.write_text("v\n1\n")
    raw_b = workspace / "b.csv"
    raw_b.write_text("v\n100\n")
    Snapshot.create(raw_a, "a/data/2024-01-01")
    Snapshot.create(raw_b, "b/data/2024-01-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://a/data/2024-01-01"))
    shelf.add_step(StepURI.parse("snapshot://b/data/2024-01-01"))
    shelf.new_table("a/out/2024-01-02", ["snapshot://a/data/2024-01-01"])
    shelf.new_table("b/out/2024-01-02", ["snapshot://b/data/2024-01-01"])
    shelf.save()
    for ns in ("a", "b"):
        script = paths.TABLE_SCRIPTS_DIR / ns / "out.sql"
        script.parent.mkdir(parents=True, exist_ok=True)
        script.write_text("SELECT v + 1 AS w FROM {data}")

    execute_dag(spark, prune_completed(Shelf().resolve_latest()), max_workers=4)

    rows_a = spark.read.parquet(
        str(paths.table_data_path("a/out/2024-01-02").resolve())
    ).collect()
    rows_b = spark.read.parquet(
        str(paths.table_data_path("b/out/2024-01-02").resolve())
    ).collect()
    assert [r.w for r in rows_a] == [2]
    assert [r.w for r in rows_b] == [101]
    leftover = [t.name for t in spark.catalog.listTables() if t.name.startswith("dep_")]
    assert leftover == []


def test_bucketed_table_steps_join_without_exchange(workspace, spark):
    """Table configs can opt into bucketing on a hot join key; two steps
    bucketed identically then join downstream with ZERO exchanges (the
    co-located-join contract from shelf_spark/optimize.py, exercised
    through the framework build path end-to-end)."""
    from shelf_spark.framework.query import execute_query
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.tables import catalog_table_name
    from shelf_spark.framework import paths
    from shelf_spark.optimize import is_shuffle_free_join

    Shelf.init()
    raw_f = workspace / "facts.csv"
    raw_f.write_text("k,v\n" + "".join(f"{i % 10},{i}\n" for i in range(100)))
    raw_d = workspace / "dims.csv"
    raw_d.write_text("k,name\n" + "".join(f"{i},name{i}\n" for i in range(10)))
    Snapshot.create(raw_f, "ns/facts/2024-01-01")
    Snapshot.create(raw_d, "ns/dims/2024-01-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/facts/2024-01-01"))
    shelf.add_step(StepURI.parse("snapshot://ns/dims/2024-01-01"))
    shelf.new_table("ns/fact_b/2024-01-02", ["snapshot://ns/facts/2024-01-01"])
    shelf.new_table("ns/dim_b/2024-01-02", ["snapshot://ns/dims/2024-01-01"])
    shelf.new_table(
        "ns/joined/2024-01-03",
        ["table://ns/fact_b/2024-01-02", "table://ns/dim_b/2024-01-02"],
    )
    shelf.save()

    scripts = paths.TABLE_SCRIPTS_DIR / "ns"
    scripts.mkdir(parents=True, exist_ok=True)
    bucket_cfg = "version: 1\nbucketing:\n  keys: [k]\n  num_buckets: 4\n  sort: [k]\n"
    (scripts / "fact_b.sql").write_text("SELECT k, v FROM {facts}")
    (scripts / "fact_b.meta.yaml").write_text(bucket_cfg)
    (scripts / "dim_b.sql").write_text("SELECT k, name FROM {dims}")
    (scripts / "dim_b.meta.yaml").write_text(
        "version: 1\ninherit: snapshot://ns/dims/2024-01-01\n" + bucket_cfg.split("\n", 1)[1]
    )
    (scripts / "joined.sql").write_text(
        "SELECT f.k, f.v, d.name FROM {fact_b} f JOIN {dim_b} d ON f.k = d.k"
    )

    execute_dag(spark, prune_completed(Shelf().resolve_latest()))

    out = paths.table_data_path("ns/joined/2024-01-03")
    joined = spark.read.parquet(str(out.resolve()))
    assert joined.count() == 100

    # the bucketing contract: same-keyed join of the two built tables plans
    # with no Exchange anywhere (broadcast disabled so the question is real)
    fact_name = catalog_table_name(StepURI.parse("table://ns/fact_b/2024-01-02"))
    dim_name = catalog_table_name(StepURI.parse("table://ns/dim_b/2024-01-02"))
    assert spark.catalog.tableExists(fact_name)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert is_shuffle_free_join(spark, fact_name, dim_name, ["k"])
        # a `db` query reads both through their catalog entries, so its
        # join on the bucket key keeps the layout as well
        db_join = execute_query(
            spark,
            Shelf(),
            "SELECT f.k, f.v, d.name FROM fact_b f JOIN dim_b d ON f.k = d.k",
            out=io.StringIO(),
        )
        assert db_join.count() == 100
        assert "Exchange" not in db_join._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql(f"DROP TABLE IF EXISTS {fact_name}")
    spark.sql(f"DROP TABLE IF EXISTS {dim_name}")


def test_inherit_names_latest_dependency(workspace, spark):
    """A two-dep step whose ``inherit:`` names a ``latest`` dep builds and
    inherits provenance from the newest version of that dataset — before
    and after a newer snapshot is added."""
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.utils import load_yaml
    from shelf_spark.framework import paths

    Shelf.init()
    shelf = Shelf()
    for ds, version, x in (("a", "2024-01-01", 1), ("b", "2024-01-01", 10)):
        raw = workspace / f"{ds}.csv"
        raw.write_text(f"x\n{x}\n")
        Snapshot.create(raw, f"ns/{ds}/{version}", {"source_name": f"{ds} {version}"})
        shelf.add_step(StepURI.parse(f"snapshot://ns/{ds}/{version}"))
    shelf.new_table(
        "ns/both/2024-02-01", ["snapshot://ns/a/latest", "snapshot://ns/b/2024-01-01"]
    )
    shelf.save()
    scripts = paths.TABLE_SCRIPTS_DIR / "ns"
    scripts.mkdir(parents=True, exist_ok=True)
    (scripts / "both.sql").write_text("SELECT x FROM {a} UNION ALL SELECT x FROM {b}")
    (scripts / "both.meta.yaml").write_text("version: 1\ninherit: snapshot://ns/a/latest\n")
    sidecar = paths.table_metadata_path("ns/both/2024-02-01")

    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert load_yaml(sidecar)["source_name"] == "a 2024-01-01"

    raw = workspace / "a2.csv"
    raw.write_text("x\n2\n")
    Snapshot.create(raw, "ns/a/2024-03-01", {"source_name": "a 2024-03-01"})
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/a/2024-03-01"))
    shelf.save()
    dag = prune_completed(Shelf().resolve_latest())
    assert StepURI.parse("table://ns/both/2024-02-01") in dag
    execute_dag(spark, dag)
    assert load_yaml(sidecar)["source_name"] == "a 2024-03-01"
    out = spark.read.parquet(str(paths.table_data_path("ns/both/2024-02-01").resolve()))
    assert sorted(r.x for r in out.collect()) == [2, 10]


def test_db_query_and_export(workspace, spark, capsys):
    """End-to-end export parity with the reference's test_export_duckdb
    (reference tests/test_shelf.py:361-400): build two tables, export to a
    real DuckDB file, read it back, and assert exact CONTENTS under both
    the fully-qualified default naming and ``--short`` aliases."""
    from shelf_spark.framework.query import execute_query, export_tables
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths

    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/lit/2024-01-01", [])
    shelf.new_table("ns/pairs/2024-01-02", [])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "lit.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text("SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y'")
    script2 = paths.TABLE_SCRIPTS_DIR / "ns" / "pairs.sql"
    script2.write_text("SELECT 'k1' AS dim_key, 'v1' AS value, TIMESTAMP'2024-01-02 03:04:05' AS ts")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))

    # single-token sugar + short alias
    df = execute_query(spark, Shelf(), "lit")
    assert df.count() == 2
    out = capsys.readouterr().out
    assert '"a": 1' in out

    import duckdb

    # default naming: fully-qualified namespace_table_version
    db_full = workspace / "out_full.duckdb"
    names = export_tables(spark, Shelf(), db_full)
    assert sorted(names) == ["ns_lit_20240101", "ns_pairs_20240102"]
    con = duckdb.connect(str(db_full))
    assert con.execute(
        "SELECT a, b FROM ns_lit_20240101 ORDER BY a"
    ).fetchall() == [(1, "x"), (2, "y")]
    assert con.execute(
        "SELECT dim_key, value FROM ns_pairs_20240102"
    ).fetchall() == [("k1", "v1")]
    # a timestamp stays a naive TIMESTAMP, as DuckDB reads Spark's files
    import datetime as dt

    assert con.execute(
        "SELECT data_type FROM information_schema.columns "
        "WHERE table_name = 'ns_pairs_20240102' AND column_name = 'ts'"
    ).fetchall() == [("TIMESTAMP",)]
    assert con.execute("SELECT ts FROM ns_pairs_20240102").fetchall() == [
        (dt.datetime(2024, 1, 2, 3, 4, 5),)
    ]
    con.close()

    # --short aliases
    db = workspace / "out.duckdb"
    names = export_tables(spark, Shelf(), db, short_names=True)
    assert sorted(names) == ["lit", "pairs"]
    con = duckdb.connect(str(db))
    assert con.execute("SELECT a, b FROM lit ORDER BY a").fetchall() == [
        (1, "x"),
        (2, "y"),
    ]
    assert con.execute("SELECT dim_key, value FROM pairs").fetchall() == [
        ("k1", "v1")
    ]
    con.close()


def test_validation_gate(workspace, spark):
    """Failed validation unlinks the output so the step stays dirty."""
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths

    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/bad/2024-01-01", [])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "bad.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text("SELECT 1 AS a UNION ALL SELECT 1")
    script.with_suffix(".meta.yaml").write_text(
        "version: 1\nvalidation:\n  unique_columns: [a]\n"
    )
    with pytest.raises(Exception, match="validation failed"):
        execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert not paths.table_data_path("ns/bad/2024-01-01").exists()
    # still dirty
    assert prune_completed(Shelf().resolve_latest())


def test_db_repl_scripted(workspace, spark, monkeypatch, capsys):
    """The `shelf db` REPL (no query arg) driven by scripted stdin: runs
    SQL lines against registered views, reports errors without dying, and
    exits on blank input (⇄ reference's interactive duckdb shell, N28)."""
    from shelf_spark.framework.cli import main as cli
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths

    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/lit/2024-01-01", [])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "lit.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text("SELECT 41 AS a UNION ALL SELECT 1")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))

    lines = iter(["SELECT sum(a) AS total FROM lit", "not even sql", ""])
    monkeypatch.setattr("builtins.input", lambda prompt="": next(lines))
    assert cli(["db"]) == 0
    out, err = capsys.readouterr()
    assert "42" in out       # query result shown
    assert "error:" in err   # bad SQL reported, loop continued


def test_incremental_partition_rebuild(workspace, spark):
    """Partition-wise incremental build: after a dep gains one new day and
    changes another, ONLY those two output partitions are rewritten —
    untouched partitions keep their exact files (the 100 TB requirement:
    a table with one new day rebuilds one day, not the table)."""
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework import paths
    from shelf_spark.framework.utils import load_yaml

    Shelf.init()
    raw = workspace / "days.csv"
    raw.write_text("day,v\n1,10\n1,20\n2,5\n")
    Snapshot.create(raw, "ns/days/2024-01-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/days/2024-01-01"))
    shelf.new_table("ns/daily/2024-01-02", ["snapshot://ns/days/latest"])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "daily.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    # count(*) is a non-nullable column, which a read makes nullable
    script.write_text(
        "SELECT day, CAST(sum(v) AS BIGINT) AS total, count(*) AS n FROM {days} GROUP BY day"
    )
    script.with_suffix(".meta.yaml").write_text(
        "version: 1\nincremental:\n  partition_by: day\n"
    )

    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    out = paths.table_data_path("ns/daily/2024-01-02")
    rows = {(r.day, r.total) for r in spark.read.parquet(str(out.resolve())).collect()}
    assert rows == {(1, 30), (2, 5)}
    sidecar = load_yaml(paths.table_metadata_path("ns/daily/2024-01-02"))
    assert set(sidecar["partition_state"]) == {"1", "2"}
    # the sidecar splits the build's time into its parts
    execution = sidecar["execution"]
    for key in ("duration_seconds", "write_seconds", "validate_seconds",
                "checksum_seconds", "fingerprint_seconds"):
        assert execution[key] >= 0, key

    def part_files(day):
        d = out / f"day={day}"
        return {f.name: f.stat().st_mtime_ns for f in d.iterdir() if f.suffix == ".parquet"}

    day1_before = part_files(1)

    # new snapshot version: day 1 unchanged, day 2 modified, day 3 new
    raw2 = workspace / "days2.csv"
    raw2.write_text("day,v\n1,10\n1,20\n2,7\n3,100\n")
    import time as _t
    _t.sleep(0.05)  # ensure mtime resolution can't mask a rewrite
    Snapshot.create(raw2, "ns/days/2024-02-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/days/2024-02-01"))
    shelf.save()

    dag = prune_completed(Shelf().resolve_latest())
    assert StepURI.parse("table://ns/daily/2024-01-02") in dag
    execute_dag(spark, dag)

    rows = {(r.day, r.total) for r in spark.read.parquet(str(out.resolve())).collect()}
    assert rows == {(1, 30), (2, 7), (3, 100)}
    # day 1 files are byte-identical and untouched on disk
    assert part_files(1) == day1_before
    sidecar = load_yaml(paths.table_metadata_path("ns/daily/2024-01-02"))
    assert set(sidecar["partition_state"]) == {"1", "2", "3"}

    # everything fresh again
    assert prune_completed(Shelf().resolve_latest()) == {}


def test_sql_step_consumes_round2_dialect(workspace, spark):
    """A SQL build step may use any of the dialect surface the query tier
    pins (LATERAL subqueries, ordered listagg via array_sort) — the
    framework passes it to spark.sql untouched, like the reference hands
    its steps to DuckDB (reference src/shelf/tables.py:164-167)."""
    from shelf_spark.framework import paths
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed

    Shelf.init()
    raw = workspace / "vals.csv"
    raw.write_text(
        "grp,name,score\n"
        + "\n".join(f"{i % 2},n{i},{i * 10}" for i in range(10))
        + "\n"
    )
    Snapshot.create(raw, "ns/vals/2024-01-01")
    shelf = Shelf()
    shelf.new_table("ns/top/2024-01-02", ["snapshot://ns/vals/2024-01-01"])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "top.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text(
        """
        SELECT g.grp, c.name, c.score,
               array_join(array_sort(collect_list(c.name)
                 OVER (PARTITION BY g.grp)), ',') AS all_names
        FROM (SELECT DISTINCT grp FROM {vals}) g,
        LATERAL (
          SELECT name, score FROM {vals} v WHERE v.grp = g.grp
          ORDER BY score DESC, name LIMIT 2
        ) c
        """
    )
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    out = paths.table_data_path("ns/top/2024-01-02")
    df = spark.read.parquet(str(out.resolve()))
    rows = {(r.grp, r.name) for r in df.collect()}
    assert rows == {(0, "n8"), (0, "n6"), (1, "n9"), (1, "n7")}
    assert {r.all_names for r in df.collect()} == {"n6,n8", "n7,n9"}


# -- content hashes and listing ----------------------------------------------


def _daily_totals_step(workspace, days: int) -> str:
    """A snapshot ``ns/src`` of ``days`` days (two rows each) and an
    incremental SQL step ``ns/daily`` of per-day totals, partitioned by
    ``day``; returns the step's path."""
    from shelf_spark.framework import paths
    from shelf_spark.framework.snapshots import Snapshot

    Shelf.init()
    raw = workspace / "src.csv"
    raw.write_text("day,v\n" + "".join(f"{d},{d}\n{d},{10 * d}\n" for d in range(days)))
    Snapshot.create(raw, "ns/src/2024-01-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/src/2024-01-01"))
    shelf.new_table("ns/daily/2024-01-02", ["snapshot://ns/src/latest"])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "daily.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text("SELECT day, CAST(sum(v) AS BIGINT) AS total FROM {src} GROUP BY day")
    script.with_suffix(".meta.yaml").write_text(
        "version: 1\nincremental:\n  partition_by: day\n"
    )
    return "ns/daily/2024-01-02"


def test_many_partition_table_reads_without_listing_job(workspace, spark, monkeypatch):
    """A table with more partitions than Spark's parallel-discovery
    threshold (32) is listed on the driver, and reads of it carry the
    schema recorded at build: the build's own re-read submits no job, and
    a ``db`` query submits exactly the jobs of the same SQL over a view
    read before."""
    from shelf_spark.framework import paths, tables
    from shelf_spark.framework.query import execute_query
    from shelf_spark.framework.steps import execute_dag, prune_completed

    step = _daily_totals_step(workspace, 40)
    read_table, reread_jobs = tables.read_table, []

    def counted(spark_, uri, schema=None):
        if uri.path != step:  # the step's deps
            return read_table(spark_, uri, schema)
        got = []
        reread_jobs.append(jobs_submitted(spark, lambda: got.append(read_table(spark_, uri, schema))))
        return got[0]

    monkeypatch.setattr(tables, "read_table", counted)
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert reread_jobs == [[]]
    out = str(paths.table_data_path(step).resolve())
    assert len(list(Path(out).glob("day=*"))) == 40

    assert len(jobs_submitted(spark, lambda: spark.read.parquet(out))) <= 1
    # the same query over an already-read view, then through `db`, which
    # reads the table again with its recorded schema
    spark.read.parquet(out).createOrReplaceTempView("daily_direct")
    sql = "SELECT count(*) AS n, sum(total) AS t FROM {}"
    direct = jobs_submitted(spark, lambda: spark.sql(sql.format("daily_direct")).toPandas())
    via_db = jobs_submitted(
        spark, lambda: execute_query(spark, Shelf(), sql.format("daily"), out=io.StringIO())
    )
    assert len(via_db) == len(direct)


def test_logical_checksum_sees_a_value_move_between_null_columns(spark):
    """``(NULL, 1.0)`` and ``(1.0, NULL)`` differ: the row hash covers the
    null flags, which ``xxhash64`` alone skips, and hashes nested columns
    as JSON. Row order does not count."""
    from shelf_spark.framework.tables import logical_checksum

    ddl = "a double, b double, k int"
    left = spark.createDataFrame([(None, 1.0, 1), (2.0, 3.0, 2)], ddl)
    right = spark.createDataFrame([(1.0, None, 1), (2.0, 3.0, 2)], ddl)
    shuffled = spark.createDataFrame([(2.0, 3.0, 2), (None, 1.0, 1)], ddl)
    assert logical_checksum(left) != logical_checksum(right)
    assert logical_checksum(left) == logical_checksum(shuffled)
    # inside arrays xxhash64 skips NULLs as well
    nested = [spark.sql(f"SELECT array({a}) AS xs") for a in ("NULL, 1", "1, NULL")]
    assert logical_checksum(nested[0]) != logical_checksum(nested[1])


def test_map_column_step_builds_and_checksums(workspace, spark):
    """A SQL step with a ``map<string,int>`` output column builds (the
    native hash rejects maps, so they hash as JSON), and changing one map
    value changes the table checksum."""
    from shelf_spark.framework import paths
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.utils import load_yaml

    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/maps/2024-01-01", [])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "maps.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    sidecar = paths.table_metadata_path("ns/maps/2024-01-01")
    checksums = []
    for b in (2, 3):
        script.write_text(f"SELECT 1 AS k, map('a', 1, 'b', {b}) AS m")
        execute_dag(spark, prune_completed(Shelf().resolve_latest()))
        assert load_yaml(sidecar)["schema"]["m"] == "map<string,int>"
        checksums.append(load_yaml(sidecar)["checksum"])
    assert checksums[0] != checksums[1]


def test_partition_fingerprints_follow_one_row_change(spark):
    """Changing one row of one partition changes that partition's
    fingerprint and no other."""
    from shelf_spark.framework.tables import _partition_fingerprints

    rows = [(d, i, float(d * i)) for d in range(4) for i in range(5)]
    ddl = "day int, i int, x double"
    before = _partition_fingerprints(spark.createDataFrame(rows, ddl), "day")
    rows[7] = (1, 2, -1.0)  # day 1
    after = _partition_fingerprints(spark.createDataFrame(rows, ddl), "day")
    assert set(before) == set(after) == {"0", "1", "2", "3"}
    assert {k for k in before if before[k] != after[k]} == {"1"}


def test_old_format_partition_state_rebuilds_every_partition(workspace, spark):
    """A sidecar recorded by the earlier SHA-256 hash (``"<sum>|<n>"``
    entries), and without ``output_sums``, never matches the current
    fingerprints: the next run rewrites every partition instead of
    skipping any, re-sums its output and records the new shape."""
    from shelf_spark.framework import paths
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.utils import load_yaml, save_yaml

    step = _daily_totals_step(workspace, 3)
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    meta = paths.table_metadata_path(step)
    doc = load_yaml(meta)
    doc["partition_state"] = {k: f"{12345 + int(k)}|2" for k in doc["partition_state"]}
    del doc["output_sums"]
    save_yaml(doc, meta)
    out = paths.table_data_path(step)

    def files():
        return {f.relative_to(out): f.stat().st_mtime_ns for f in out.glob("day=*/*.parquet")}

    before = files()
    # a new snapshot version with the same rows dirties the step
    import time as _t
    _t.sleep(0.05)
    Snapshot.create(workspace / "src.csv", "ns/src/2024-02-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/src/2024-02-01"))
    shelf.save()
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    after = files()
    assert len({p.parent for p in after}) == 3
    assert not set(before.items()) & set(after.items())
    state = load_yaml(meta)["partition_state"]
    assert set(state) == {"0", "1", "2"}
    assert all(v.count("|") == 2 for v in state.values())
    assert set(load_yaml(meta)["output_sums"]) == {"0", "1", "2"}
    _sidecar_checksum_is_a_full_read(spark, StepURI.parse(f"table://{step}"))


# -- the schema recorded at build ----------------------------------------------


def test_string_partition_column_keeps_its_type(workspace, spark):
    """A string ``partition_by`` column whose values look like numbers
    (``"007"``) stays a string in every read: the build's re-read, a
    downstream step, ``db`` and ``export``. Spark's partition inference
    alone would read it back as the int 7."""
    import duckdb

    from shelf_spark.framework import paths
    from shelf_spark.framework.query import execute_query, export_tables
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.utils import load_yaml

    Shelf.init()
    raw = workspace / "src.json"
    raw.write_text(
        "".join(json.dumps({"code": c, "v": v}) + "\n" for c, v in (("007", 1), ("007", 2), ("010", 5)))
    )
    Snapshot.create(raw, "ns/src/2024-01-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/src/2024-01-01"))
    shelf.new_table("ns/coded/2024-01-02", ["snapshot://ns/src/latest"])
    shelf.new_table("ns/typed/2024-01-03", ["table://ns/coded/2024-01-02"])
    shelf.save()
    scripts = paths.TABLE_SCRIPTS_DIR / "ns"
    scripts.mkdir(parents=True, exist_ok=True)
    (scripts / "coded.sql").write_text(
        "SELECT code, CAST(sum(v) AS BIGINT) AS total FROM {src} GROUP BY code"
    )
    (scripts / "coded.meta.yaml").write_text("version: 1\nincremental:\n  partition_by: code\n")
    (scripts / "typed.sql").write_text("SELECT code, typeof(code) AS t FROM {coded}")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))

    # the build's re-read: the sidecar records its schema, partition last
    sidecar = load_yaml(paths.table_metadata_path("ns/coded/2024-01-02"))
    assert list(sidecar["schema"].items()) == [("total", "bigint"), ("code", "string")]
    assert set(sidecar["partition_state"]) == {"007", "010"}
    # a downstream step
    typed = spark.read.parquet(str(paths.table_data_path("ns/typed/2024-01-03").resolve()))
    assert sorted(tuple(r) for r in typed.collect()) == [("007", "string"), ("010", "string")]
    # db
    buf = io.StringIO()
    df = execute_query(spark, Shelf(), "SELECT code, total FROM coded ORDER BY code", out=buf)
    assert df.schema["code"].dataType.simpleString() == "string"
    assert json.loads(buf.getvalue()) == [{"code": "007", "total": 3}, {"code": "010", "total": 5}]
    # export
    db = workspace / "out.duckdb"
    assert sorted(export_tables(spark, Shelf(), db, short_names=True)) == ["coded", "typed"]
    con = duckdb.connect(str(db))
    try:
        assert con.execute("SELECT code, total FROM coded ORDER BY code").fetchall() == [
            ("007", 3),
            ("010", 5),
        ]
        assert con.execute(
            "SELECT data_type FROM information_schema.columns "
            "WHERE table_name = 'coded' AND column_name = 'code'"
        ).fetchall() == [("VARCHAR",)]
    finally:
        con.close()


def test_nested_field_names_round_trip(workspace, spark):
    """Struct fields named ``a b`` and ``c:d`` have no ``simpleString``
    that parses back; the sidecar's exact record does, so the table reads
    back with the schema of its SELECT, also as a downstream dep."""
    from pyspark.sql.types import StructType

    from shelf_spark.framework import paths
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.tables import read_table
    from shelf_spark.framework.utils import load_yaml

    select = "SELECT 1 AS k, named_struct('a b', 2, 'c:d', 'x') AS s"
    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/nested/2024-01-01", [])
    shelf.new_table("ns/flat/2024-01-02", ["table://ns/nested/2024-01-01"])
    shelf.save()
    scripts = paths.TABLE_SCRIPTS_DIR / "ns"
    scripts.mkdir(parents=True, exist_ok=True)
    (scripts / "nested.sql").write_text(select)
    (scripts / "flat.sql").write_text("SELECT s.`a b` AS ab, s.`c:d` AS cd FROM {nested}")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))

    got = read_table(spark, StepURI.parse("table://ns/nested/2024-01-01"))
    assert got.schema.simpleString() == spark.sql(select).schema.simpleString()
    assert got.schema["s"].dataType.fieldNames() == ["a b", "c:d"]
    recorded = load_yaml(paths.table_metadata_path("ns/nested/2024-01-01"))["schema_json"]
    assert StructType.fromJson(json.loads(recorded)) == got.schema
    assert [tuple(r) for r in got.collect()] == [(1, (2, "x"))]
    flat = read_table(spark, StepURI.parse("table://ns/flat/2024-01-02"))
    assert [tuple(r) for r in flat.collect()] == [(2, "x")]


def test_sidecar_without_schema_record_rebuilds_once(workspace, spark):
    """A sidecar without the exact schema record (written before reads
    used it) makes its step dirty, and a read of the table refuses it
    rather than inferring; one run records it again."""
    from shelf_spark.framework import paths
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.tables import read_table
    from shelf_spark.framework.utils import load_yaml, save_yaml

    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/lit/2024-01-01", [])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "lit.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text("SELECT 1 AS a")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    uri = StepURI.parse("table://ns/lit/2024-01-01")
    assert prune_completed(Shelf().resolve_latest()) == {}

    meta = paths.table_metadata_path(uri.path)
    doc = load_yaml(meta)
    del doc["schema_json"]
    save_yaml(doc, meta)
    assert uri in prune_completed(Shelf().resolve_latest())
    with pytest.raises(StepDefinitionError, match="no recorded schema"):
        read_table(spark, uri)

    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert prune_completed(Shelf().resolve_latest()) == {}
    assert [tuple(r) for r in read_table(spark, uri).collect()] == [(1,)]


def test_incremental_step_edit_rebuilds_every_partition(workspace, spark):
    """Editing an incremental step's SELECT while its deps stay the same
    rebuilds the whole table: the recorded partition state describes the
    old SELECT's rows. A changed value, then a renamed and an added
    column, read back with real values, not stale rows or NULLs."""
    from shelf_spark.framework import paths
    from shelf_spark.framework.query import execute_query
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.tables import read_table

    step = _daily_totals_step(workspace, 3)
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "daily.sql"
    uri = StepURI.parse(f"table://{step}")

    script.write_text("SELECT day, CAST(2 * sum(v) AS BIGINT) AS total FROM {src} GROUP BY day")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert sorted(tuple(r) for r in read_table(spark, uri).collect()) == [
        (0, 0), (22, 1), (44, 2)
    ]

    script.write_text(
        "SELECT day, CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n FROM {src} GROUP BY day"
    )
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert prune_completed(Shelf().resolve_latest()) == {}
    got = read_table(spark, uri)
    assert got.columns == ["sum_v", "n", "day"]
    assert sorted(tuple(r) for r in got.collect()) == [(0, 2, 0), (11, 2, 1), (22, 2, 2)]
    buf = io.StringIO()
    execute_query(spark, Shelf(), "SELECT day, sum_v, n FROM daily ORDER BY day", out=buf)
    assert json.loads(buf.getvalue()) == [
        {"day": d, "sum_v": 11 * d, "n": 2} for d in range(3)
    ]
    out = paths.table_data_path(step)
    assert len(list(out.glob("day=*"))) == 3


def test_table_without_sidecar_fails_no_other_query(workspace, spark, capsys):
    """A table whose output exists without its sidecar (a build stopped
    between the two) is left out of ``db`` and ``export`` with a note
    naming it; the other tables still answer."""
    import duckdb

    from shelf_spark.framework import paths
    from shelf_spark.framework.query import execute_query, export_tables
    from shelf_spark.framework.steps import execute_dag, prune_completed

    Shelf.init()
    shelf = Shelf()
    shelf.new_table("ns/lit/2024-01-01", [])
    shelf.new_table("ns/cut/2024-01-01", [])
    shelf.save()
    scripts = paths.TABLE_SCRIPTS_DIR / "ns"
    scripts.mkdir(parents=True, exist_ok=True)
    (scripts / "lit.sql").write_text("SELECT 41 AS a UNION ALL SELECT 1")
    (scripts / "cut.sql").write_text("SELECT 1 AS b")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    paths.table_metadata_path("ns/cut/2024-01-01").unlink()
    capsys.readouterr()

    buf = io.StringIO()
    execute_query(spark, Shelf(), "SELECT sum(a) AS total FROM lit", out=buf)
    assert json.loads(buf.getvalue()) == [{"total": 42}]
    assert "skipping ns/cut/2024-01-01" in capsys.readouterr().err
    db = workspace / "out.duckdb"
    assert export_tables(spark, Shelf(), db, short_names=True) == ["lit"]
    con = duckdb.connect(str(db))
    try:
        assert con.execute("SELECT sum(a) FROM lit").fetchall() == [(42,)]
    finally:
        con.close()


def test_dep_column_rename_rebuilds_incremental_step(workspace, spark):
    """A dep that renames a column keeps its values, and so its partition
    fingerprints: the incremental ``SELECT *`` over it still rebuilds in
    full, since its schema changed, and the new name reads back its
    values rather than NULL."""
    from shelf_spark.framework import paths
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.tables import read_table

    Shelf.init()
    raw = workspace / "src.csv"
    raw.write_text("day,v\n1,10\n2,20\n")
    Snapshot.create(raw, "ns/src/2024-01-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/src/2024-01-01"))
    shelf.new_table("ns/base/2024-01-02", ["snapshot://ns/src/latest"])
    shelf.new_table("ns/top/2024-01-03", ["table://ns/base/2024-01-02"])
    shelf.save()
    scripts = paths.TABLE_SCRIPTS_DIR / "ns"
    scripts.mkdir(parents=True, exist_ok=True)
    (scripts / "top.sql").write_text("SELECT * FROM {base}")
    (scripts / "top.meta.yaml").write_text("version: 1\nincremental:\n  partition_by: day\n")
    top = StepURI.parse("table://ns/top/2024-01-03")
    for name in ("x", "y"):
        (scripts / "base.sql").write_text(f"SELECT day, v AS {name} FROM {{src}}")
        execute_dag(spark, prune_completed(Shelf().resolve_latest()))
        got = read_table(spark, top)
        assert got.columns == [name, "day"]
        assert sorted(tuple(r) for r in got.collect()) == [(10, 1), (20, 2)]


# -- the checksum a SQL step's write observes --------------------------------


def _release(workspace, path: str, table) -> None:
    """Snapshot a pyarrow ``table`` as Parquet version ``path`` and list it
    in ``shelf.yaml``, so ``latest`` deps move to it."""
    import pyarrow.parquet as pq

    from shelf_spark.framework.snapshots import Snapshot

    raw = workspace / f"{path.replace('/', '_')}.parquet"
    pq.write_table(table, raw)
    Snapshot.create(raw, path)
    shelf = Shelf()
    shelf.add_step(StepURI.parse(f"snapshot://{path}"))
    shelf.save()


def _sidecar_checksum_is_a_full_read(spark, uri: StepURI) -> str:
    from shelf_spark.framework import paths
    from shelf_spark.framework.tables import logical_checksum, read_table
    from shelf_spark.framework.utils import load_yaml

    recorded = load_yaml(paths.table_metadata_path(uri.path))["checksum"]
    assert recorded == logical_checksum(read_table(spark, uri)), uri
    return recorded


def test_changed_partition_without_rows_is_removed(workspace, spark):
    """A changed dep day whose rows the SELECT now drops has no output
    rows: its refresh removes the day's old files, as a full build would
    (a dynamic overwrite writes nothing there, so it left them)."""
    import pyarrow as pa

    from shelf_spark.framework import paths
    from shelf_spark.framework.steps import execute_dag, prune_completed
    from shelf_spark.framework.tables import read_table
    from shelf_spark.framework.utils import load_yaml

    Shelf.init()
    _release(workspace, "ns/src/2024-01-01", pa.table({"day": [1, 2], "v": [10, 5]}))
    shelf = Shelf()
    shelf.new_table("ns/pos/2024-01-02", ["snapshot://ns/src/latest"])
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / "ns" / "pos.sql"
    script.parent.mkdir(parents=True, exist_ok=True)
    script.write_text("SELECT day, sum(v) AS total FROM {src} WHERE v > 0 GROUP BY day")
    script.with_suffix(".meta.yaml").write_text("version: 1\nincremental:\n  partition_by: day\n")
    uri = StepURI.parse("table://ns/pos/2024-01-02")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert {tuple(r) for r in read_table(spark, uri).collect()} == {(10, 1), (5, 2)}

    _release(workspace, "ns/src/2024-02-01", pa.table({"day": [1, 2], "v": [10, -5]}))
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert {tuple(r) for r in read_table(spark, uri).collect()} == {(10, 1)}
    assert [p.name for p in paths.table_data_path(uri.path).glob("day=*")] == ["day=1"]
    sidecar = load_yaml(paths.table_metadata_path(uri.path))
    assert set(sidecar["partition_state"]) == {"1", "2"}
    assert set(sidecar["output_sums"]) == {"1"}
    _sidecar_checksum_is_a_full_read(spark, uri)


#: an incremental SELECT per partition column, each over every hostile
#: column type, and a bucketed and a plain step
_HOSTILE_STEPS = {
    "by_code": (
        "SELECT code, CAST(sum(v) AS DECIMAL(20,2)) AS total, map('n', count(*)) AS m, "
        "array(array(min(v), NULL), NULL) AS nested FROM {src} WHERE v > 0 GROUP BY code",
        "incremental:\n  partition_by: code\n",
    ),
    "by_day": (
        "SELECT d, count(*) AS n, CAST(sum(v) AS DECIMAL(38,0)) AS total, "
        "map(max(code), min(v)) AS m FROM {src} WHERE v > 0 GROUP BY d",
        "incremental:\n  partition_by: d\n",
    ),
    "by_ts": (
        "SELECT ts, sort_array(collect_list(v)) AS vs, "
        "array(array(NULL, max(v))) AS nested FROM {src} WHERE v > 0 GROUP BY ts",
        "incremental:\n  partition_by: ts\n",
    ),
    "bucketed": (
        "SELECT code, d, ts, CAST(v AS DECIMAL(12,2)) AS v, map('v', v) AS m, "
        "array(array(v, NULL), NULL) AS nested FROM {src}",
        "bucketing:\n  keys: [code]\n  num_buckets: 3\n",
    ),
    "plain": ("SELECT code, d, ts, v FROM {src} WHERE v > 0", ""),
}


def test_write_time_checksum_equals_a_full_read(workspace, spark):
    """Every SQL step's recorded checksum, taken from sums observed in its
    write and, for an incremental step, from its partitions' recorded
    sums, equals ``logical_checksum`` over a full read of its output:
    after a cold build and after refreshes that change a key, add one,
    remove one, change one to no rows and rewrite one at the same size.
    ``''`` and NULL codes share one directory and read back as NULL; the
    day and the timestamp keys are partition columns too. A full rebuild
    at the end records the same checksums."""
    import datetime as dt

    import pyarrow as pa

    from shelf_spark.framework import paths
    from shelf_spark.framework.steps import execute_dag, prune_completed

    Shelf.init()
    rows = [  # code, day, v: each code has its own day and hour
        ("a", 1, 10), ("a", 1, 20), ("", 2, 5), (None, 2, 6), ("b", 3, 7), ("b", 3, 8),
    ]

    def release(version: str, rows) -> None:
        codes, days, vs = zip(*rows)
        _release(workspace, f"ns/src/{version}", pa.table({
            "code": pa.array(codes, pa.string()),
            "d": pa.array([dt.date(2024, 1, x) for x in days], pa.date32()),
            "ts": pa.array(
                [dt.datetime(2024, 1, x, 10, 30, 0, 250) for x in days], pa.timestamp("us", tz="UTC")
            ),
            "v": pa.array(vs, pa.int64()),
        }))

    release("2024-01-01", rows)
    shelf = Shelf()
    for name in _HOSTILE_STEPS:
        shelf.new_table(f"ns/{name}/2024-01-02", ["snapshot://ns/src/latest"])
    shelf.save()
    scripts = paths.TABLE_SCRIPTS_DIR / "ns"
    scripts.mkdir(parents=True, exist_ok=True)
    for name, (sql, cfg) in _HOSTILE_STEPS.items():
        (scripts / f"{name}.sql").write_text(sql)
        (scripts / f"{name}.meta.yaml").write_text("version: 1\n" + cfg)
    uris = [StepURI.parse(f"table://ns/{name}/2024-01-02") for name in _HOSTILE_STEPS]

    refreshes = [
        rows[:1] + [("a", 1, 21)] + rows[2:] + [("a", 1, 1)],  # a changed key
        rows + [("c", 4, 3)],  # a new key
        rows[:4] + [("c", 4, 3)],  # b removed
        rows[:4] + [("c", 4, -3)],  # c has no rows left
        rows[:2] + [("", 2, 9), (None, 2, 6), ("c", 4, -3)],  # '' rewritten, same size
    ]
    for i, version_rows in enumerate([rows] + refreshes):
        if i:
            release(f"2024-02-0{i}", version_rows)
        execute_dag(spark, prune_completed(Shelf().resolve_latest()))
        assert prune_completed(Shelf().resolve_latest()) == {}
        checksums = [_sidecar_checksum_is_a_full_read(spark, u) for u in uris]
    out = paths.table_data_path("ns/by_code/2024-01-02")
    assert sorted(p.name for p in out.glob("code=*")) == ["code=__HIVE_DEFAULT_PARTITION__", "code=a"]
    assert len(list(paths.table_data_path("ns/by_ts/2024-01-02").glob("ts=*"))) == 2

    for name in _HOSTILE_STEPS:  # an edited script builds in full
        script = scripts / f"{name}.sql"
        script.write_text(script.read_text() + "\n")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))
    assert [_sidecar_checksum_is_a_full_read(spark, u) for u in uris] == checksums


def test_sql_step_runs_no_job_after_its_write(workspace, spark, monkeypatch):
    """A one-partition refresh of an incremental step and the rebuild of
    a plain SQL step take their checksums from their writes: no job runs
    after the write, and nothing calls ``logical_checksum``. The builds
    run on this thread, which owns the job groups."""
    import uuid

    from shelf_spark.framework import paths, tables
    from shelf_spark.framework.snapshots import Snapshot
    from shelf_spark.framework.steps import execute_dag, prune_completed

    step = _daily_totals_step(workspace, 3)
    shelf = Shelf()
    shelf.new_table("ns/plain/2024-01-02", ["snapshot://ns/src/latest"])
    shelf.save()
    (paths.TABLE_SCRIPTS_DIR / "ns" / "plain.sql").write_text("SELECT day, v FROM {src} WHERE v > 0")
    execute_dag(spark, prune_completed(Shelf().resolve_latest()))

    raw = workspace / "src2.csv"
    raw.write_text("day,v\n0,0\n0,0\n1,1\n1,10\n2,2\n2,21\n")  # day 2 changed
    Snapshot.create(raw, "ns/src/2024-02-01")
    shelf = Shelf()
    shelf.add_step(StepURI.parse("snapshot://ns/src/2024-02-01"))
    shelf.save()
    dag = prune_completed(Shelf().resolve_latest())
    assert {u.path for u in dag} == {step, "ns/plain/2024-01-02"}

    def no_checksum_job(df):
        raise AssertionError("logical_checksum called for a SQL step")

    sc = spark.sparkContext
    after_write = f"after-write-{uuid.uuid4().hex}"
    exec_sql = tables._exec_sql_step

    def then_mark(*args):
        got = exec_sql(*args)
        sc.setJobGroup(after_write, "jobs after the write")
        return got

    with monkeypatch.context() as m:
        m.setattr(tables, "logical_checksum", no_checksum_job)
        m.setattr(tables, "_exec_sql_step", then_mark)
        for uri, deps in dag.items():
            assert jobs_submitted(spark, lambda: tables.build_table(spark, uri, deps)), uri
            assert list(sc.statusTracker().getJobIdsForGroup(after_write)) == [], uri
    assert prune_completed(Shelf().resolve_latest()) == {}
    _sidecar_checksum_is_a_full_read(spark, StepURI.parse(f"table://{step}"))
