"""``lake_refresh``: the framework layer end to end.

Raw snapshot files derived from the corpus feed a five-step SQL DAG:

- ``lineitem_daily``: incremental, partitioned by ship day (LAKE_DAYS
  partitions);
- ``events_daily``: incremental, partitioned by event day (30 partitions);
- ``orders_bucketed``: bucketed on the customer key;
- ``customer_orders``: joins customers to the bucketed orders and
  validates ``unique_columns``;
- ``monthly_revenue``: downstream of ``lineitem_daily``.

Phases: ingest + cold ``run``, a no-op ``run``, then refreshes for the
measured seconds (and at least MIN_REFRESHES of them): one changed day
of lineitem and one of events, ingested as new snapshot versions, then
an incremental ``run``, each followed by one ``db`` query through
``execute_query``. The seed picks the changed days. Every built table
is recomputed with DuckDB from the snapshot Parquet after the cold build
and after the last refresh; after each refresh the files of unchanged
partitions must be untouched, and after the last one the DAG must be
empty.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from context import Context, compare, dir_mb

#: ship days kept in the lake's lineitem; every base row maps onto one
LAKE_DAYS = 120
TABLE_VERSION = "2024-01-01"
#: refreshes measured even when the seconds run out first, so that the
#: median never rests on the first, JIT-cold refresh alone
MIN_REFRESHES = 3

SNAPSHOTS = ("lineitem", "events", "orders", "customer")

#: table -> (deps, SQL over {dep} views, table config)
STEPS: dict[str, tuple[list[str], str, str]] = {
    "lineitem_daily": (
        ["snapshot://lake/lineitem/latest"],
        "SELECT day, l_returnflag, l_linestatus, count(*) AS n_lines, "
        "CAST(sum(l_quantity) AS BIGINT) AS qty, "
        "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue "
        "FROM {lineitem} GROUP BY day, l_returnflag, l_linestatus",
        "version: 1\nincremental:\n  partition_by: day\n",
    ),
    "events_daily": (
        ["snapshot://lake/events/latest"],
        "SELECT day, event_type, count(*) AS n_events, "
        "count(DISTINCT user_id) AS n_users, "
        "sum(CAST(value AS DECIMAL(12,2))) AS total "
        "FROM {events} GROUP BY day, event_type",
        "version: 1\nincremental:\n  partition_by: day\n",
    ),
    "orders_bucketed": (
        ["snapshot://lake/orders/latest"],
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, "
        "CAST(o_orderdate AS DATE) AS o_orderdate FROM {orders}",
        "version: 1\nbucketing:\n  keys: [o_custkey]\n  num_buckets: 8\n",
    ),
    "customer_orders": (
        ["snapshot://lake/customer/latest", f"table://lake/orders_bucketed/{TABLE_VERSION}"],
        "SELECT c.c_custkey, c.c_mktsegment, count(o.o_orderkey) AS n_orders, "
        "coalesce(sum(o.o_totalprice), 0) AS spend "
        "FROM {customer} c LEFT JOIN {orders_bucketed} o ON c.c_custkey = o.o_custkey "
        "GROUP BY c.c_custkey, c.c_mktsegment",
        "version: 1\nvalidation:\n  unique_columns: [c_custkey]\n  not_null: [c_custkey]\n",
    ),
    "monthly_revenue": (
        [f"table://lake/lineitem_daily/{TABLE_VERSION}"],
        "SELECT year(day) AS yr, month(day) AS mon, sum(n_lines) AS n_lines, "
        "sum(qty) AS qty, sum(revenue) AS revenue "
        "FROM {lineitem_daily} GROUP BY year(day), month(day)",
        "",
    ),
}

INCREMENTAL = ("lineitem_daily", "events_daily")

#: ad-hoc queries, run in turn after each refresh (integer results, so
#: the JSON output compares exactly)
DB_QUERIES = (
    "SELECT l_returnflag, sum(n_lines) AS n, sum(qty) AS qty FROM lineitem_daily "
    "WHERE day >= DATE '1995-03-01' GROUP BY l_returnflag",
    "SELECT c_mktsegment, count(*) AS customers, sum(n_orders) AS orders "
    "FROM customer_orders GROUP BY c_mktsegment",
    "SELECT event_type, sum(n_events) AS n, max(n_users) AS peak_users "
    "FROM events_daily GROUP BY event_type",
)


def raw_inputs(corpus_dir: Path) -> dict[str, pa.Table]:
    """Version-0 raw files: lineitem and events gain a ``day`` column."""
    li = pq.read_table(corpus_dir / "lineitem.parquet")
    day0 = np.datetime64(gen.SHIP_DAY0, "D")
    offsets = (li["l_shipdate"].to_numpy().astype("datetime64[D]") - day0).astype(np.int64) % LAKE_DAYS
    li = li.append_column("day", pa.array(day0 + offsets.astype("timedelta64[D]"), pa.date32()))
    ev = pq.read_table(corpus_dir / "events.parquet")
    ev = ev.append_column("day", pa.array(ev["ts"].to_numpy().astype("datetime64[D]"), pa.date32()))
    return {
        "lineitem": li,
        "events": ev,
        "orders": pq.read_table(corpus_dir / "orders.parquet"),
        "customer": pq.read_table(corpus_dir / "customer.parquet"),
    }


def perturb(raw: dict[str, pa.Table], seed: int, i: int) -> tuple[dict[str, pa.Table], dict[str, str]]:
    """Refresh ``i``: change every row of one lineitem day and one events
    day. Returns the new lineitem/events tables and the changed days."""
    rng = np.random.default_rng([seed, i])
    li, ev = raw["lineitem"], raw["events"]
    li_day = np.datetime64(gen.SHIP_DAY0, "D") + int(rng.integers(0, LAKE_DAYS))
    ev_day = np.datetime64(gen.EVENT_DAY0.date(), "D") + int(rng.integers(0, gen.EVENT_DAYS))
    hit = li["day"].to_numpy() == li_day
    qty = li["l_quantity"].to_numpy()
    li = li.set_column(
        li.schema.get_field_index("l_quantity"), "l_quantity", pa.array(np.where(hit, qty % 50 + 1, qty))
    )
    hit = ev["day"].to_numpy() == ev_day
    val = ev["value"].to_numpy()
    ev = ev.set_column(
        ev.schema.get_field_index("value"), "value", pa.array(np.where(hit, np.round(val + 0.01, 2), val))
    )
    return {"lineitem": li, "events": ev}, {
        "lineitem_daily": str(li_day),
        "events_daily": str(ev_day),
    }


class Lake:
    def __init__(self, ctx: Context):
        from shelf_spark.framework import paths

        self.ctx = ctx
        self.root = ctx.work / "lake"
        self.raw_dir = ctx.work / "raw"
        self.paths = paths
        self.version = 0
        self.raw: dict[str, pa.Table] = {}
        self.changed: dict[str, str] = {}
        self.staged: dict[str, Path] = {}

    # -- inputs ----------------------------------------------------------------

    def prepare(self) -> None:
        """Derive and write the version-0 raw files (part of set-up)."""
        self.raw = raw_inputs(self.ctx.corpus_dir)
        self._write_raw(SNAPSHOTS, 0)

    def stage(self, i: int) -> None:
        """Write refresh ``i``'s raw files: the user's new input, untimed."""
        new, self.changed = perturb(self.raw, self.ctx.seed, i)
        self.raw.update(new)
        self._write_raw(new, i)

    def _write_raw(self, names, i: int) -> None:
        self.raw_dir.mkdir(parents=True, exist_ok=True)
        for name in names:
            path = self.raw_dir / f"{name}-{self._version(i)}.parquet"
            pq.write_table(self.raw[name], path)
            self.staged[name] = path

    @staticmethod
    def _version(i: int) -> str:
        return (dt.date(2024, 1, 1) + dt.timedelta(days=i)).isoformat()

    def _ingest(self, names, i: int) -> None:
        from shelf_spark.framework import snapshots
        from shelf_spark.framework.core import Shelf
        from shelf_spark.framework.types import StepURI

        shelf = Shelf()
        for name in names:
            snapshots.Snapshot.create(self.staged[name], f"lake/{name}/{self._version(i)}")
            shelf.add_step(StepURI.parse(f"snapshot://lake/{name}/{self._version(i)}"))
        shelf.save()

    # -- phases ----------------------------------------------------------------

    def init(self) -> None:
        from shelf_spark.framework.core import Shelf

        self.root.mkdir(parents=True)
        os.chdir(self.root)
        Shelf.init()
        self._ingest(SNAPSHOTS, 0)
        shelf = Shelf()
        for table, (deps, sql, cfg) in STEPS.items():
            shelf.new_table(f"lake/{table}/{TABLE_VERSION}", deps)
            script = self.paths.TABLE_SCRIPTS_DIR / "lake" / f"{table}.sql"
            script.parent.mkdir(parents=True, exist_ok=True)
            script.write_text(sql + "\n")
            if cfg:
                script.with_suffix(".meta.yaml").write_text(cfg)
        shelf.save()

    def run_dag(self) -> int:
        """``shelf run``: prune, then execute what is dirty. Returns the
        number of steps executed."""
        from shelf_spark.framework import steps
        from shelf_spark.framework.core import Shelf

        dag = steps.prune_completed(Shelf().resolve_latest())
        if dag:
            steps.execute_dag(self.ctx.spark, dag, progress=lambda _msg: None)
        return len(dag)

    def refresh(self, i: int) -> None:
        """``shelf snapshot`` of the staged inputs, then ``shelf run``."""
        self._ingest(("lineitem", "events"), i)
        self.run_dag()

    def db_query(self, sql: str) -> list[dict]:
        from shelf_spark.framework import query
        from shelf_spark.framework.core import Shelf

        buf = io.StringIO()
        query.execute_query(self.ctx.spark, Shelf(), sql, out=buf)
        return json.loads(buf.getvalue())

    # -- checks ----------------------------------------------------------------

    def table_dir(self, table: str) -> Path:
        return self.paths.table_data_path(f"lake/{table}/{TABLE_VERSION}").resolve()

    def partition_files(self, table: str) -> dict[str, dict[str, int]]:
        out = {}
        base = self.table_dir(table)
        for part in sorted(base.glob("day=*")):
            out[part.name.split("=", 1)[1]] = {
                f.name: f.stat().st_mtime_ns for f in part.iterdir()
            }
        return out

    def _duck(self) -> duckdb.DuckDBPyConnection:
        """DuckDB views: each snapshot's latest raw file, and each built
        table recomputed from those files alone."""
        con = duckdb.connect()
        latest = self._version(self.version)
        for name in SNAPSHOTS:
            v = latest if name in ("lineitem", "events") else self._version(0)
            path = self.paths.snapshot_data_path(f"lake/{name}/{v}", ".parquet").resolve()
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for table, (deps, sql, _cfg) in STEPS.items():
            names = {d.rsplit("/", 2)[-2]: d.rsplit("/", 2)[-2] for d in deps}
            con.execute(f"CREATE VIEW {table} AS {sql.format(**names)}")
        return con

    def _built(self, con: duckdb.DuckDBPyConnection, table: str) -> str:
        base = self.table_dir(table)
        if table in INCREMENTAL:
            return (
                f"SELECT * REPLACE (CAST(day AS DATE) AS day) FROM read_parquet("
                f"'{base}/*/*.parquet', hive_partitioning = true)"
            )
        return f"SELECT * FROM read_parquet('{base}/*.parquet')"

    def check_tables(self) -> str | None:
        con = self._duck()
        try:
            for table in STEPS:
                exp = con.execute(f"SELECT * FROM {table}")
                ecols = [d[0] for d in exp.description]
                erows = exp.fetchall()
                got = con.execute(self._built(con, table))
                gcols = [d[0] for d in got.description]
                diff = compare(gcols, got.fetchall(), ecols, erows)
                if diff:
                    return f"{table}: {diff}"
        finally:
            con.close()
        return None

    def check_db(self, sql: str, records: list[dict]) -> str | None:
        con = duckdb.connect()
        try:
            for table in STEPS:
                con.execute(f"CREATE VIEW {table} AS {self._built(con, table)}")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            con.close()
        got_cols = list(records[0]) if records else cols
        got = [tuple(r[c] for c in got_cols) for r in records]
        return compare(got_cols, got, cols, rows)

    def dag_is_empty(self) -> bool:
        from shelf_spark.framework import steps
        from shelf_spark.framework.core import Shelf

        return steps.prune_completed(Shelf().resolve_latest()) == {}


def run(ctx: Context, lake: Lake) -> None:
    tr = ctx.tracer
    with tr.span("lake.ingest"):
        ok, _ = ctx.operation("ingest", lake.init)
    if not ok:
        return
    with tr.span("lake.cold_build") as sp:
        ok, _ = ctx.operation("cold build", lake.run_dag)
    ctx.sample("cold_s", sp.seconds)
    if not ok:
        return
    ctx.facts["stored_mb"] = dir_mb(lake.root)
    diff = lake.check_tables()
    if diff:
        ctx.wrong("cold build", diff)
    with tr.span("lake.noop_run") as sp:
        ok, n = ctx.operation("no-op run", lake.run_dag)
    ctx.facts["noop_run_s"] = sp.seconds
    if ok and n:
        ctx.wrong("no-op run", f"{n} steps were dirty")

    start = time.perf_counter()
    i = 0
    while i < MIN_REFRESHES or time.perf_counter() - start < ctx.seconds:
        i += 1
        lake.version = i
        lake.stage(i)
        changed = lake.changed
        before = {t: lake.partition_files(t) for t in INCREMENTAL}
        with tr.span("lake.refresh", i=i) as sp:
            ok, _ = ctx.operation(f"refresh {i}", lake.refresh, i)
        if not ok:
            break
        ctx.sample("warm_s", sp.seconds)
        ctx.warm_windows.append((sp.start, sp.end))
        for table in INCREMENTAL:
            after = lake.partition_files(table)
            rewritten = {p for p in after if after[p] != before[table].get(p)}
            ctx.sample(f"{table}.rewritten", len(rewritten))
            if rewritten - {changed[table]}:
                ctx.wrong(f"refresh {i}", f"{table} rewrote unchanged partitions {sorted(rewritten - {changed[table]})[:3]}")
        sql = DB_QUERIES[(i - 1) % len(DB_QUERIES)]
        with tr.span("lake.db_query", i=i) as sp:
            ok, records = ctx.operation(f"db query {i}", lake.db_query, sql)
        ctx.sample("query_s", sp.seconds)
        if ok:
            diff = lake.check_db(sql, records)
            if diff:
                ctx.wrong(f"db query {i}", diff)
    ctx.facts["refreshes"] = i
    diff = lake.check_tables()
    if diff:
        ctx.wrong(f"refresh {i}", diff)
    if not lake.dag_is_empty():
        ctx.wrong(f"refresh {i}", "DAG not empty after the refresh")
    ctx.facts["changed_input_mb"] = _changed_input_mb(lake)


def _changed_input_mb(lake: Lake) -> float:
    """Raw-file megabytes one refresh changes: each changed input's file
    size times the share of its rows in the changed day."""
    total = 0.0
    for name, table in (("lineitem", "lineitem_daily"), ("events", "events_daily")):
        days = lake.raw[name]["day"].to_numpy()
        share = float(np.mean(days == np.datetime64(lake.changed[table], "D")))
        path = lake.paths.snapshot_data_path(f"lake/{name}/{lake._version(lake.version)}", ".parquet")
        total += os.path.getsize(path) / 1e6 * share
    return total
