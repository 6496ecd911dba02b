"""Metrics from one run: the end-to-end set and, for a traced run, the
per-layer set (spans joined with the Spark work credited to them).

Every traced run reports every per-layer metric; a layer a workload does
not exercise reads 0 there (no framework step runs on query_iterative,
no query operator on lake_refresh).
"""

from __future__ import annotations

from context import Context, dir_mb, median, tail
from eventlog import WORK_FIELDS, EventLog
from iterative import OPERATORS
from lake import INCREMENTAL, STEPS
from spans import Span

END_TO_END = (
    "setup_s",
    "cold_s",
    "warm_s",
    "query_s",
    "cpu_s",
    "peak_rss_mb",
    "stored_mb",
    "success_rate",
)

PER_LAYER = (
    # lake phases and their Spark work
    "lake.cold_build_s",
    "lake.refresh_s",
    "lake.db_query_s",
    "lake.cold_jobs",
    "lake.cold_tasks",
    "lake.cold_cpu_s",
    "lake.refresh_jobs",
    "lake.refresh_tasks",
    "lake.refresh_cpu_s",
    "lake.refresh_input_mb",
    # framework.tables (per refresh unless cold_)
    "tables.checksum_s",
    "tables.fingerprint_s",
    "tables.cold_checksum_s",
    "tables.cold_fingerprint_s",
    "tables.write_s",
    "tables.read_s",
    "tables.partitions_rewritten",
    "tables.rewrite_ratio",
    "tables.refresh_input_ratio",
    # framework.table_metadata, framework.snapshots (per refresh)
    "table_metadata.validate_s",
    "table_metadata.sidecar_s",
    "table_metadata.cold_validate_s",
    "snapshots.create_s",
    "snapshots.hashed_mb",
    # framework.steps
    "steps.execute_dag_s",
    "steps.critical_path_s",
    "steps.prune_s",
    "steps.noop_run_s",
    "steps.noop_jobs",
    # framework.query (per db query)
    "query.register_views_s",
    "query.listing_jobs",
    "query.sql_s",
    # per lake step
    *(f"step.{t}.cold_s" for t in STEPS),
    *(f"step.{t}.{m}" for t in INCREMENTAL for m in ("refresh_s", "refresh_jobs", "input_mb")),
    # queries (per timed pass)
    "queries.pass_s",
    "queries.cold_pass_s",
    "queries.body_s",
    "queries.body_jobs",
    "queries.action_s",
    "queries.action_jobs",
    "queries.tasks",
    "queries.cpu_s",
    "queries.shuffle_mb",
    "queries.spill_mb",
    "queries.gc_s",
    "data.register_views_s",
    *(f"op.{n}.{m}" for n in OPERATORS for m in ("body_s", "jobs")),
    # session and the Spark log
    "session.start_s",
    "spark.block_exists_warns",
    "spark.accumulator_errors",
    "trace.spans",
)

_UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "success_rate": "ratio"}


def unit(name: str) -> str:
    for suffix, u in _UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def timing_summary(ctx: Context) -> dict[str, dict]:
    """Median, tail percentile and sample count of every timing."""
    out = {}
    for name, values in ctx.samples.items():
        rec = {"median": median(values), "n": len(values)}
        t = tail(values)
        if t:
            rec[f"p{t[0]:g}"] = t[1]
        out[name] = rec
    return out


def end_to_end(ctx: Context, events: EventLog, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    cpu = [events.in_window(a, b)["cpu_s"] for a, b in ctx.warm_windows]
    stored = ctx.facts.get("stored_mb") or dir_mb(ctx.corpus_dir)
    return {
        "setup_s": setup_s,
        "cold_s": median(ctx.samples.get("cold_s", [])),
        "warm_s": median(ctx.samples.get("warm_s", [])),
        "query_s": median(ctx.samples.get("query_s", [])),
        "cpu_s": median(cpu),
        "peak_rss_mb": peak_rss_mb,
        "stored_mb": stored,
        "success_rate": 1.0 - ctx.failed / max(ctx.attempted, 1),
    }


class _Work:
    """Spark work per span, inclusive of the spans below it."""

    def __init__(self, ctx: Context, events: EventLog):
        self.tr = ctx.tracer
        self.by_label = events.by_label()

    def of(self, span: Span) -> dict[str, float]:
        out = dict.fromkeys(WORK_FIELDS, 0.0)
        for sid in self.tr.descendants(span):
            for k, v in self.by_label.get(sid, {}).items():
                out[k] += v
        return out


def _secs(spans: list[Span]) -> float:
    return sum(s.seconds for s in spans)


def per_layer(ctx: Context, events: EventLog, session_s: float, log_counts: dict[str, int]) -> dict[str, float]:
    tr = ctx.tracer
    work = _Work(ctx, events)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["spark.block_exists_warns"] = log_counts["block_exists"]
    m["spark.accumulator_errors"] = log_counts["accumulator"]
    m["trace.spans"] = len(tr.spans)
    _lake(ctx, work, m)
    _queries(ctx, work, m)
    assert set(m) == set(PER_LAYER), sorted(set(m) ^ set(PER_LAYER))
    return m


def _builds(tr, outer: Span, step: str | None = None) -> list[Span]:
    return [s for s in tr.within(outer, "steps.build_table") if step is None or s.attrs.get("step") == step]


def _write_self(tr, outer: Span) -> float:
    """Time in the SQL-step executor outside its dep reads and
    fingerprints: planning plus the Parquet write."""
    total = 0.0
    for ex in tr.within(outer, "tables.exec_sql"):
        inner = tr.within(ex, "tables.partition_fingerprints") + tr.within(ex, "spark.read_parquet")
        total += ex.seconds - _secs(inner)
    return total


def _lake(ctx: Context, work: _Work, m: dict[str, float]) -> None:
    tr = ctx.tracer
    cold = tr.named("lake.cold_build")
    if not cold:
        return
    cold = cold[0]
    refreshes = tr.named("lake.refresh")
    dbq = tr.named("lake.db_query")

    def per_refresh(fn) -> float:
        return median([fn(r) for r in refreshes])

    cw = work.of(cold)
    m["lake.cold_build_s"] = cold.seconds
    m["lake.cold_jobs"], m["lake.cold_tasks"], m["lake.cold_cpu_s"] = cw["jobs"], cw["tasks"], cw["cpu_s"]
    m["lake.refresh_s"] = median([r.seconds for r in refreshes])
    m["lake.db_query_s"] = median([d.seconds for d in dbq])
    for key in ("jobs", "tasks", "cpu_s", "input_mb"):
        m[f"lake.refresh_{key}"] = per_refresh(lambda r: work.of(r)[key])

    m["tables.checksum_s"] = per_refresh(lambda r: _secs(tr.within(r, "tables.logical_checksum")))
    m["tables.fingerprint_s"] = per_refresh(lambda r: _secs(tr.within(r, "tables.partition_fingerprints")))
    m["tables.cold_checksum_s"] = _secs(tr.within(cold, "tables.logical_checksum"))
    m["tables.cold_fingerprint_s"] = _secs(tr.within(cold, "tables.partition_fingerprints"))
    m["tables.write_s"] = per_refresh(lambda r: _write_self(tr, r))
    m["tables.read_s"] = per_refresh(
        lambda r: sum(_secs(tr.within(b, "spark.read_parquet")) for b in _builds(tr, r))
    )
    rewritten = [sum(v) for v in zip(*(ctx.samples.get(f"{t}.rewritten", []) for t in INCREMENTAL))]
    m["tables.partitions_rewritten"] = median(rewritten)
    m["tables.rewrite_ratio"] = median(rewritten) / len(INCREMENTAL)
    changed_mb = ctx.facts.get("changed_input_mb", 0.0)
    if changed_mb:
        m["tables.refresh_input_ratio"] = per_refresh(
            lambda r: sum(work.of(b)["input_mb"] for t in INCREMENTAL for b in _builds(tr, r, t))
        ) / changed_mb

    m["table_metadata.validate_s"] = per_refresh(lambda r: _secs(tr.within(r, "table_metadata.validate_df")))
    m["table_metadata.sidecar_s"] = per_refresh(lambda r: _secs(tr.within(r, "table_metadata.write_sidecar")))
    m["table_metadata.cold_validate_s"] = _secs(tr.within(cold, "table_metadata.validate_df"))
    m["snapshots.create_s"] = per_refresh(lambda r: _secs(tr.within(r, "snapshots.create")))
    m["snapshots.hashed_mb"] = per_refresh(
        lambda r: sum(s.attrs.get("bytes", 0) for s in tr.within(r, "snapshots.checksum_file")) / 1e6
    )

    m["steps.execute_dag_s"] = _secs(tr.within(cold, "steps.execute_dag"))
    m["steps.prune_s"] = _secs(tr.within(cold, "steps.prune_completed"))
    m["steps.critical_path_s"] = _critical_path({b.attrs["step"]: b.seconds for b in _builds(tr, cold)})
    noop = tr.named("lake.noop_run")
    if noop:
        m["steps.noop_run_s"] = noop[0].seconds
        m["steps.noop_jobs"] = work.of(noop[0])["jobs"]

    regs = [tr.within(d, "query.register_shelf_views") for d in dbq]
    m["query.register_views_s"] = median([_secs(r) for r in regs])
    m["query.listing_jobs"] = median([sum(work.of(s)["jobs"] for s in r) for r in regs])
    m["query.sql_s"] = median(
        [_secs(tr.within(d, "query.execute_query")) - _secs(r) for d, r in zip(dbq, regs)]
    )

    for t in STEPS:
        m[f"step.{t}.cold_s"] = _secs(_builds(tr, cold, t))
    for t in INCREMENTAL:
        m[f"step.{t}.refresh_s"] = per_refresh(lambda r: _secs(_builds(tr, r, t)))
        m[f"step.{t}.refresh_jobs"] = per_refresh(lambda r: sum(work.of(b)["jobs"] for b in _builds(tr, r, t)))
        m[f"step.{t}.input_mb"] = per_refresh(lambda r: sum(work.of(b)["input_mb"] for b in _builds(tr, r, t)))


def _critical_path(durations: dict[str, float]) -> float:
    """Longest chain of build times along the DAG's table-to-table edges."""
    memo: dict[str, float] = {}

    def longest(t: str) -> float:
        if t not in memo:
            ups = [d.split("/")[-2] for d in STEPS[t][0] if d.startswith("table://")]
            memo[t] = durations.get(t, 0.0) + max((longest(u) for u in ups), default=0.0)
        return memo[t]

    return max((longest(t) for t in STEPS), default=0.0)


def _queries(ctx: Context, work: _Work, m: dict[str, float]) -> None:
    tr = ctx.tracer
    passes = tr.named("queries.pass")
    if not passes:
        return

    def per_pass(fn) -> float:
        return median([fn(p) for p in passes])

    m["queries.pass_s"] = per_pass(lambda p: p.seconds)
    m["queries.cold_pass_s"] = _secs(tr.named("queries.cold_pass"))
    for part in ("body", "action"):
        m[f"queries.{part}_s"] = per_pass(lambda p: _secs(tr.within(p, f"queries.{part}")))
        m[f"queries.{part}_jobs"] = per_pass(
            lambda p: sum(work.of(s)["jobs"] for s in tr.within(p, f"queries.{part}"))
        )
    for key in ("tasks", "cpu_s", "shuffle_mb", "spill_mb", "gc_s"):
        m[f"queries.{key}"] = per_pass(lambda p: work.of(p)[key])
    # registration is cached per session: its work happens in the cold pass
    m["data.register_views_s"] = sum(_secs(tr.within(c, "data.register_views")) for c in tr.named("queries.cold_pass"))
    for name in OPERATORS:
        ops = [o for p in passes for o in tr.within(p, "queries.op") if o.attrs.get("op") == name]
        m[f"op.{name}.body_s"] = median([_secs(tr.within(o, "queries.body")) for o in ops])
        m[f"op.{name}.jobs"] = median([work.of(o)["jobs"] for o in ops])


def span_records(ctx: Context, events: EventLog) -> list[dict]:
    """Every span with the Spark work credited to it directly."""
    by_label = events.by_label()
    out = []
    for rec in ctx.tracer.records():
        own = by_label.get(rec["id"])
        if own:
            rec["work"] = {k: round(v, 6) for k, v in own.items()}
        out.append(rec)
    return out
