"""``query_iterative``: passes over the job-count-bound query operators.

One operation is the registered function call (the *body*: eager pins,
iteration rounds, driver collects) followed by a ``noop`` write of the
returned DataFrame (the *action*). The first pass is the cold pass: each
operator's result is collected and checked against its DuckDB oracle
(the check itself is not timed). Timed passes follow, back to back, for
the measured seconds and at least MIN_PASSES times. The seed picks each
pass's operator order.
"""

from __future__ import annotations

import random
import time

import duckdb

from context import Context, compare

#: one operator per iteration mechanism: BFS frontier rounds, HITS power
#: iteration, k-core peeling, and star contraction (``star_components``)
#: over a graph and over document shingles
OPERATORS = (
    "graph_bfs_distances",
    "graph_hits",
    "graph_kcore",
    "graph_connected_components",
    "dedup_near_dup_clusters",
)


#: timed passes run even when the seconds run out first: the first pass
#: after the cold one is still JIT-warming, so a median needs a second
MIN_PASSES = 2


def _oracle(con: duckdb.DuckDBPyConnection, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def run(ctx: Context) -> None:
    from shelf_spark.data import TABLES, table_path
    from shelf_spark.queries import ORACLES, QUERIES

    sf = str(ctx.corpus_dir)
    tr = ctx.tracer
    rng = random.Random(ctx.seed)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf, t)}')")

    # cold pass: collect + oracle check
    order = rng.sample(OPERATORS, len(OPERATORS))
    cold = 0.0
    with tr.span("queries.cold_pass"):
        for name in order:
            with tr.span("queries.check", op=name) as sp:
                ok, got = ctx.operation(name, lambda: _collect(QUERIES[name](ctx.spark, sf)))
            cold += sp.seconds
            if ok:
                diff = compare(*got, *_oracle(con, ORACLES[name]))
                if diff:
                    ctx.wrong(name, diff)
    con.close()
    ctx.sample("cold_s", cold)

    start = time.perf_counter()
    p = 0
    while p < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
        p += 1
        order = rng.sample(OPERATORS, len(OPERATORS))
        with tr.span("queries.pass", p=p) as pass_span:
            for name in order:
                with tr.span("queries.op", op=name) as sp:
                    ctx.operation(name, _one, ctx, QUERIES[name], sf)
                ctx.sample("query_s", sp.seconds)
        ctx.sample("warm_s", pass_span.seconds)
        ctx.warm_windows.append((pass_span.start, pass_span.end))
    ctx.facts["passes"] = p


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _one(ctx: Context, fn, sf: str) -> None:
    tr = ctx.tracer
    with tr.span("queries.body"):
        df = fn(ctx.spark, sf)
    with tr.span("queries.action"):
        df.write.format("noop").mode("overwrite").save()
