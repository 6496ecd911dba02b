"""SQL-surface completeness: boolean/filtered aggregates and
error-safe (TRY) arithmetic — the last small dialect corners a shelf
user's DuckDB SQL steps would exercise (reference delegates all SQL,
src/shelf/tables.py:155-181).

Both are map-side-trivial: one partial+final agg, and a pure projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .num import _round_ieee, _sql_round_ieee, sql_dsum_i
from .pin import pin
from .registry import query


@query(
    "agg_boolean",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
           bool_and(l_quantity > 0)     AS all_positive_qty,
           bool_or(l_discount > 0.09)   AS any_deep_discount
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean & filtered aggregates (count_if / bool_and / bool_or) —
    integer/boolean-exact, one partial+final hash agg."""
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
            F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "fn_try_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN (l_quantity - l_quantity) = 0 THEN NULL
                ELSE l_extendedprice / (l_quantity - l_quantity) END AS safe_div_zero,
           {up} AS unit_price,
           TRY_CAST(l_returnflag AS INTEGER)                          AS flag_as_int,
           coalesce(TRY_CAST(l_returnflag AS INTEGER), -1)            AS flag_or_default
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    LIMIT 1000
    """.format(up=_sql_round_ieee("l_extendedprice / nullif(l_quantity, 0)", 2)),
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic surface: try_divide (NULL on zero), nullif
    guards, try_cast (NULL on malformed), coalesce defaults — a pure
    projection that never aborts a 100 TB job on one bad row (ANSI-mode
    Spark would; the try_* family is the sanctioned escape).

    Scale note (measured, SCALE.md r9): a bare ``try_cast`` over an
    always-malformed string column costs ~8 µs/row — the JVM throws and
    catches a NumberFormatException PER ROW (4.8 s vs 0.3 s for the
    same cast over parseable strings at sf0.1). The rlike pre-guard
    below short-circuits the exception path while preserving try_cast
    semantics on this column's domain (and on any string whose only
    whitespace is \\s-matchable): guard-false rows yield NULL (what
    try_cast returns for them), guard-true rows still go through
    try_cast (so overflow stays NULL-safe). Known edge: Spark's
    string→int cast trims ISO control characters that Java regex \\s
    does not match (e.g. '\\x0112' → bare try_cast 12, guarded NULL) —
    irrelevant on l_returnflag's A/N/R domain, so the guard is exact
    here; broaden it before reusing on arbitrary dirty columns. At
    100 TB a bare try_cast on a dirty column is a silent 16×
    projection tax."""
    li = spark.table("lineitem")
    flag_int = F.when(
        F.col("l_returnflag").rlike(r"^\s*[+-]?\d+\s*$"),
        F.col("l_returnflag").try_cast("int"),
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.try_divide(
                F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity")
            ).alias("safe_div_zero"),
            _round_ieee(
                F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0)), 2
            ).alias("unit_price"),
            flag_int.alias("flag_as_int"),
            F.coalesce(flag_int, F.lit(-1)).alias("flag_or_default"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
    )


# ---------------------------------------------------------------------------
# r8: recursive CTE (Spark 4 WITH RECURSIVE — hop-bounded BFS)
# ---------------------------------------------------------------------------

_RCTE_MAX_HOPS = 4

#: One SQL text, two engines: the dialect subset here (joins, GROUP BY,
#: HAVING, UNION ALL, WITH RECURSIVE) parses and evaluates identically
#: on Spark 4 and DuckDB, so the oracle IS the implementation modulo
#: the engine. Seed = the max-degree hub (ties to the smallest id); hop
#: bound guarantees termination on both engines. The graph definition
#: (baskets → pairs → support filter) is imported from graph.py so this
#: twin can never drift from the graph the components/degree operators
#: describe.
from .graph import (_MIN_COSUPPORT, _SQL_GRAPH, _directed_edges,  # noqa: E402
                    _sql_directed, _sql_support_edges, _support_edges)

_RCTE_SQL = f"""
    WITH RECURSIVE
    {_SQL_GRAPH},
    supp AS ({_sql_support_edges(_MIN_COSUPPORT)}),
    edges AS ({_sql_directed("supp")}),
    seed AS (
      SELECT src AS s FROM edges
      GROUP BY src ORDER BY count(*) DESC, src LIMIT 1
    ),
    walk(node, hops) AS (
      SELECT s, 0 FROM seed
      UNION ALL
      SELECT DISTINCT e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hops < {_RCTE_MAX_HOPS}
    )
    SELECT node AS item, CAST(min(hops) AS BIGINT) AS min_hops
    FROM walk GROUP BY node ORDER BY item
"""


#: The recursive fragment alone, over a pre-materialized edge view —
#: Spark's UnionLoop re-evaluates non-recursive CTEs referenced inside
#: the loop body on EVERY iteration, so feeding it the raw pair
#: derivation re-runs the basket join per hop (measured 10.5 s at
#: sf0.1; 2.6 s with the edges pinned first — the residual is the
#: one-time pair derivation itself).
_RCTE_WALK_SQL = f"""
    WITH RECURSIVE
    seed AS (
      SELECT src AS s FROM rcte_edges
      GROUP BY src ORDER BY count(*) DESC, src LIMIT 1
    ),
    walk(node, hops) AS (
      SELECT s, 0 FROM seed
      UNION ALL
      SELECT DISTINCT e.dst, w.hops + 1
      FROM walk w JOIN rcte_edges e ON e.src = w.node
      WHERE w.hops < {_RCTE_MAX_HOPS}
    )
    SELECT node AS item, CAST(min(hops) AS BIGINT) AS min_hops
    FROM walk GROUP BY node ORDER BY item
"""


@query("sql_recursive_cte", oracle=_RCTE_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded BFS over the strong co-purchase graph via Spark 4's
    `WITH RECURSIVE` — the recursive-query surface (reachability, BOM
    explosion, org rollups) that closed the last classic SQL gap
    between Spark and single-node engines. The recursive fragment
    (seed, deduplicated UNION ALL walk, hop guard, aggregation
    epilogue) is the SAME SQL text the DuckDB oracle runs, so
    recursion-semantics parity is covered by the value hash. The
    recursive term dedups its frontier (`SELECT DISTINCT` — Spark has
    no UNION-distinct recursion yet), bounding walk rows at
    nodes × hops on ANY graph density; a plain path-enumerating walk
    blew past a 1e8 recursion row limit on the 335×-densified 10×
    replica graph.

    Scale shape: the edge relation is derived ONCE and pinned
    (localCheckpoint) before entering the loop — Spark's UnionLoopExec
    re-evaluates non-recursive CTEs inside the loop body per
    iteration, so an unpinned edge derivation would re-run the basket
    join every hop (measured: 10.5 s → 2.6 s at sf0.1 from this pin
    alone; the residual is the one-time pair derivation). Each step is then one co-partitioned join of the frontier
    against the pinned edges; the {_RCTE_MAX_HOPS}-hop bound caps plan
    depth. For UNBOUNDED reachability at 100 TB the star-contraction
    operator (graph_connected_components, see sampling.star_components)
    remains the right tool; this entry pins the SQL surface itself."""
    # The walk relation is hop-bounded but grows with data (paths ×
    # frontier); the default 1e6-row recursion safety valve trips at the
    # 10× replica (measured). Size it to the data like any shuffle
    # bound — the hop guard, not this valve, is the semantic limit.
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(100_000_000))
    edges = _directed_edges(_support_edges(spark, _MIN_COSUPPORT)).transform(pin, "reuse")
    edges.createOrReplaceTempView("rcte_edges")
    return spark.sql(_RCTE_WALK_SQL)


@query(
    "set_intersect_all",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    INTERSECT ALL
    SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — BAG semantics: a row appears min(m, n) times
    where m/n are its multiplicities on the two sides (the DISTINCT
    variants, set_intersect/set_except, erase multiplicity — this is
    the other half of the standard's set-op surface).

    Scale shape: Spark's intersectAll plans one hash aggregate per side
    counting multiplicities plus one equi-join on the full row — the
    same shape a hand-written groupBy + least(m,n) + sequence-explode
    would build, so the native operator is the right call."""
    li = spark.table("lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_shipdate",
    )
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    early = li.filter(F.col("l_shipdate") < cut).drop("l_shipdate")
    late = li.filter(F.col("l_shipdate") >= cut).drop("l_shipdate")
    return early.intersectAll(late)


@query(
    "set_except_all",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    EXCEPT ALL
    SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — BAG difference: a row survives max(m − n, 0) times.
    Complements set_except (DISTINCT semantics) exactly as
    set_intersect_all complements set_intersect; together the four
    close the ANSI set-operation surface.

    Scale shape: same per-side multiplicity aggregate + equi-join as
    intersectAll — linear, map-side-combinable, no row explosion beyond
    the surviving multiplicities."""
    li = spark.table("lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_shipdate",
    )
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    early = li.filter(F.col("l_shipdate") < cut).drop("l_shipdate")
    late = li.filter(F.col("l_shipdate") >= cut).drop("l_shipdate")
    # LATE minus EARLY: the late side is the larger one, so surplus
    # multiplicities survive — a guaranteed non-vacuous result (the
    # join_anti 0-vs-0 lesson applied at birth).
    return late.exceptAll(early)


@query(
    "set_union_by_name",
    oracle=f"""
    WITH u AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderpriority, o_totalprice, o_custkey, o_orderkey
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT count(*) AS n_rows,
           count(o_orderpriority) AS n_with_priority,
           count(*) - count(o_orderpriority) AS n_null_padded,
           count(DISTINCT o_custkey) AS n_custkeys,
           {sql_dsum_i("o_totalprice", 2)} AS total_price
    FROM u
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two snapshots of the same logical table
    whose column ORDER differs and one of which grew an extra column —
    aligned by NAME with null-padding for the missing column
    (`unionByName(allowMissingColumns=True)` ↔ DuckDB's
    `UNION ALL BY NAME`). The aggregate proves alignment: positional
    union would scramble custkey/price and break every count.

    The operation every long-lived ingest pipeline needs the week a
    producer adds a field: at 100 TB you cannot rewrite old partitions
    to the new schema, so the engine must align by name at read time.
    Scale shape: union is a zero-shuffle plan glue; the aggregate is one
    partial+final pass."""
    from .num import dsum_i

    o = spark.table("orders")
    old_snap = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_snap = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderpriority", "o_totalprice", "o_custkey", "o_orderkey"
    )
    u = old_snap.unionByName(new_snap, allowMissingColumns=True)
    return u.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
        (F.count("*") - F.count("o_orderpriority")).alias("n_null_padded"),
        F.countDistinct("o_custkey").alias("n_custkeys"),
        dsum_i(F.col("o_totalprice"), 2).alias("total_price"),
    )
