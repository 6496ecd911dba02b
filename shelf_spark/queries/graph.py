"""Graph operators over the order→part co-occurrence structure:
market-basket pair mining (support + lift) and PageRank on the resulting
item graph — the association/centrality passes a recommendation or
curriculum pipeline derives from transaction logs.

Reference parity: shelf delegates all compute to SQL steps (reference
src/shelf/tables.py:155-181); these are the step queries its user would
write, here with full DuckDB oracles (PageRank's 3 iterations UNROLLED as
chained CTEs — same trick as sampling.py's recursive-CTE cluster oracle).

Cross-engine determinism: supports/degrees are integers; lift is one
fixed-shape division of exact ints; PageRank quantizes every per-edge
contribution onto an 8-decimal grid (pure-IEEE round), sums those
exactly in DECIMAL, and re-quantizes each iteration's rank — so ranks
agree bitwise across engines at every iteration.

Base relations: every operator reads the graph through a few builders,
each a Spark function returning an unpinned DataFrame next to its
DuckDB twin (a CTE body), in the paired ``x``/``sql_x`` style of num.py
and stats.py:

- ``_basket_pairs`` (twin: the ``pairs`` CTE of ``_SQL_GRAPH``):
  (l_orderkey, p1, p2) co-occurrences, p1 < p2;
- ``_und_edges`` (``und``): the distinct undirected edges (p1, p2);
- ``_support_edges`` / ``_sql_support_edges``: the edges co-occurring in
  at least ``min_support`` orders (3 for the strong graph, 2 for k-core);
- ``_directed_edges`` / ``_sql_directed``: both directions (src, dst);
- ``_degrees`` / ``_sql_degrees``: (node, d) endpoint degrees;
- ``_out_adjacency`` / ``_SQL_ORIENTED``: the (degree, id) orientation;
- ``_closing_sets`` / ``_SQL_TRI``: the triangles closing each
  oriented edge.

Pins, ``coalesce(1)`` and broadcast hints stay at the call sites: a
builder says what a relation is, its caller how it is materialised. The
one hint inside a builder is the SHUFFLE_HASH of ``_closing_sets``'
join, the choice of both its callers.

Scale notes (100 TB):
- The basket self-join explodes ≤B² rows per order (B = basket size,
  bounded small) — linear in orders overall, shuffled on the natural
  l_orderkey key.
- The item graph is parts-sized (≪ facts); PageRank's per-iteration
  join+agg shuffles edges on src/dst only. 3 fixed iterations keep plan
  depth bounded; an open-ended variant would pin per round
  like dedup_near_dup_clusters (sampling.py).
- BFS, HITS and k-core run a fixed number of rounds and check no
  convergence. Each pins its edge relation and counts it in one job
  (``sampling.fits_one_task``, which also materialises the pin). At or
  under ``sampling._ONE_TASK_EDGES`` (2^20) edges, one
  ``coalesce(1).mapInPandas`` task runs every round in numpy and
  returns the operator's final rows, with no join back; its Python heap
  peaks at about 117 bytes per edge. Above the bound the distributed
  rounds run, one or more jobs each. The bound is absolute, as for
  ``sampling.star_components``: a cluster-scale edge set stays
  distributed, and the count, not an assumption, bounds the one task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .num import _round_ieee, _sql_round_ieee
from .pin import pin
from .registry import query
from .sampling import dense_ends, fits_one_task, star_components

#: PageRank constants.
_DAMP = 0.85
_ITERS = 3


def _part_sets(spark: SparkSession) -> DataFrame:
    """(l_orderkey, parts): each order's sorted distinct part set."""
    return (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )


def _basket_pairs(spark: SparkSession) -> DataFrame:
    """(l_orderkey, p1, p2) co-occurrence pairs with p1 < p2, generated
    map-side: ONE shuffle (groupBy order → sorted part set), then the
    ≤B²/2 combinations per basket explode from the array without a
    second shuffle — vs the naive self-join's extra join exchange.
    B (basket size) is bounded small, so the explosion is linear overall.
    """
    return _basket_pairs_from(_part_sets(spark))


def _basket_pairs_from(baskets: DataFrame) -> DataFrame:
    """The p1 < p2 combinations of each basket's sorted ``parts`` array."""
    combos = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice("parts", i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    return baskets.select("l_orderkey", F.explode(combos).alias("pr")).select(
        "l_orderkey", "pr.p1", "pr.p2"
    )


def _und_edges(spark: SparkSession) -> DataFrame:
    """The undirected co-purchase edges: distinct (p1, p2), p1 < p2."""
    return _basket_pairs(spark).select("p1", "p2").distinct()


#: Every oracle's leading CTEs: ``baskets`` (distinct order, part),
#: ``pairs`` (twin of :func:`_basket_pairs`) and ``und`` (twin of
#: :func:`_und_edges`).
_SQL_GRAPH = """baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT DISTINCT p1, p2 FROM pairs)"""


def _support_edges(spark: SparkSession, min_support: int) -> DataFrame:
    """The (p1, p2) edges whose parts co-occur in at least
    ``min_support`` orders. Its rows are unique with p1 < p2 strictly
    (sorted ``collect_set`` → ``slice(i + 2)``), so
    :func:`_directed_edges` of them has no duplicate rows either."""
    return (
        _basket_pairs(spark)
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_support)
        .select("p1", "p2")
    )


def _sql_support_edges(min_support: int) -> str:
    return f"""
      SELECT p1, p2 FROM pairs GROUP BY p1, p2
      HAVING count(*) >= {min_support}
"""


def _directed_edges(und: DataFrame) -> DataFrame:
    """Both directions ``(src, dst)`` of the unique p1 < p2 edges in
    ``und``, so no row repeats.

    One explode of two structs reads ``und`` once. A union of two
    selects would read a pinned ``und``'s blocks twice per consumer
    (r14 measured every PageRank iteration reading 4x the und block
    bytes, every BFS level the same double scan) and evaluate an
    unpinned ``und`` (distinct pairs, a support aggregate) twice.
    """
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("src"), F.col("p2").alias("dst")),
                F.struct(F.col("p2").alias("src"), F.col("p1").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _sql_directed(und: str) -> str:
    return f"SELECT p1 AS src, p2 AS dst FROM {und} UNION ALL SELECT p2, p1 FROM {und}"


def _degrees(und: DataFrame) -> DataFrame:
    """(node, d): each endpoint's degree over the edges ``und``, counted
    from one scan of both endpoints."""
    return (
        und.select(F.explode(F.array("p1", "p2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def _sql_degrees(und: str) -> str:
    return f"""
      SELECT node, count(*) AS d FROM (
        SELECT p1 AS node FROM {und} UNION ALL SELECT p2 AS node FROM {und}
      ) GROUP BY node"""


def _out_adjacency(und: DataFrame, deg: DataFrame) -> DataFrame:
    """(src, nbrs): the degree orientation's out-neighbour lists. Each
    edge of ``und`` points from its (degree, id)-smaller endpoint to the
    larger, by the (node, d) degrees ``deg``, so every triangle has one
    source and a node's out-degree is O(√m)."""
    d1 = deg.select(F.col("node").alias("p1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("node").alias("p2"), F.col("d").alias("d2"))
    lower1 = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    oriented = (
        und.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(lower1, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(lower1, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
    )
    return oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))


#: Twin of :func:`_out_adjacency` as one row per edge, reading CTEs
#: ``und`` and ``deg``; ``dst_d`` is the destination's degree.
_SQL_ORIENTED = """
      SELECT CASE WHEN (d1.d, u.p1) < (d2.d, u.p2) THEN u.p1 ELSE u.p2 END AS src,
             CASE WHEN (d1.d, u.p1) < (d2.d, u.p2) THEN u.p2 ELSE u.p1 END AS dst,
             CASE WHEN (d1.d, u.p1) < (d2.d, u.p2) THEN d2.d ELSE d1.d END AS dst_d
      FROM und u
      JOIN deg d1 ON u.p1 = d1.node
      JOIN deg d2 ON u.p2 = d2.node"""


def _closing_sets(adj: DataFrame) -> DataFrame:
    """(u, v, ws): for each oriented edge u → v of the out-adjacency
    ``adj``, the nodes w with u → w and v → w, i.e. ``N+(u) ∩ N+(v)``.
    Each triangle appears once, at its (degree, id)-smallest u and
    middle v. The source's list rides its edge rows from the explode of
    the grouped adjacency, and one SHUFFLE_HASH join attaches the
    destination's; both callers choose that hint because sort-merge
    would sort the array-carrying rows by v for no benefit."""
    fat = adj.select(
        F.col("src").alias("u"),
        F.col("nbrs").alias("nbrs_u"),
        F.explode("nbrs").alias("v"),
    )
    adj_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    return fat.join(adj_v.hint("SHUFFLE_HASH"), "v").select(
        "u", "v", F.array_intersect("nbrs_u", "nbrs_v").alias("ws")
    )


#: Twin of :func:`_closing_sets` as one ``(a, b, c)`` row per triangle
#: (a = u, b = v, c = w), reading CTE ``oriented``.
_SQL_TRI = """
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src
                      AND (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst"""


@query(
    "mba_item_pairs",
    oracle=f"""
    WITH {_SQL_GRAPH},
    pair_cnt AS (
      SELECT p1, p2, count(*) AS support FROM pairs GROUP BY p1, p2
    ),
    item_cnt AS (
      SELECT l_partkey, count(*) AS cnt FROM baskets GROUP BY l_partkey
    ),
    total AS (
      SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets
    )
    SELECT p1, p2, support,
           {{lift}} AS lift
    FROM pair_cnt
    JOIN item_cnt i1 ON p1 = i1.l_partkey
    JOIN item_cnt i2 ON p2 = i2.l_partkey
    CROSS JOIN total
    ORDER BY support DESC, p1, p2
    LIMIT 20
    """.format(
        lift=_sql_round_ieee(
            "(CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE))"
            " / (CAST(i1.cnt AS DOUBLE) * CAST(i2.cnt AS DOUBLE))",
            6,
        )
    ),
)
def mba_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs: top-20 co-occurring part pairs by
    support, with lift = P(p1,p2)/(P(p1)·P(p2)). Pair generation is the
    single-shuffle array-combination shape (see _basket_pairs); per-item
    counts are parts-sized (AQE broadcasts them while small); the
    total-orders scalar crossJoins."""
    # ONE fact reduction (r15): pairs, per-item counts and the order
    # count all derive from the same basket part-set relation — deriving
    # them from the pairs and two distinct (order, part) relations ran
    # the lineitem scan + distinct three times. item_cnt == per-part count of
    # distinct containing orders == explode of the per-order part sets;
    # n_orders == count of basket rows. The three consumers share the
    # first job; the pin is fact-sized (see pin.py on availability).
    baskets = pin(_part_sets(spark), "fanout")
    pair_cnt = (
        _basket_pairs_from(baskets)
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("support"))
    )
    item_cnt = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
    )
    total = baskets.agg(F.count("*").alias("n_orders"))
    lift = _round_ieee(
        (F.col("support").cast("double") * F.col("n_orders").cast("double"))
        / (F.col("i1.cnt").cast("double") * F.col("i2.cnt").cast("double")),
        6,
    )
    # item_cnt is parts-sized — grows with SF, so no broadcast HINT
    # (AQE's size-based decision broadcasts it while it fits).
    return (
        pair_cnt.join(item_cnt.alias("i1"), F.col("p1") == F.col("i1.l_partkey"))
        .join(item_cnt.alias("i2"), F.col("p2") == F.col("i2.l_partkey"))
        .crossJoin(F.broadcast(total))
        .select("p1", "p2", "support", lift.alias("lift"))
        .orderBy(F.desc("support"), "p1", "p2")
        .limit(20)
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_SQL_GRAPH},
    deg AS ({_sql_degrees("und")}),
    oriented AS ({_SQL_ORIENTED}),
    -- materialized: read three times below, and DuckDB inlines a plain CTE
    tri AS MATERIALIZED ({_SQL_TRI})
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b AS node FROM tri
      UNION ALL SELECT c AS node FROM tri
    )
    GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation (top 20) on the undirected part
    co-occurrence graph — the clustering-coefficient numerator community
    pipelines start from. Uses the classic degree-orientation algorithm:
    each undirected edge points from its (degree, id)-smaller endpoint to
    the larger, so every triangle is enumerated exactly once and the
    wedge-join fanout per vertex is its *out*-degree, O(sqrt(m)) under
    degree orientation — the property that keeps the self-join
    sub-quadratic on power-law graphs at 100 TB (vs the naive adjacency
    self-join whose hub vertices explode). Both joins are equi-joins on
    vertex keys (hash-partitioned, no cartesian); DuckDB oracle replicates
    the identical orientation, so counts are value-exact.

    Triangles are closed by ADJACENCY INTERSECTION, not a wedge join: for
    each oriented edge (u, v) the closing nodes are exactly
    ``N+(u) ∩ N+(v)`` (w ∈ N+(u) gives the wedge u→v, u→w; w ∈ N+(v)
    closes it), so the plan never materializes the Σ C(outdeg, 2) wedge
    stream as ROWS (41M at sf0.1). Each edge row carries its source's
    adjacency array map-side (explode of the grouped adjacency — zero
    extra shuffle), one edges-sized SHUFFLE_HASH join attaches the
    destination's array, and ``array_intersect`` runs in the JVM per row.
    What shrinks is row CARDINALITY (m rows vs 41M) and the per-wedge
    shuffle-sort bookkeeping; the shuffled byte volume is still
    Σ outdeg² (the arrays riding the edge rows), asymptotically the same
    payload as the wedge stream, packed into far fewer, sort-free rows.
    The array payload per row is bounded by the orientation's O(√m)
    out-degree cap, so no single row or hash bucket can blow up on a
    power-law hub at 100 TB. Rewrote the r6 wedge-join plan 17.2 → 6.2 s at sf0.1,
    bit-identical output (DuckDB oracle: 16.9 s on the same machine)."""
    # Feeds degrees AND the orientation join (r14 lazy: 3.69 -> 3.37 s;
    # pinning adj too measured neutral, ReusedExchange dedups it here).
    und = pin(_und_edges(spark), "reuse")
    # Degree lookups broadcast (node-sized, same policy as PageRank's
    # ranks). Both uses of the adjacency share its single groupBy
    # exchange (it derives from the pinned und -> ReusedExchange).
    adj = _out_adjacency(und, F.broadcast(_degrees(und)))
    per_edge = _closing_sets(adj)
    # Per-node counts in ONE pass over per_edge (r14): each closing node
    # w yields the contribution trio (u,1), (v,1), (w,1), flattened
    # map-side — u and v end up counted once per triangle on this edge
    # and every w once, exactly the weights of the former 3-way union,
    # whose three branches re-evaluated the join+intersect subtree per
    # branch (no pin → 3 executions of the hottest stage; measured
    # 6.0 → 4.0 s at sf0.1). The explode volume is 3·triangles —
    # output-sized, not wedge-sized; an empty intersection flattens to
    # an empty array and explodes to nothing, so the former k > 0
    # filter is implicit.
    # (A weighted-contribution variant — struct(u, k)/struct(v, k) plus
    # transform(ws, w -> struct(w, 1)), summing weights instead of
    # exploding 3·tri single-node rows — was tried in r14 and measured
    # MORE executor CPU (~27 s vs ~23.6 s total): the per-row struct
    # construction in the higher-order transform costs more than the
    # extra exploded rows it saves. Kept the flat explode.)
    contrib = per_edge.select(
        F.explode(
            F.flatten(
                F.transform("ws", lambda w: F.array(F.col("u"), F.col("v"), w))
            )
        ).alias("node")
    )
    return (
        contrib.groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "node")
        .limit(20)
    )


def _sql_pr_iter(prev: str, out: str) -> str:
    """One unrolled PageRank iteration as a DuckDB CTE body.

    Per-edge contributions are quantized straight onto the scaled-integer
    8dp grid (``floor(x·1e8 + 0.5)`` — the same IEEE ops as
    ``_round_ieee`` before its division) and summed exactly in
    DECIMAL(18,0); the single scale-back division happens once per node
    after the final cast. Skips the per-edge double→DECIMAL(20,8) cast.
    """
    contrib_i = f"floor(({prev}.r / CAST(deg.outdeg AS DOUBLE)) * 100000000.0 + 0.5)"
    return f"""
    {out} AS (
      SELECT e.dst AS node,
             {_sql_round_ieee(
                 "(0.15 / CAST(nn.n AS DOUBLE))"
                 " + (0.85 * (CAST(sum_ci AS DOUBLE) / 100000000.0))", 8
             )} AS r
      FROM (
        SELECT e.dst, sum(CAST({contrib_i} AS DECIMAL(18,0))) AS sum_ci
        FROM edges e
        JOIN {prev} ON e.src = {prev}.node
        JOIN deg ON e.src = deg.src
        GROUP BY e.dst
      ) AS e CROSS JOIN nn
    )"""


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_SQL_GRAPH},
    edges AS ({_sql_directed("und")}),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (
      SELECT src AS node, {_sql_round_ieee("1.0 / CAST(nn.n AS DOUBLE)", 8)} AS r
      FROM deg CROSS JOIN nn
    ),
    {_sql_pr_iter("r0", "r1")},
    {_sql_pr_iter("r1", "r2")},
    {_sql_pr_iter("r2", "r3")}
    SELECT node, r AS pagerank FROM r3
    ORDER BY pagerank DESC, node
    LIMIT 20
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) on the undirected part
    co-occurrence graph, checked value-exact against an unrolled-CTE
    DuckDB oracle. Every per-edge contribution is quantized onto an
    8-decimal grid (pure-IEEE round → identical doubles), summed exactly
    in DECIMAL, and the new rank re-quantized — iteration-stable bitwise
    agreement. The undirected graph guarantees every node receives mass,
    so the inner join loses no nodes."""
    # Pin the CANONICAL (p1<p2) half; both directions read its blocks.
    edges = _directed_edges(pin(_und_edges(spark), "reuse"))
    # The degree table is NODE-sized (parts ≪ edges) — pinned once
    # (one groupBy over the pinned pairs), and from here on nothing
    # node-sized is ever shuffled: each iteration probes a broadcast of
    # (node, r, outdeg), so the only per-iteration shuffle is the
    # map-side-combined groupBy(dst), whose post-combine volume is
    # O(partitions · nodes), not O(edges). At cluster scale this holds
    # while the node table fits executor memory (an item catalog —
    # millions of rows, tens of MB); past that, fall back to shuffle
    # joins with edges pre-partitioned by src so all iterations reuse
    # one exchange.
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).transform(pin, "reuse")
    nn = deg.agg(F.count("*").alias("n"))
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"),
        _round_ieee(F.lit(1.0) / F.col("n").cast("double"), 8).alias("r"),
        "outdeg",
    )
    deg_dst = deg.select(F.col("src").alias("node"), "outdeg")
    for _ in range(_ITERS):
        # Scaled-integer contribution (see _sql_pr_iter): floor onto the
        # 8dp grid as a LONG, exact DECIMAL(18,0) accumulation, one
        # scale-back division per node — no per-edge double→decimal cast.
        # r and outdeg both ride the broadcast ranks row, so the probe is
        # a single hash lookup per edge.
        contrib_i = F.floor(
            (F.col("r") / F.col("outdeg").cast("double")) * 1.0e8 + F.lit(0.5)
        ).cast("decimal(18,0)")
        sums = (
            edges.join(F.broadcast(ranks), edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(contrib_i).alias("sum_ci"))
        )
        # Re-attach outdeg for the next iteration's broadcast: node-sized
        # ⋈ node-sized, broadcast-hash, no shuffle. The undirected graph
        # guarantees src-set == dst-set, so the inner join loses no nodes.
        ranks = (
            sums.join(F.broadcast(deg_dst), sums.dst == deg_dst.node)
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("node"),
                _round_ieee(
                    (F.lit(0.15) / F.col("n").cast("double"))
                    + (F.lit(_DAMP) * (F.col("sum_ci").cast("double") / 1.0e8)),
                    8,
                ).alias("r"),
                "outdeg",
            )
        )
    return (
        ranks.select("node", F.col("r").alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# degree assortativity
# ---------------------------------------------------------------------------

#: Pearson r over the directed edge list of (deg(src), deg(dst)) — the
#: standard Newman degree-assortativity estimator, as one fixed-shape
#: IEEE expression on exact integer moment sums.
#: nullif: a degree-regular graph (zero degree variance on either side)
#: makes r undefined — NULL on both engines, never an ANSI abort (r9).
_SQL_ASSORT = (
    "round(((n * sxy) - (sx * sy))"
    " / nullif(sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy)), 0.0), 6)"
)


@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_SQL_GRAPH},
    deg AS ({_sql_degrees("und")}),
    edges AS ({_sql_directed("und")}),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(du.d AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(dv.d AS DECIMAL(18,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(du.d * dv.d AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(du.d * du.d AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(dv.d * dv.d AS DECIMAL(18,0))) AS DOUBLE) AS syy
      FROM edges
        JOIN deg du ON edges.src = du.node
        JOIN deg dv ON edges.dst = dv.node
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           {_SQL_ASSORT} AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    Pearson correlation of endpoint degrees over the directed edge list
    — positive means hubs link hubs (social-network shape), negative
    means hubs link leaves (dependency/star shape); the one-number
    topology screen run before choosing partition/skew strategies for
    heavier graph jobs. Moments accumulate as exact integer DECIMAL
    sums; the closed form is the shared fixed-shape IEEE expression
    (agg_corr_regr's discipline) → bit-identical across engines.

    Scale shape: the edge list never re-shuffles for the statistic —
    degrees attach via two node-keyed joins (broadcast while the degree
    relation fits, hash at scale), then ONE map-side-combined moment
    aggregate produces six numbers. No windows, no sorts; the same
    single-pass shape at any edge count."""
    und = _und_edges(spark).transform(pin, "reuse")
    deg = _degrees(und)
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))
    d0 = "decimal(18,0)"
    m = (
        _directed_edges(und)
        .join(du, "src")
        .join(dv, "dst")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum(F.col("du").cast(d0)).cast("double").alias("sx"),
            F.sum(F.col("dv").cast(d0)).cast("double").alias("sy"),
            F.sum((F.col("du") * F.col("dv")).cast(d0))
            .cast("double")
            .alias("sxy"),
            F.sum((F.col("du") * F.col("du")).cast(d0))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("dv") * F.col("dv")).cast(d0))
            .cast("double")
            .alias("syy"),
        )
    )
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.expr(_SQL_ASSORT).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# r8: connected components + degree distribution of the co-purchase graph
# ---------------------------------------------------------------------------

#: Support floor for the co-purchase item graph: parts co-occurring in
#: >= this many orders form an edge (prunes the 1-off noise tail that
#: would otherwise fuse everything into one giant component).
_MIN_COSUPPORT = 3


@query(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE
    {_SQL_GRAPH},
    supp AS ({_sql_support_edges(_MIN_COSUPPORT)}),
    edges AS ({_sql_directed("supp")}),
    walk(node, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    )
    SELECT node AS item, min(reach) AS component
    FROM walk GROUP BY node ORDER BY item
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the strong co-purchase graph (parts
    co-occurring in ≥{_MIN_COSUPPORT} orders) — the community pass
    behind "which products form a coherent family", and the graph
    analogue of the near-dup clustering already proven on documents.
    Labels are component minima, matching the oracle's
    transitive-closure min(reach) exactly.

    Scale shape: pairs generate map-side from sorted basket arrays (no
    self-join); the support filter is one map-side-combined agg that
    prunes the edge set BEFORE any iteration touches it; components come
    from sampling.star_components. The oracle's
    recursive CTE is O(component²) and exists only for the fixture; the
    Spark side never materializes reachability."""
    return (
        star_components(_support_edges(spark, _MIN_COSUPPORT), "p1", "p2")
        .select(F.col("node").alias("item"), "component")
        .orderBy("item")
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_SQL_GRAPH},
    supp AS ({_sql_support_edges(_MIN_COSUPPORT)}),
    deg AS ({_sql_degrees("supp")})
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d ORDER BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the strong co-purchase graph — the
    power-law sanity check (and skew early-warning: a heavy right tail
    here is tomorrow's hot key in every graph join).

    Scale shape: one agg for support filtering, one for degrees (edge
    list → node key), one for the bounded-domain histogram — all
    map-side-combined; nothing is quadratic, the histogram domain is
    max-degree-bounded."""
    return (
        _degrees(_support_edges(spark, _MIN_COSUPPORT))
        .groupBy(F.col("d").alias("degree"))
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .select(F.col("degree").cast("long").alias("degree"), "n_nodes")
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# r8d: k-core extraction (fixed-round peeling)
# ---------------------------------------------------------------------------

#: k-core config: the support-2 co-purchase graph peeled to its 2-core.
#: 4 synchronous peeling rounds CONVERGE on the sf0.01 gate fixture
#: (round 4 removes zero nodes), so the gate checks the true 2-core
#: there; both engines always run the same fixed rounds regardless.
_KCORE_K = 2
_KCORE_ROUNDS = 4
_KCORE_MIN_SUPPORT = 2


def _sql_kcore_round(r: int) -> str:
    """One synchronous peeling round in DuckDB SQL: drop every node whose
    CURRENT degree is below k, and every edge touching a dropped node.
    A round reads the last one three times, and DuckDB inlines a plain
    CTE, so the edges are materialized once per round."""
    return f"""
    keep{r} AS (
      SELECT src FROM e{r - 1} GROUP BY src HAVING count(*) >= {_KCORE_K}
    ), e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{r - 1} e
        JOIN keep{r} a ON a.src = e.src
        JOIN keep{r} b ON b.src = e.dst
    )"""


def _kcore_degrees(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``(item, core_degree)`` after ``_KCORE_ROUNDS`` synchronous peeling
    rounds over the directed ``(src, dst)`` edges in ``batches``: each
    round keeps the edges whose two ends both have degree ≥ ``_KCORE_K``
    at the round's start. The Python heap peaks in :func:`dense_ends`,
    at about 117 bytes per edge (2^20 edges of a random graph, input
    frames included)."""
    ids, src, dst = dense_ends(batches, "src", "dst")
    for _ in range(_KCORE_ROUNDS):
        keep = np.bincount(src, minlength=len(ids)) >= _KCORE_K
        live = keep[src] & keep[dst]
        src, dst = src[live], dst[live]
    deg = np.bincount(src, minlength=len(ids))
    hit = np.flatnonzero(deg)
    yield pd.DataFrame({"item": ids[hit], "core_degree": deg[hit]})


@query(
    "graph_kcore",
    oracle=f"""
    WITH {_SQL_GRAPH},
    supp AS ({_sql_support_edges(_KCORE_MIN_SUPPORT)}),
    e0 AS MATERIALIZED ({_sql_directed("supp")}),
    {",".join(_sql_kcore_round(r) for r in range(1, _KCORE_ROUNDS + 1))}
    SELECT src AS item, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{_KCORE_ROUNDS}
    GROUP BY src ORDER BY item
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core of the support-{_KCORE_MIN_SUPPORT} co-purchase
    graph by {_KCORE_ROUNDS} synchronous peeling rounds (Seidman 1983;
    the Batagelj–Zaveršnik peeling made bulk-synchronous): repeatedly
    drop nodes whose remaining degree is below k — the standard dense-
    substructure extractor for community seeds, spam/bot rings, and
    graph-sampling cores, and the complement of the triangle/component
    passes already in the registry. Peeling converges at round
    {_KCORE_ROUNDS} on the gate fixture (a round that removes nothing
    is a fixed point), so the checked result is the true k-core there;
    the round count is fixed and identical in both engines either way.

    Exactness is trivial (integer degrees, no FP anywhere). Scale
    shape: the directed edge set is pinned and counted in one job. At
    or under the one-task bound (2^20 directed edges) one task peels
    all {_KCORE_ROUNDS} rounds in numpy and returns the degrees. Above
    it, each round is one degree aggregate over the current edge set
    plus two semi-join-shaped filters against the parts-sized keep
    list (AQE broadcasts it when it fits) — edges only ever shrink,
    and each round's edge set is pinned so the fixed-depth lineage
    never re-derives the basket join. Neither path checks convergence."""
    # Peeling rounds never re-read the basket join. The directed
    # support edges are unique rows, so no distinct precedes the pin.
    e = pin(_directed_edges(_support_edges(spark, _KCORE_MIN_SUPPORT)), "reuse")
    if fits_one_task(e):
        t = e.schema["src"].dataType.simpleString()
        return (
            e.coalesce(1)
            .mapInPandas(_kcore_degrees, f"item {t}, core_degree long")
            .orderBy("item")
        )
    for _ in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("src")
        )
        e = (
            e.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
            .transform(pin, "reuse")
        )
    return (
        e.groupBy(F.col("src").alias("item"))
        .agg(F.count("*").cast("long").alias("core_degree"))
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# r8e: link prediction (common-neighbor Jaccard over non-edges)
# ---------------------------------------------------------------------------

_LINK_TOP = 20
#: Hubs with degree above this are excluded from WEDGE GENERATION (not
#: from scoring): a super-hub certifies "common neighbor" for ~deg²
#: candidate pairs while contributing almost no Jaccard signal (its
#: presence inflates every union it joins), and at scale one 10⁶-degree
#: hub alone would emit 10¹² wedges. Same rationale as the df-cap /
#: prefix filter in similarity search. Common-neighbor counts are
#: therefore "among non-hub neighbors" — the oracle applies the
#: identical cap, so the result stays value-exact at every scale.
_LINK_HUB_MAX = 64


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH {_SQL_GRAPH},
    supp AS ({_sql_support_edges(_MIN_COSUPPORT)}),
    dir AS ({_sql_directed("supp")}),
    deg AS ({_sql_degrees("supp")}),
    hubs AS (
      SELECT u.src, u.dst FROM dir u
      JOIN deg ON deg.node = u.src AND deg.d <= {_LINK_HUB_MAX}
    ),
    cand AS (
      SELECT a.dst AS u, b.dst AS v, CAST(count(*) AS BIGINT) AS cn
      FROM hubs a JOIN hubs b ON a.src = b.src AND a.dst < b.dst
      GROUP BY 1, 2
    ),
    nonedge AS (
      SELECT u, v, cn FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM supp WHERE p1 = u AND p2 = v)
    )
    SELECT u AS p1, v AS p2, cn AS common_neighbors,
           (floor(CAST(cn AS DOUBLE)
                  / (du.d + dv.d - cn) * 1000000.0 + 0.5)
            / 1000000.0) AS jaccard
    FROM nonedge
    JOIN deg du ON du.node = u
    JOIN deg dv ON dv.node = v
    ORDER BY jaccard DESC, p1, p2
    LIMIT {_LINK_TOP}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the strong co-purchase graph: for every
    DISTANCE-2 non-edge (u, v), the neighbor-set Jaccard
    |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| [Liben-Nowell & Kleinberg, CIKM'03] —
    the classic "products that should co-sell but don't yet" candidate
    ranking, top-{_LINK_TOP}.

    Scale shape: candidate pairs are generated MAP-SIDE from sorted
    per-hub adjacency arrays (same one-shuffle combination trick as
    the basket pairs — never an all-pairs join; volume is Σ deg²/2,
    the wedge count the triangle pass already carries); existing edges
    leave via a left-anti join on the edge key; the Jaccard needs only
    the two integer degrees (parts-sized relation, AQE-broadcastable)
    and the integer common-neighbor count, so the score is one IEEE
    division of exact ints. Top-k is TakeOrderedAndProject."""
    supp = _support_edges(spark, _MIN_COSUPPORT)
    # Hub cap rides the SAME groupBy that builds the adjacency arrays —
    # no extra exchange: collect, then drop arrays over the cap.
    adj = (
        _directed_edges(supp)
        .groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .filter(F.size("nbrs") <= _LINK_HUB_MAX)
    )
    combos = F.flatten(
        F.transform(
            F.col("nbrs"),
            lambda x, i: F.transform(
                F.slice(F.col("nbrs"), i + 2, F.size("nbrs")),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    cand = (
        adj.select(F.explode(combos).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    nonedge = cand.join(
        supp,
        (cand.u == supp.p1) & (cand.v == supp.p2),
        "left_anti",
    )
    deg = _degrees(supp)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        nonedge.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("p1"),
            F.col("v").alias("p2"),
            F.col("cn").alias("common_neighbors"),
            _round_ieee(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "p1", "p2")
        .limit(_LINK_TOP)
    )


def _sql_hits_step(edges_join: str, prev: str, raw: str, out: str) -> str:
    """One HITS half-step as DuckDB CTEs: push the 8dp-grid-quantized
    prev values across the edges (exact DECIMAL sum), then L1-normalize
    and re-round onto the grid — same determinism contract as the
    PageRank oracle's unrolled iterations. ``raw`` is read twice, and
    DuckDB inlines a plain CTE, so it is materialized once per step."""
    src, dst = ("src", "dst") if edges_join == "fwd" else ("dst", "src")
    return f"""
    {raw} AS MATERIALIZED (
      SELECT e.{dst} AS node,
             sum(CAST(floor({prev}.v * 100000000.0 + 0.5)
                 AS DECIMAL(18,0))) AS raw
      FROM edges e JOIN {prev} ON e.{src} = {prev}.node
      GROUP BY e.{dst}
    ),
    {raw}_t AS (SELECT sum(raw) AS s FROM {raw}),
    {out} AS (
      SELECT node,
             {_sql_round_ieee("CAST(raw AS DOUBLE) / CAST(s AS DOUBLE)", 8)}
               AS v
      FROM {raw} CROSS JOIN {raw}_t
    )"""


_HITS_TOP = 20


def _hits_top(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The top ``_HITS_TOP`` ``(node, authority, hub)`` rows of two HITS
    rounds over the directed ``(src, dst)`` edges in ``batches``, on the
    distributed rounds' 8dp grid: each half-step sums the pushed values'
    ``floor(v·1e8+0.5)`` as int64, then rounds ``raw / sum`` onto the
    grid. A node that is never a ``dst`` (``src``) has no authority
    (hub) row there and 0.0 here, as after the full outer join. The
    Python heap peaks in :func:`dense_ends`, at about 117 bytes per
    edge (2^20 edges of a random graph, input frames included)."""
    ids, src, dst = dense_ends(batches, "src", "dst")
    if not len(ids):
        return

    def norm(raw: np.ndarray) -> np.ndarray:
        return np.floor(raw / raw.sum() * 100000000.0 + 0.5) / 100000000.0

    def push(vals: np.ndarray, key: np.ndarray, out: np.ndarray) -> np.ndarray:
        raw = np.zeros(len(ids), np.int64)
        np.add.at(raw, out, np.floor(vals[key] * 100000000.0 + 0.5).astype(np.int64))
        return norm(raw)

    a = norm(np.bincount(dst, minlength=len(ids)))
    h = push(a, dst, src)
    a = push(h, src, dst)
    h = push(a, dst, src)
    top = np.lexsort((-h, -a))[:_HITS_TOP]  # stable: ties keep id order
    yield pd.DataFrame({"node": ids[top], "authority": a[top], "hub": h[top]})


@query(
    "graph_hits",
    oracle=f"""
    WITH {_SQL_GRAPH},
    edges AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM und),
    a1r AS MATERIALIZED (
      SELECT dst AS node, CAST(count(*) AS DECIMAL(18,0)) AS raw
      FROM edges GROUP BY dst
    ),
    a1t AS (SELECT sum(raw) AS s FROM a1r),
    a1 AS (
      SELECT node,
             {_sql_round_ieee("CAST(raw AS DOUBLE) / CAST(s AS DOUBLE)", 8)}
               AS v
      FROM a1r CROSS JOIN a1t
    ),
    {_sql_hits_step("rev", "a1", "h1r", "h1")},
    {_sql_hits_step("fwd", "h1", "a2r", "a2")},
    {_sql_hits_step("rev", "a2", "h2r", "h2")}
    SELECT coalesce(a2.node, h2.node) AS node,
           coalesce(a2.v, 0.0) AS authority,
           coalesce(h2.v, 0.0) AS hub
    FROM a2 FULL OUTER JOIN h2 ON a2.node = h2.node
    ORDER BY authority DESC, hub DESC, node
    LIMIT {_HITS_TOP}
    """,
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) on the DIRECTED basket graph
    (earlier part → later part within an order): two full mutual-
    reinforcement rounds, L1-normalized each half-step, checked
    value-exact against an unrolled-CTE DuckDB oracle.

    Determinism: the uniform init cancels under L1 normalization, so
    h₀ ≡ 1 makes the first authority pass EXACT IN-DEGREES (integers);
    every later half-step pushes 8dp-grid-quantized values across the
    edges (floor(v·1e8+0.5) — exact in binary64 for v ≤ 1), sums them
    in DECIMAL (order-free), and re-rounds the normalized result — the
    same iteration-stable bitwise contract as graph_pagerank.

    Scale shape: the edge list is pinned once and counted in one job.
    At or under the one-task bound (2^20 edges) one task runs both
    rounds in numpy and returns the top {_HITS_TOP} rows. It stays on the
    grid exactly: each pushed q is at most 1e8 < 2^27, so with at
    most 2^20 edges every int64 sum is below 2^47; its cast to double
    is exact, as is the distributed DECIMAL→DOUBLE cast of the same
    sum, and the division and re-rounding are the same IEEE operations.
    Above the bound each half-step is one broadcast of the NODE-sized
    value table against the edges plus a map-side-combined groupBy — no
    node-sized shuffle, no edge re-derivation per iteration. Past broadcastable catalogs,
    pre-partition edges by the probe key and every iteration reuses
    that single exchange (the PageRank fallback note applies verbatim)."""
    edges = (
        _und_edges(spark)
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .transform(pin, "reuse")
    )
    if fits_one_task(edges):
        t = edges.schema["src"].dataType.simpleString()
        return (
            edges.coalesce(1)
            .mapInPandas(_hits_top, f"node {t}, authority double, hub double")
            .orderBy(F.desc("authority"), F.desc("hub"), "node")
        )

    def _norm(raw: DataFrame) -> DataFrame:
        # Sum + scale-back both read raw; unpinned, the 3-deep push nesting
        # re-ran the first pass up to 2^3 times (r14: 66 Exchange, 22 BNLJ).
        raw = pin(raw, "reuse")
        tot = raw.agg(F.sum("raw").alias("s"))
        return raw.crossJoin(F.broadcast(tot)).select(
            "node",
            _round_ieee(
                F.col("raw").cast("double") / F.col("s").cast("double"), 8
            ).alias("v"),
        )

    def _push(vals: DataFrame, forward: bool) -> DataFrame:
        src, dst = ("src", "dst") if forward else ("dst", "src")
        q = F.floor(F.col("v") * 100000000.0 + F.lit(0.5)).cast("decimal(18,0)")
        return _norm(
            edges.join(F.broadcast(vals), edges[src] == vals["node"])
            .select(F.col(dst).alias("node"), q.alias("q"))
            .groupBy("node")
            .agg(F.sum("q").alias("raw"))
        )

    a1 = _norm(
        edges.groupBy(F.col("dst").alias("node")).agg(
            F.count("*").cast("decimal(18,0)").alias("raw")
        )
    )
    h1 = _push(a1, forward=False)
    a2 = _push(h1, forward=True)
    h2 = _push(a2, forward=False)
    return (
        a2.withColumnRenamed("v", "authority")
        .join(h2.withColumnRenamed("v", "hub"), "node", "full_outer")
        .select(
            "node",
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
        .orderBy(F.desc("authority"), F.desc("hub"), "node")
        .limit(_HITS_TOP)
    )


_BFS_DEPTH = 4


def _bfs_levels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``(distance, n_nodes, min_node, max_node)`` of every non-empty BFS
    level up to ``_BFS_DEPTH`` from the minimum id, over the undirected
    ``(p1, p2)`` edges in ``batches``. No edges give ``(0, 1, NULL,
    NULL)``: the distributed root is ``min`` over no rows, and
    ``coalesce(1)`` runs its one task even over no partitions. The
    Python heap peaks in :func:`dense_ends`, at about 117 bytes per
    edge (2^20 edges of a random graph, input frames included)."""
    ids, iu, iv = dense_ends(batches, "p1", "p2")
    if not len(ids):
        yield pd.DataFrame(
            {"distance": [0], "n_nodes": [1], "min_node": [None], "max_node": [None]}
        )
        return
    rows = [(0, 1, ids[0], ids[0])]
    seen = np.zeros(len(ids), bool)
    front = seen.copy()
    seen[0] = front[0] = True
    for d in range(1, _BFS_DEPTH + 1):
        nxt = np.zeros(len(ids), bool)
        nxt[iv[front[iu]]] = True
        nxt[iu[front[iv]]] = True
        hit = np.flatnonzero(nxt & ~seen)
        if not len(hit):
            break
        rows.append((d, len(hit), ids[hit[0]], ids[hit[-1]]))
        seen[hit] = True
        front = np.zeros(len(ids), bool)
        front[hit] = True
    yield pd.DataFrame(rows, columns=["distance", "n_nodes", "min_node", "max_node"])


@query(
    "graph_bfs_distances",
    oracle=f"""
    WITH {_SQL_GRAPH},
    -- materialized: DuckDB inlines a plain CTE, and every later level
    -- reads each earlier one
    edges AS MATERIALIZED ({_sql_directed("und")}),
    root AS (SELECT min(src) AS node FROM edges),
    l0 AS (SELECT node FROM root),
    l1 AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON e.src = l0.node
      WHERE e.dst NOT IN (SELECT node FROM l0)
    ),
    l2 AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON e.src = l1.node
      WHERE e.dst NOT IN (SELECT node FROM l0)
        AND e.dst NOT IN (SELECT node FROM l1)
    ),
    l3 AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l2 ON e.src = l2.node
      WHERE e.dst NOT IN (SELECT node FROM l0)
        AND e.dst NOT IN (SELECT node FROM l1)
        AND e.dst NOT IN (SELECT node FROM l2)
    ),
    l4 AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l3 ON e.src = l3.node
      WHERE e.dst NOT IN (SELECT node FROM l0)
        AND e.dst NOT IN (SELECT node FROM l1)
        AND e.dst NOT IN (SELECT node FROM l2)
        AND e.dst NOT IN (SELECT node FROM l3)
    ),
    lv AS (
      SELECT 0 AS distance, node FROM l0
      UNION ALL SELECT 1, node FROM l1
      UNION ALL SELECT 2, node FROM l2
      UNION ALL SELECT 3, node FROM l3
      UNION ALL SELECT 4, node FROM l4
    )
    SELECT distance, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM lv GROUP BY distance ORDER BY distance
    """,
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search levels (depth ≤ 4, _BFS_DEPTH) from the
    minimum-keyed part of the undirected basket graph — the traversal
    primitive behind reachability, ego-network, and contamination-
    radius queries, summarized per level.

    Scale shape: the undirected edge set is pinned and counted in one
    job. At or under the one-task bound (2^20 edges) one task expands
    all {_BFS_DEPTH} levels in numpy and returns the level summaries.
    Above it, expansion is level-synchronous: each level is one hash
    join (edges ⋈ frontier on src; the frontier is node-sized and AQE
    broadcasts it while small, exactly BFS's natural skew) plus one
    LEFT ANTI join against the visited set and one DISTINCT. Each
    frontier is pinned lazily and the visited set is the union of the
    pinned frontiers, so the plan stays FLAT — depth iterations, not a
    2^depth lineage tower. Bounded depth = bounded rounds; nothing is
    ever node²."""
    # r10: per-level eager pins were one job each and dominated the wall.
    und = pin(_und_edges(spark), "reuse")
    if fits_one_task(und):
        return (
            und.coalesce(1)
            .mapInPandas(
                _bfs_levels, "distance int, n_nodes long, min_node long, max_node long"
            )
            .orderBy("distance")
        )
    edges = _directed_edges(und)
    root = edges.agg(F.min("src").alias("node"))
    frontier = pin(root, "reuse")
    # visited = union of the ALREADY-PINNED frontiers: each is a
    # checkpoint scan, so the anti-join input stays flat without
    # re-materializing the growing set every level.
    pinned = [frontier]
    levels = [frontier.select(F.lit(0).alias("distance"), "node")]
    for d in range(1, _BFS_DEPTH + 1):
        visited = pinned[0]
        for p in pinned[1:]:
            visited = visited.unionAll(p)
        # Anti BEFORE distinct (r14, guide §2.3 "project/filter before
        # the exchange"): the broadcast anti-join is map-side, so
        # running it first means the distinct's exchange carries only
        # NEW nodes instead of every candidate dst (at sf0.1 the d=2
        # frontier is 10.8k of 20k nodes — half the candidates are
        # already visited). The broadcast hint ships the visited set,
        # bounded by the node set — the same object the frontier join
        # above already ships per level (AQE broadcasts it), and the
        # repo's standing node-sized-broadcast idiom (graph_hits
        # pushes, kmeans centroids). Measured 5.27 → 3.99 s median
        # (reorder alone, unhinted: 4.63 s).
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .join(F.broadcast(visited), "node", "left_anti")
            .distinct()
            .transform(pin, "reuse")
        )
        levels.append(nxt.select(F.lit(d).alias("distance"), "node"))
        pinned.append(nxt)
        frontier = nxt
    lv = levels[0]
    for more in levels[1:]:
        lv = lv.unionAll(more)
    return lv.groupBy("distance").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    ).orderBy("distance")


#: nullif: a wedge-free graph (isolated edges) has no closure to
#: measure — C is NULL on both engines, never an ANSI abort (r9).
_GCC = (
    "(3.0 * CAST(n_tri AS DOUBLE) / nullif(CAST(n_wedges AS DOUBLE), 0.0))"
)


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_SQL_GRAPH},
    deg AS ({_sql_degrees("und")}),
    oriented AS ({_SQL_ORIENTED}),
    tri AS ({_SQL_TRI}),
    n_tri AS (SELECT count(*) AS n_tri FROM tri),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) AS BIGINT) // 2 AS n_edges,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT n_nodes, n_edges, CAST(n_tri AS BIGINT) AS n_triangles, n_wedges,
           {_sql_round_ieee(_GCC, 6)} AS global_clustering
    FROM agg CROSS JOIN n_tri
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the basket
    graph: C = 3·triangles / wedges — the one-number density-of-closure
    summary (graph_triangle_count localizes triangles per node; this
    normalizes the total against the wedge count that COULD close).

    Scale shape: the same degree-oriented triangle counting as
    graph_triangle_count (each edge counted from its lower-degree
    endpoint → O(√m) work per row) but aggregated to ONE row, and the
    wedge denominator is a closed-form sum over the NODE-sized degree
    table — no wedge enumeration ever happens. Exact integer carriers,
    one IEEE division."""
    # r14 lazy pins, with the adj pin: 3.99 -> 3.44 s median at sf0.1;
    # adj feeds both sides of the closing-set join.
    und = _und_edges(spark).transform(pin, "reuse")
    deg = _degrees(und).transform(pin, "reuse")
    adj = _out_adjacency(und, deg).transform(pin, "reuse")
    tri = (
        _closing_sets(adj)
        .select(F.size("ws").alias("k"))
        # coalesce: the oracle counts triangles with count(*) (0 on an
        # empty graph) while sum() over empty is NULL — align (r9)
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_tri"))
    )
    agg = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    return agg.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        F.col("n_tri").alias("n_triangles"),
        "n_wedges",
        _round_ieee(F.expr(_GCC), 6).alias("global_clustering"),
    )


#: Newman modularity of a node partition, reduced to THREE exact integers:
#: Q = A/m − B/(4m²), where A = within-community edges, B = Σ_c D_c²
#: (D_c = total degree in community c), m = |edges|. One IEEE expression.
#: nullif: an edgeless graph (m = 0) has undefined modularity — NULL on
#: both engines, never an ANSI abort (r9).
_MODULARITY = (
    "(CAST(a_in AS DOUBLE) / nullif(CAST(m AS DOUBLE), 0.0)"
    " - CAST(b_deg AS DOUBLE)"
    "   / nullif(4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE), 0.0))"
)


@query(
    "graph_modularity",
    oracle=f"""
    WITH {_SQL_GRAPH},
    comm AS (SELECT p_partkey AS node, p_brand AS c FROM part),
    edges AS (
      SELECT c1.c AS ca, c2.c AS cb
      FROM und JOIN comm c1 ON und.p1 = c1.node
               JOIN comm c2 ON und.p2 = c2.node
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    a_in AS (
      SELECT CAST(count(*) AS BIGINT) AS a_in FROM edges WHERE ca = cb
    ),
    degs AS (
      SELECT c, CAST(count(*) AS DECIMAL(19,0)) AS d FROM (
        SELECT ca AS c FROM edges UNION ALL SELECT cb AS c FROM edges
      ) GROUP BY c
    ),
    b_deg AS (
      SELECT CAST(sum(d * d) AS DECIMAL(38,0)) AS b_deg,
             CAST(count(*) AS BIGINT) AS n_communities
      FROM degs
    )
    SELECT m, n_communities, a_in,
           {_sql_round_ieee(_MODULARITY, 6)} AS modularity
    FROM m, a_in, b_deg
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the BRAND partition of the co-purchase graph:
    do parts of the same brand co-occur in baskets more than a degree-
    preserving random graph predicts? The partition-quality metric every
    community-detection pipeline optimizes — here evaluated exactly for
    a fixed, semantically meaningful partition (25 brands), the
    composability proof that community scoring works before anyone
    plugs in a detected partition.

    Exactness: Q = Σ_c(m_c/m − (D_c/2m)²) algebraically collapses to
    A/m − B/4m² with A (within-community edges), B = Σ D_c², m all
    exact integers — no per-community float sum, ONE shared IEEE
    expression. Scale shape: edge gen is the single-shuffle basket-
    combination shape (_basket_pairs); community labels join from the
    part dimension (AQE broadcasts); degrees collapse onto the
    25-brand domain before squaring. B ≤ 4m² needs m < 10¹⁸ — decimal
    carriers hold it at any real scale."""
    und = _und_edges(spark)
    comm = spark.table("part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("c")
    )
    edges = (
        und.join(comm.withColumnRenamed("c", "ca"), und.p1 == F.col("node"))
        .drop("node")
        .join(comm.withColumnRenamed("c", "cb"), und.p2 == F.col("node"))
        .select("ca", "cb")
        .transform(pin, "reuse")  # consumed by m, a_in, and the degree union
    )
    m = edges.agg(F.count("*").cast("long").alias("m"))
    a_in = edges.where(F.col("ca") == F.col("cb")).agg(
        F.count("*").cast("long").alias("a_in")
    )
    degs = (
        # Single scan of the pinned edges (r14): unionAll read the
        # checkpoint blocks twice.
        edges.select(F.explode(F.array("ca", "cb")).alias("c"))
        .groupBy("c")
        .agg(F.count("*").cast("decimal(19,0)").alias("d"))
    )
    b_deg = degs.agg(
        F.sum(F.col("d") * F.col("d")).cast("decimal(38,0)").alias("b_deg"),
        F.count("*").cast("long").alias("n_communities"),
    )
    return (
        m.crossJoin(F.broadcast(a_in))
        .crossJoin(F.broadcast(b_deg))
        .select(
            "m",
            "n_communities",
            "a_in",
            _round_ieee(F.expr(_MODULARITY), 6).alias("modularity"),
        )
    )


@query(
    "graph_knn_degree_curve",
    oracle=f"""
    WITH {_SQL_GRAPH},
    dir AS ({_sql_directed("und")}),
    deg AS ({_sql_degrees("und")}),
    nbrsum AS (
      SELECT dir.src AS node,
             CAST(sum(dd.d) AS DECIMAL(38,0)) AS nbr_deg_sum
      FROM dir JOIN deg dd ON dir.dst = dd.node
      GROUP BY dir.src
    )
    SELECT deg.d AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           {_sql_round_ieee(
               "CAST(sum(nbr_deg_sum) AS DOUBLE)"
               " / (CAST(deg.d AS DOUBLE) * CAST(count(*) AS DOUBLE))", 6)}
             AS knn
    FROM deg JOIN nbrsum USING (node)
    GROUP BY deg.d
    ORDER BY degree
    """,
)
def graph_knn_degree_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve k_nn(k) over the co-purchase graph
    — the degree-correlation DIAGNOSTIC that expands
    graph_assortativity's single Pearson scalar into the full curve
    (a rising k_nn(k) = hubs prefer hubs, falling = hubs sit on the
    periphery; the scalar can be ~0 while the curve is U-shaped, which
    is exactly what the curve exists to reveal).

    Exactness: k_nn(k) = (Σ over k-degree nodes of Σ neighbor degrees)
    / (k · n_k) — both sums exact integers (neighbor-degree sums in
    DECIMAL(38,0): a 6e11-edge graph's hub could touch ~1e9 neighbors
    of degree ~1e9 → 1e18-scale row sums, then summed per degree
    class), ONE shared IEEE division per curve point. Scale shape: the
    same single-exchange degree machinery as assortativity — edge list
    built once, one degree aggregate, one dst-keyed join to carry
    degrees back, two bounded rollups; output is |distinct degrees|
    rows."""
    # NOT pinned (r14): the 17 static Exchanges / 6 scans in the plan
    # dedup at runtime via ReusedExchange; both eager and lazy
    # localCheckpoint were measured SLOWER (2.2 → 3.4 s) because the
    # cache materialization costs more than the reuse saves.
    und = _und_edges(spark)
    deg = _degrees(und)
    nbrsum = (
        _directed_edges(und)
        .join(
            deg.select(F.col("node").alias("dst_n"), F.col("d").alias("dd")),
            F.col("dst") == F.col("dst_n"),
        )
        .groupBy(F.col("src").alias("node"))
        .agg(F.sum("dd").cast("decimal(38,0)").alias("nbr_deg_sum"))
    )
    return (
        deg.join(nbrsum, "node")
        .groupBy(F.col("d").alias("degree"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            _round_ieee(
                F.sum("nbr_deg_sum").cast("double")
                / (F.col("d").cast("double") * F.count("*").cast("double")),
                6,
            ).alias("knn"),
        )
        .orderBy("degree")
    )
