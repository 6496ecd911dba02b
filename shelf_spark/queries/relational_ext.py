"""TPC-H q8/q9-shaped queries adapted to this testdata (no partsupp table).

q8's share-of-total-by-group and q9's multi-join profit rollup are the
two classic shapes relational.py/subqueries.py didn't cover: a
conditional-numerator ratio over one aggregation, and a 4-table
fact-dimension join aggregated on (nation, year).

Plans: nation/region carry broadcast hints (bounded dims); customer and
supplier get none — AQE size-decides (see SCALE.md broadcast policy).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tmpdirs import process_tmpdir

from .num import DEC, dsum, dsum_i, sql_dsum_i
from .registry import query

_REVENUE = "l_extendedprice * (1 - l_discount)"


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           round({sql_dsum_i(f"CASE WHEN supp_nation = 'NATION_1' THEN {_REVENUE} ELSE 0 END", 4)}
                 / {sql_dsum_i(_REVENUE, 4)}, 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice, l_discount, n2.n_name AS supp_nation
      FROM customer
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q8 shape: NATION_1 suppliers' share of revenue within the ASIA
    customer market, by order year — a conditional-numerator ratio
    computed in ONE aggregation (two decimal sums per group), not two
    passes. Reference semantics: TPC-H Q8 with part-type predicate
    dropped (no partsupp/part filter in this schema's coverage goal).
    """
    cust = spark.table("customer")
    n1 = spark.table("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    reg = spark.table("region").filter(F.col("r_name") == "ASIA")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    supp = spark.table("supplier")
    n2 = spark.table("nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_rev = F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(reg), F.col("n1_region") == reg.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            F.round(
                dsum_i(nation_rev, 4) / dsum_i(rev, 4),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT nation, o_year,
           {sql_dsum_i(f'{_REVENUE} - 10.0 * l_quantity', 4)} AS profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice, l_discount, l_quantity
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9 shape: profit rollup by supplier nation and order year over the
    full fact table. TPC-H Q9's ps_supplycost has no twin in this schema,
    so unit cost is a fixed 10.0/quantity term — the aggregation and join
    graph (fact ⋈ supplier ⋈ nation ⋈ orders, group by nation × year) is
    what the shape pins. One fact shuffle for the orders join, one for
    the final agg; supplier un-hinted (AQE), nation broadcast.
    """
    li = spark.table("lineitem")
    supp = spark.table("supplier")
    nat = spark.table("nation")
    orders = spark.table("orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 10.0 * F.col(
        "l_quantity"
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("p"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum_i(F.col("p"), 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# r8: storage-bucketed co-located join (the zero-exchange join path)
# ---------------------------------------------------------------------------

_N_BUCKETS = 8


def _layout_tag(sf_dir: str, *tables: str) -> str:
    """Cache tag for the derived layout copies (see ``_layout``): source
    PATH plus each source table's mtime, so a fixture regenerated in
    place yields a NEW tag and the stale copy is never served (it would
    value-mismatch the oracle, which reads the fresh parquet directly)."""
    import hashlib

    from ..data import table_path

    parts = [sf_dir]
    for t in tables:
        p = table_path(sf_dir, t)
        try:
            parts.append(f"{t}:{os.stat(p).st_mtime_ns}")
        except OSError:
            parts.append(f"{t}:absent")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:10]


@functools.cache
def _layout_root() -> str:
    return process_tmpdir("shelf-layout-")


#: (Spark application id, name, tag) → path of each copy written so far.
_LAYOUTS: dict[tuple[str, str, str], str] = {}


def _layout(spark: SparkSession, name: str, tag: str,
            write: Callable[[str], None]) -> str:
    """The path of this process's layout copy ``<name>_<tag>``, which
    ``write(path)`` makes on its first use in this Spark application (a
    new application's catalog no longer holds a bucketed copy's table).
    Every copy lives under one ``shelf-layout-<pid>-`` root per process,
    removed at exit, so concurrent processes (``--workers`` gate shards)
    never check and overwrite one another's copy."""
    key = (spark.sparkContext.applicationId, name, tag)
    if key not in _LAYOUTS:
        path = os.path.join(_layout_root(), f"{name}_{tag}")
        write(path)
        _LAYOUTS[key] = path
    return _LAYOUTS[key]


@query(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dsum_i("o_totalprice", 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY segment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dimension join over STORAGE-BUCKETED tables — the
    co-located-join path that removes the join shuffle entirely at
    100 TB. Both sides are written once as external bucketed tables
    ({_N_BUCKETS} buckets on the customer key, Spark's
    HashPartitioning-compatible layout); the join then reads bucket i
    against bucket i with NO Exchange in the plan
    (tests/test_plans.py::test_bucketed_join_has_no_exchange pins it).
    At a real lake this is the difference between shuffling the fact
    table per join and shuffling it once at WRITE time, amortized over
    every subsequent join on that key — the standard layout for a fact
    table joined daily on the same key.

    The bucketed copies are content-equal to the source parquet (same
    rows, hash-scattered), so the plain-SQL oracle is sound; results
    are an exact integer-grid revenue rollup per segment.
    """
    from ..optimize import write_bucketed

    tag = _layout_tag(sf_dir, "orders", "customer")
    for name, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        tbl = f"bkt_{name}_{tag}"
        _layout(spark, "bkt_" + name, tag, lambda p: write_bucketed(
            spark.table(name), tbl, [key], _N_BUCKETS, sort_keys=[key], path=p,
        ))
    o = spark.table(f"bkt_orders_{tag}")
    c = spark.table(f"bkt_customer_{tag}")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum_i(F.col("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# r8b: partitioned-layout sink + pruned read (the scan-elimination path)
# ---------------------------------------------------------------------------


def _events_by_type(spark: SparkSession, sf_dir: str) -> str:
    """The events copy partitioned by event_type (``/event_type=…/``)."""
    return _layout(
        spark, "events", _layout_tag(sf_dir, "events"),
        lambda p: spark.table("events").write.mode("overwrite")
        .partitionBy("event_type").parquet(p),
    )


@query(
    "sink_partitioned_pruning",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_purchases,
           {sql_dsum_i("value", 2)} AS revenue
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY day
    """,
)
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + pruned read — the scan-elimination
    counterpart of join_bucketed_colocated. Events are written ONCE
    partitioned by event_type (`/event_type=…/` directories); the query
    then filters one type and Spark's planner turns the predicate into
    a PartitionFilter, so non-matching partitions are never opened —
    at a 100 TB lake this is the difference between scanning 5 TB and
    scanning 100 TB for the same answer
    (tests/test_plans.py::test_partitioned_sink_prunes pins the
    PartitionFilters entry and the pruned file count).

    The partitioned copy is content-equal to the source (same rows,
    directory-scattered), so the plain-SQL oracle over `events` is
    sound; the rollup uses the exact integer revenue grid.
    """
    path = _events_by_type(spark, sf_dir)
    # Explicit schema: a zero-row source (r10 empty corpus — or, on a
    # real lake, a partition-pruned-to-nothing write) produces a
    # _SUCCESS-only directory with no data files, and schema INFERENCE
    # aborts with UNABLE_TO_INFER_SCHEMA. The writer's schema is known,
    # so pass it through; non-empty reads are unchanged (pruning works
    # off the directory layout, not the inference).
    e = (
        spark.read.schema(spark.table("events").schema)
        .parquet(path)
        .filter(F.col("event_type") == "purchase")
    )
    return (
        e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            dsum_i(F.col("value"), 2).alias("revenue"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# r8e: Z-order (Morton) clustered layout — multi-dimensional data skipping
# ---------------------------------------------------------------------------

#: Cells per dimension (2^8) → 16-bit Morton code; zbucket = top 8 bits,
#: i.e. each bucket is exactly a 16×16 tile of the (x, y) grid.
_Z_CELLS = 256

# Morton interleave of two 8-bit ints, generated once so the Spark and
# DuckDB expressions are the same formula by construction.
_Z_SPARK = " + ".join(
    f"shiftleft(shiftright(x, {b}) & 1, {2 * b + 1})"
    f" + shiftleft(shiftright(y, {b}) & 1, {2 * b})"
    for b in range(8)
)
_Z_DUCK = " + ".join(
    f"(((x >> {b}) & 1) << {2 * b + 1}) + (((y >> {b}) & 1) << {2 * b})"
    for b in range(8)
)


@query(
    "sink_zorder_layout",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey AS ck,
             date_diff('day', DATE '1992-01-01',
                       CAST(o_orderdate AS DATE)) AS d
      FROM orders
    ), st AS (
      SELECT min(ck) AS ck0, max(ck) AS ck1,
             min(d) AS d0, max(d) AS d1
      FROM base
    ), q AS (
      SELECT CAST(((ck - ck0) * {_Z_CELLS}) // (ck1 - ck0 + 1) AS BIGINT) AS x,
             CAST(((d - d0) * {_Z_CELLS}) // (d1 - d0 + 1) AS BIGINT) AS y
      FROM base CROSS JOIN st
    ), z AS (
      SELECT x, y, ({_Z_DUCK}) AS zv FROM q
    )
    SELECT CAST(zv >> 8 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY 1 ORDER BY zbucket
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering of `orders` on
    (o_custkey, o_orderdate) — the multi-dimensional data-skipping
    layout Delta/Iceberg expose as ``OPTIMIZE … ZORDER BY``. Each
    dimension is linearly quantized to 256 cells, the two 8-bit cell
    coordinates are bit-interleaved into a 16-bit Morton code, and the
    top 8 bits bucket rows into files: by the Morton property every
    bucket is EXACTLY a 16×16 tile of the (custkey, day) grid, so a
    file's parquet footer min/max is ≤1/16 of the domain on BOTH
    columns at once — a predicate on either dimension (or both) prunes
    ~15/16 of the files, where a single-column sort gives tight stats
    on one dimension and full-range stats on the other.

    This entry is the oracle-checkable arithmetic of that layout: the
    per-bucket spans ARE the footer stats a z-ordered writer produces
    (`repartitionByRange(zv).sortWithinPartitions(zv).write` at 100 TB;
    tests/test_plans.py::test_zorder_physical_skipping writes the real
    files and verifies actual footer-stat pruning beats a date-sorted
    baseline). One scalar-stats pass broadcasts 4 numbers; the z math
    is per-row integer ops inside codegen; the only wide op is the
    256-group agg."""
    o = spark.table("orders").select(
        "o_custkey", F.datediff("o_orderdate", F.lit("1992-01-01")).alias("d")
    )
    st = o.agg(
        F.min("o_custkey").alias("ck0"),
        F.max("o_custkey").alias("ck1"),
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
    )
    q = o.crossJoin(F.broadcast(st)).select(
        F.expr(
            f"CAST(((o_custkey - ck0) * {_Z_CELLS}) div (ck1 - ck0 + 1) AS BIGINT)"
        ).alias("x"),
        F.expr(f"CAST(((d - d0) * {_Z_CELLS}) div (d1 - d0 + 1) AS BIGINT)").alias(
            "y"
        ),
    )
    z = q.select("x", "y", F.expr(_Z_SPARK).alias("zv"))
    return (
        z.groupBy(F.expr("CAST(zv >> 8 AS BIGINT)").alias("zbucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy("zbucket")
    )


@query(
    "join_dynamic_partition_pruning",
    oracle=f"""
    WITH hot AS (
      SELECT DISTINCT event_type FROM events
      WHERE user_id = 1 AND value > 150
    )
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_dsum_i("value", 2)} AS revenue
    FROM events JOIN hot USING (event_type)
    GROUP BY 1 ORDER BY day
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact side is the event_type-
    partitioned lake layout, and the partitions to read are decided at
    RUNTIME by the dim side (the event types where one user had
    high-value activity — a computed set no static PartitionFilter
    could know; at sf0.01 exactly ONE of five partitions). Spark
    injects a dynamicpruning subquery under the fact scan that reuses
    the dim's broadcast, so only the 2 matching partition directories
    are ever opened — the join-driven complement of
    sink_partitioned_pruning's static pruning
    (tests/test_plans.py::test_dpp_subquery_in_plan pins the
    dynamicpruning expression in the optimized plan).

    At 100 TB: a star join whose dimension filter survives only as a
    post-scan predicate reads the whole fact lake; DPP turns the same
    plan into a 2-partition read. The partitioned copy is content-equal
    to `events`, so the plain-SQL oracle is sound."""
    path = _events_by_type(spark, sf_dir)
    # Explicit schema — empty-source _SUCCESS-only layout; see
    # sink_partitioned_pruning.
    fact = spark.read.schema(spark.table("events").schema).parquet(path)
    # a FILTER-shaped dim (Spark's DPP heuristic requires a selective
    # Filter on the build side — an aggregate+limit does not qualify)
    dim = (
        spark.table("events")
        .filter((F.col("user_id") == 1) & (F.col("value") > 150))
        .select("event_type")
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            dsum_i(F.col("value"), 2).alias("revenue"),
        )
        .orderBy("day")
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH f AS (
      SELECT l_returnflag AS grp,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), dom AS (
      SELECT grp, cents, CAST(sum(w) AS BIGINT) AS w FROM f GROUP BY 1, 2
    ), cum AS (
      SELECT grp, cents, w,
             sum(w) OVER (PARTITION BY grp ORDER BY cents) AS cw
      FROM dom
    ), tot AS (SELECT grp, CAST(sum(w) AS BIGINT) AS tw FROM dom GROUP BY grp)
    SELECT cum.grp,
           (SELECT tw FROM tot WHERE tot.grp = cum.grp) AS total_weight,
           CAST(min(cents) AS DOUBLE) / 100.0 AS weighted_median
    FROM cum
    WHERE cw >= ((SELECT tw FROM tot WHERE tot.grp = cum.grp) + 1) // 2
    GROUP BY cum.grp ORDER BY cum.grp
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median price per return flag — the
    "median unit sold" rather than the median line item (a 50-unit line
    pulls the median 50× harder), the right center for unit economics.
    Lower weighted median: the smallest price whose cumulative weight
    reaches ⌈W/2⌉, all in exact integers.

    Scale shape: the agg_median_percentile compressed-domain machinery
    generalized to weights — one (group, price-grid) rollup SUMMING
    integer weights, partitioned running weight over the domain, one
    broadcast of group totals. Facts touched once; never sorted."""
    f = spark.table("lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    dom = f.groupBy("grp", "cents").agg(F.sum("w").cast("long").alias("w"))
    from pyspark.sql.window import Window as W

    wcum = W.partitionBy("grp").orderBy("cents").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = dom.withColumn("cw", F.sum("w").over(wcum))
    tot = dom.groupBy("grp").agg(F.sum("w").cast("long").alias("tw"))
    return (
        cum.join(F.broadcast(tot), "grp")
        .filter(F.col("cw") >= F.expr("(tw + 1) div 2"))
        .groupBy("grp", "tw")
        .agg((F.min("cents").cast("double") / 100.0).alias("weighted_median"))
        .select(
            "grp",
            F.col("tw").alias("total_weight"),
            "weighted_median",
        )
        .orderBy("grp")
    )


@query(
    "scan_merge_schema",
    oracle=f"""
    WITH u AS (
      SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dsum_i("o_totalprice", 2)} AS total_price
    FROM u GROUP BY o_orderpriority
    """,
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution ON DISK: two parquet file generations of the same
    table — an old one written BEFORE the o_orderpriority column existed
    and a new one with it — read back through ONE scan with
    ``mergeSchema=true``, which reconciles footers by name and
    null-pads the missing column (set_union_by_name is this operation
    at the DataFrame level; this proves it at the FILE level, where a
    100 TB lake actually lives — old partitions are never rewritten
    when a producer adds a field).

    The two generations are carved deterministically from orders (even
    keys = old schema, odd = new), so the plain-SQL oracle over the
    source with an explicit NULL pad is sound. Aggregating BY the
    evolved column proves the pad lands in the right column, not just
    that rows survive. Scale shape: footer reconciliation is metadata
    work at planning time; the scan itself stays one pass with column
    pruning intact (ReadSchema carries the merged schema)."""
    o = spark.table("orders")

    def write(path: str) -> None:
        (
            o.where(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "gen0"))
        )
        (
            o.where(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "gen1"))
        )

    path = _layout(spark, "mergeschema", _layout_tag(sf_dir, "orders"), write)
    u = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "gen0"), os.path.join(path, "gen1")
    )
    return u.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        dsum_i(F.col("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "sink_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           {sql_dsum_i("l_extendedprice", 2)} AS total_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip: the fact table is written once as
    ORC (Spark's second first-class columnar format — the one a
    Hive-era lake already holds) and the rollup reads it back,
    proving values survive the format conversion bit-exactly (the
    oracle reads the original parquet). A 100 TB migration runs
    exactly this check per table before cutting over; predicate
    pushdown and column pruning work on the ORC scan the same way
    (the plan's ReadSchema carries only the four needed columns).

    The ORC copy is content-equal to the source, so the plain-SQL
    oracle is sound — same contract as the bucketed/partitioned/
    merge-schema layout twins."""
    path = _layout(
        spark, "orc", _layout_tag(sf_dir, "lineitem"),
        lambda p: spark.table("lineitem").write.mode("overwrite").orc(p),
    )
    li = spark.read.orc(path)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        dsum_i(F.col("l_extendedprice"), 2).alias("total_price"),
    )


@query(
    "scan_csv_malformed",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o_orderkey % 97 = 0) AS BIGINT)
             AS n_corrupt,
           CAST(count(*) FILTER (WHERE o_orderkey % 97 <> 0) AS BIGINT)
             AS n_good,
           {sql_dsum_i("CASE WHEN o_orderkey % 97 <> 0 THEN o_totalprice"
                       " ELSE 0 END", 2)} AS total_good
    FROM orders
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input survival: a CSV extract of orders is written with
    a deterministic fraction of corrupt rows (keys ≡0 mod 97 carry a
    non-numeric amount), then read back in PERMISSIVE mode with a
    ``_corrupt_record`` column — the row-level quarantine every real
    ingest needs, because at 100 TB the question is never IF a feed
    has garbage rows but whether the pipeline quarantines them without
    dropping the good ones. The op reports total / corrupt / good
    counts and the exact sum over surviving rows; the oracle recomputes
    all four from the corruption rule, so a value match proves Spark's
    CSV parser classified EVERY row exactly as constructed (a parser
    that silently nulls a good row or swallows a bad one shifts the
    counts or the sum).

    Scale shape: CSV scan + one conditional aggregate; quarantined rows
    cost one string column, never a job failure."""
    path = _layout(
        spark, "csvmal", _layout_tag(sf_dir, "orders"),
        lambda p: spark.table("orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(F.col("o_orderkey") % 97 == 0, F.lit("NOT_A_NUMBER"))
            .otherwise(F.col("o_totalprice").cast("string"))
            .alias("v"),
        )
        .write.mode("overwrite")
        .option("header", "false")
        .csv(p),
    )
    df = (
        spark.read.schema("k LONG, v DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    from .num import dsum_i

    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(F.col("_corrupt_record")).cast("long").alias("n_corrupt"),
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_good"),
        dsum_i(F.coalesce(F.col("v"), F.lit(0.0)), 2).alias("total_good"),
    )
