"""Statistical tests, time-series operators and SQL-surface aggregates,
each held to a DuckDB oracle.

Reference parity: shelf delegates this whole surface to DuckDB SQL steps
(reference src/shelf/tables.py:155-181 runs arbitrary SQL); these are the
aggregate families a shelf user would reach for beyond the fn_*/agg_*
tiers.

Cross-engine determinism strategy (see num.py): every moment (Σx, Σy,
Σxy, Σx², Σy²) is accumulated in DECIMAL — exact, order-independent —
and only the final closed-form expression runs in IEEE doubles, with the
identical op shape on both engines. corr/covar/slope then agree bitwise
before the defensive rounding.

Day-domain base relations. The daily series of the ts_* operators and
stats_runs_test come from five relations defined once, each as a Spark
builder ``_x(spark)`` next to its DuckDB twin ``_sql_x()`` (num.py's
paired style; tests/test_day_relations.py holds them equal row for row):

- A ``_daily_purchase_cents``: purchase events per calendar day, ``cents``
  = Σ floor(value·100 + 0.5). Its one parameter is an extra predicate
  (a Column / its SQL text).
- B ``_purchase_series``: A inside the sane-ts window, ``y`` = cents / 100.0,
  as the one day-sorted series the Holt forecasters fold over.
- C ``_daily_order_cents``: orders per ``o_orderdate``, ``cents`` = Σ
  floor(o_totalprice·100 + 0.5); callers cast to their own DECIMAL
  carrier. ``_order_lag_moments`` is the global and per-lag moments stage
  of ts_acf and ts_ljung_box.
- D ``_seasonal_components``: orders per calendar day, ``rev_c`` = Σ
  round(o_totalprice·100), with its centered 7-row window, weekday and
  total sums.
- E ``_daily_views_purchases``: every event day, view count ``x`` and
  purchase cents ``yi`` (0 when the day has none).

Rules. Every cents carrier is BIGINT on both engines. C and D stay apart:
round(x·100) and floor(x·100 + 0.5) disagree on negative half cents
(−12.5 → −13 vs −12). The complete-case filter ``value IS NOT NULL`` is a
caller's extra predicate, never a default: the other callers report a
purchase day whose values are all NULL as a NULL-cents day. Builders
return unpinned relations; each caller pins at its call site. Facts are
read once, by the base relation's aggregate; everything after it runs on
the calendar-bounded day domain (thousands of rows at any corpus size).

Scale notes for the fact-level operators (100 TB):
- corr/regr/profile are single partial+final hash aggregations — map-side
  combine, one shuffle of O(groups) rows.
- mode is groupBy-count + per-group argmax (window over the *aggregated*
  counts table, not the base table).
- z-score joins a users-sized stats table back to the fact — AQE
  broadcasts it when small; at 100 TB it hash-joins on the same key the
  agg just shuffled on.
- EWMA's frame fold touches ≤8 rows per output row inside one
  sort-within-partition pass — no extra shuffle beyond the window's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .num import _round_ieee, _sql_round_ieee, sane_ts, sql_sane_ts
from .pin import pin
from .registry import query

#: Exact decimal carriers for the moment sums: quantities are integral,
#: prices are 2-decimal, so products are ≤4-decimal — DECIMAL(38,4) holds
#: q*p and p*p exactly with room for the SF-scaled magnitudes.
_DEC2 = "decimal(18,2)"
_D38 = "decimal(38,0)"


def _moments(df: DataFrame, x, y) -> DataFrame:
    """One-pass exact moment sums for (x, y): n, Σx, Σy, Σxy, Σx², Σy².

    x integral, y 2-decimal: ``floor(v·100 + 0.5)`` lands on the exact
    scaled LONG (pure IEEE ops, engine-identical), products of the scaled
    longs stay within int64 (≤1.1e14 per row for 1e5-sized money), and the
    products accumulate exactly in DECIMAL(18,0)→(28,0). Scaling back by
    1e2/1e4 after the cast→double is one IEEE division on identical
    inputs — the distributed-safe way to feed corr/covar/regression
    closed forms, ~3× cheaper per row than decimal-domain multiplication.
    """
    xi = F.floor(x * 100.0 + F.lit(0.5))
    yi = F.floor(y * 100.0 + F.lit(0.5))
    d0 = "decimal(18,0)"
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(xi.cast(d0)).cast("double") / 1.0e2).alias("sx"),
        (F.sum(yi.cast(d0)).cast("double") / 1.0e2).alias("sy"),
        (F.sum((xi * yi).cast(d0)).cast("double") / 1.0e4).alias("sxy"),
        (F.sum((xi * xi).cast(d0)).cast("double") / 1.0e4).alias("sxx"),
        (F.sum((yi * yi).cast(d0)).cast("double") / 1.0e4).alias("syy"),
    )


# ---------------------------------------------------------------------------
# day-domain base relations A-E (rules in the module docstring)
# ---------------------------------------------------------------------------


def _day(ts: str) -> Column:
    return F.to_date(F.date_trunc("day", ts)).alias("day")


def _cents(x: str) -> Column:
    return F.floor(F.col(x) * 100 + F.lit(0.5)).cast("long")


def _daily_purchase_cents(
    spark: SparkSession, where: Column | None = None
) -> DataFrame:
    """A: ``day, cents`` over purchase events that also pass ``where``."""
    keep = F.col("event_type") == "purchase"
    if where is not None:
        keep = keep & where
    return (
        spark.table("events")
        .filter(keep)
        .groupBy(_day("ts"))
        .agg(F.sum(_cents("value")).alias("cents"))
    )


def _sql_daily_purchase_cents(where: str | None = None) -> str:
    keep = "event_type = 'purchase'" + (f" AND {where}" if where else "")
    return f"""
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE {keep} GROUP BY 1"""


def _purchase_series(spark: SparkSession) -> DataFrame:
    """B: one row, ``s`` = the (day, y) structs of A in the sane-ts
    window, sorted by day."""
    daily = _daily_purchase_cents(spark, sane_ts(F.col("ts")))
    y = (F.col("cents").cast("double") / 100.0).alias("y")
    return daily.agg(
        F.sort_array(F.collect_list(F.struct("day", y))).alias("s")
    )


def _sql_purchase_series() -> str:
    """B's twin as rows ``day, y, i`` (i = 1-based position by day)."""
    return f"""
      SELECT day, CAST(cents AS DOUBLE) / 100.0 AS y,
             row_number() OVER (ORDER BY day) AS i
      FROM ({_sql_daily_purchase_cents(sql_sane_ts('ts'))})"""


def _daily_order_cents(spark: SparkSession) -> DataFrame:
    """C: ``day, cents`` per ``o_orderdate``."""
    return (
        spark.table("orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum(_cents("o_totalprice")).alias("cents"))
    )


def _sql_daily_order_cents() -> str:
    return """
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1"""


def _order_lag_moments(
    daily: DataFrame, lags: tuple[int, ...]
) -> tuple[DataFrame, DataFrame]:
    """C's moments on ``rev`` = DECIMAL(19,0) cents: one global row
    ``n, s, q`` and, per lag k, ``pk, hk, tk, n_terms`` over the day
    pairs (a, a + k)."""
    rev = daily.select("day", F.col("cents").cast("decimal(19,0)").alias("rev"))
    glob = rev.agg(
        F.count("*").cast("decimal(19,0)").alias("n"),
        F.sum("rev").cast(_D38).alias("s"),
        F.sum(F.col("rev") * F.col("rev")).cast(_D38).alias("q"),
    )
    lag = daily.sparkSession.createDataFrame([(k,) for k in lags], "lag int")
    a = rev.select(F.col("day").alias("day_a"), F.col("rev").alias("rev_a"))
    b = rev.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    lagged = (
        a.crossJoin(F.broadcast(lag))
        .join(b, F.col("day_b") == F.expr("date_add(day_a, lag)"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("rev_a") * F.col("rev_b")).cast(_D38).alias("pk"),
            F.sum("rev_a").cast(_D38).alias("hk"),
            F.sum("rev_b").cast(_D38).alias("tk"),
            F.count("*").cast("long").alias("n_terms"),
        )
    )
    return glob, lagged


def _sql_order_lag_moments(lags: tuple[int, ...]) -> str:
    """The twin as CTEs ``daily``, ``gmom`` and ``lagged``, for a caller's
    WITH list."""
    return f"""daily AS (
      SELECT day, CAST(cents AS DECIMAL(19,0)) AS rev
      FROM ({_sql_daily_order_cents()})
    ), gmom AS (
      SELECT CAST(count(*) AS DECIMAL(19,0)) AS n,
             CAST(sum(rev) AS DECIMAL(38,0)) AS s,
             CAST(sum(rev * rev) AS DECIMAL(38,0)) AS q
      FROM daily
    ), lagged AS (
      SELECT l.lag,
             CAST(sum(a.rev * b.rev) AS DECIMAL(38,0)) AS pk,
             CAST(sum(a.rev) AS DECIMAL(38,0)) AS hk,
             CAST(sum(b.rev) AS DECIMAL(38,0)) AS tk,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM (SELECT unnest(ARRAY{list(lags)}) AS lag) l
        JOIN daily a ON true
        JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
      GROUP BY l.lag
    )"""


def _seasonal_components(spark: SparkSession) -> DataFrame:
    """D: per order day ``dow`` (0 = Sunday), ``rev_c``, the centered
    7-row window ``s7, c7``, the weekday's ``sd, nd`` and the totals
    ``st, nt``."""
    daily = (
        spark.table("orders")
        .groupBy(_day("o_orderdate"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))
    )
    # Spark dayofweek is 1(Sun)–7(Sat); DuckDB's is 0(Sun)–6(Sat).
    dow = (F.dayofweek("day") - F.lit(1)).cast("int")
    const = F.pmod(F.unix_date(F.col("day")), F.lit(1))  # bounded day domain
    w7 = W.partitionBy(const).orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "rev_c",
        dow.alias("dow"),
        F.sum("rev_c").over(w7).alias("s7"),
        F.count("*").over(w7).alias("c7"),
    )
    dow_avg = daily.groupBy(dow.alias("dow")).agg(
        F.sum("rev_c").alias("sd"), F.count("*").alias("nd")
    )
    tot = daily.agg(F.sum("rev_c").alias("st"), F.count("*").alias("nt"))
    return win.join(F.broadcast(dow_avg), "dow").crossJoin(F.broadcast(tot))


def _sql_seasonal_components() -> str:
    return """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS rev_c
        FROM orders GROUP BY 1
      ), win AS (
        SELECT day, rev_c, CAST(dayofweek(day) AS INT) AS dow,
               sum(rev_c) OVER w AS s7, count(*) OVER w AS c7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      ), dow_avg AS (
        SELECT CAST(dayofweek(day) AS INT) AS dow,
               sum(rev_c) AS sd, count(*) AS nd
        FROM daily GROUP BY 1
      ), tot AS (SELECT sum(rev_c) AS st, count(*) AS nt FROM daily)
      SELECT w.dow, w.day, w.rev_c, w.s7, w.c7, d.sd, d.nd, t.st, t.nt
      FROM win w JOIN dow_avg d ON d.dow = w.dow CROSS JOIN tot t"""


def _daily_views_purchases(spark: SparkSession) -> DataFrame:
    """E: ``day, x, yi`` over every event day."""
    return (
        spark.table("events")
        .groupBy(_day("ts"))
        .agg(
            F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", _cents("value"))),
                F.lit(0),
            ).alias("yi"),
        )
    )


def _sql_daily_views_purchases() -> str:
    return """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) FILTER (WHERE event_type = 'view') AS x,
             CAST(coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                             FILTER (WHERE event_type = 'purchase'), 0)
                  AS BIGINT) AS yi
      FROM events GROUP BY 1"""


@query(
    "agg_corr_regr",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(xi AS DECIMAL(18,0))) AS DOUBLE) / 1e2 AS sx,
             CAST(sum(CAST(yi AS DECIMAL(18,0))) AS DOUBLE) / 1e2 AS sy,
             CAST(sum(CAST(xi * yi AS DECIMAL(18,0))) AS DOUBLE) / 1e4 AS sxy,
             CAST(sum(CAST(xi * xi AS DECIMAL(18,0))) AS DOUBLE) / 1e4 AS sxx,
             CAST(sum(CAST(yi * yi AS DECIMAL(18,0))) AS DOUBLE) / 1e4 AS syy
      FROM (SELECT CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS xi,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS yi
            FROM lineitem)
    )
    SELECT CAST(n AS BIGINT) AS n,
           {corr} AS corr_qty_price,
           {covar} AS covar_pop,
           {slope} AS regr_slope,
           {icept} AS regr_intercept
    FROM m
    """.format(
        corr=_sql_round_ieee(
            "((n * sxy) - (sx * sy))"
            " / nullif(sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy)),"
            " 0.0)",
            6,
        ),
        covar=_sql_round_ieee("((n * sxy) - (sx * sy)) / (n * n)", 4),
        slope=_sql_round_ieee(
            "((n * sxy) - (sx * sy)) / nullif((n * sxx) - (sx * sx), 0.0)", 6
        ),
        icept=_sql_round_ieee(
            "(sy / n) - ((((n * sxy) - (sx * sy))"
            " / nullif((n * sxx) - (sx * sx), 0.0)) * (sx / n))",
            4,
        ),
    ),
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS regression of price on quantity, from
    exact decimal moment sums (NOT the engines' native corr()/regr_*,
    whose float accumulation order is engine- and partition-dependent).
    Single aggregation pass; closed forms in fixed-shape IEEE ops.
    """
    li = spark.table("lineitem")
    m = _moments(li, F.col("l_quantity"), F.col("l_extendedprice"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxy = F.col("sxy")
    sxx, syy = F.col("sxx"), F.col("syy")
    cov_n2 = (n * sxy) - (sx * sy)  # n² · covar_pop
    # try_divide: zero-variance x (or y, for r) makes the statistic
    # undefined — NULL on both engines, never an ANSI abort (r9)
    slope = F.try_divide(cov_n2, (n * sxx) - (sx * sx))
    return m.select(
        F.col("n").cast("long").alias("n"),
        _round_ieee(
            F.try_divide(
                cov_n2,
                F.sqrt((n * sxx) - (sx * sx)) * F.sqrt((n * syy) - (sy * sy)),
            ),
            6,
        ).alias("corr_qty_price"),
        _round_ieee(cov_n2 / (n * n), 4).alias("covar_pop"),
        _round_ieee(slope, 6).alias("regr_slope"),
        _round_ieee((sy / n) - (slope * (sx / n)), 4).alias("regr_intercept"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, o_orderpriority, count(*) AS cnt
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderpriority
    ), ranked AS (
      SELECT c_mktsegment, o_orderpriority, cnt,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT c_mktsegment, o_orderpriority AS modal_priority, cnt AS n_orders
    FROM ranked WHERE rn = 1
    ORDER BY c_mktsegment
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group with a DETERMINISTIC tie-break
    (min value) — native mode() leaves ties unspecified in both engines.
    Shape: groupBy-count (one shuffle over the fact), then argmax via a
    window over the tiny aggregated counts table only.
    """
    counts = (
        spark.table("orders")
        .join(spark.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("cnt"), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("cnt").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_bitwise",
    oracle="""
    SELECT c_nationkey,
           CAST(bit_and(c_custkey) AS BIGINT) AS key_and,
           CAST(bit_or(c_custkey)  AS BIGINT) AS key_or,
           CAST(bit_xor(c_custkey) AS BIGINT) AS key_xor
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates — integer-exact, hence trivially
    order-independent; one partial+final hash agg."""
    return (
        spark.table("customer")
        .groupBy("c_nationkey")
        .agg(
            F.bit_and("c_custkey").alias("key_and"),
            F.bit_or("c_custkey").alias("key_or"),
            F.bit_xor("c_custkey").alias("key_xor"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           CAST(count(*) AS BIGINT) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg). collect_list's arrival order
    is partition-dependent, so sort INSIDE the array before joining —
    the distributed-safe equivalent of ORDER BY inside string_agg."""
    sup = spark.table("supplier")
    nat = spark.table("nation")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "suppliers"
            ),
            F.count("*").alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


@query(
    "join_lateral_topn",
    oracle="""
    SELECT n_name, c_name, round(c_acctbal, 2) AS acctbal
    FROM nation, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 3
    ) top_c
    ORDER BY n_name, acctbal DESC, c_name
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-3 customers per nation), expressed
    with Spark SQL's LATERAL syntax. Catalyst decorrelates it to a
    ranked-window + join — the same plan you'd hand-write — so the
    per-key LIMIT never executes as a nested loop.
    """
    return spark.sql(
        """
        SELECT n_name, c_name, round(c_acctbal, 2) AS acctbal
        FROM nation, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) top_c
        ORDER BY n_name, acctbal DESC, c_name
        """
    )


@query(
    "dq_profile",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                    AS n_rows,
           CAST(count(c_name) AS BIGINT)               AS n_name_nonnull,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           round(min(c_acctbal), 2)                    AS min_bal,
           round(max(c_acctbal), 2)                    AS max_bal,
           {avg_bal} AS avg_bal
    FROM customer
    """.format(
        avg_bal=_sql_round_ieee(
            "CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS DECIMAL(18,0)))"
            " AS DOUBLE) / 100.0 / count(c_acctbal)",
            4,
        )
    ),
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of a table: row/null/distinct counts
    plus min/max/avg of the numeric column — the pre-ingest audit a
    pipeline runs before accepting a new snapshot (reference validates
    via jsonschema, src/shelf/table_metadata.py; this is the data-side
    twin). Single aggregation, one row out."""
    c = spark.table("customer")
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_name").alias("n_name_nonnull"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        _round_ieee(
            F.sum(
                F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)).cast("decimal(18,0)")
            ).cast("double")
            / 100.0
            / F.count("c_acctbal"),
            4,
        ).alias("avg_bal"),
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(vi AS DECIMAL(18,0))) AS DOUBLE) / 1e2 AS s1,
             CAST(sum(CAST(vi * vi AS DECIMAL(18,0))) AS DOUBLE) / 1e4 AS s2
      FROM (SELECT user_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vi
            FROM events)
      GROUP BY user_id
      HAVING count(*) >= 10
    )
    SELECT event_id, e.user_id, round(value, 2) AS value, {z} AS zscore
    FROM events e JOIN stats USING (user_id)
    WHERE abs({zraw}) > 2.5
    ORDER BY event_id
    """.format(
        z=_sql_round_ieee(
            "(value - (s1 / n)) / sqrt((s2 / n) - ((s1 / n) * (s1 / n)))", 4
        ),
        zraw="(value - (s1 / n)) / sqrt((s2 / n) - ((s1 / n) * (s1 / n)))",
    ),
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomaly flags: exact decimal moment sums per user
    (one shuffle), joined back to the fact on the SAME key — Catalyst
    reuses the hash partitioning, and AQE broadcasts the users-sized
    stats table when it's small. μ and σ come from exact sums, so the
    z expression is identical IEEE arithmetic on both engines."""
    e = spark.table("events")
    stats = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            (
                F.sum(
                    F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("decimal(18,0)")
                ).cast("double")
                / 1.0e2
            ).alias("s1"),
            (
                F.sum(
                    (
                        F.floor(F.col("value") * 100.0 + F.lit(0.5))
                        * F.floor(F.col("value") * 100.0 + F.lit(0.5))
                    ).cast("decimal(18,0)")
                ).cast("double")
                / 1.0e4
            ).alias("s2"),
        )
        .filter(F.col("n") >= 10)
    )
    mean = F.col("s1") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt((F.col("s2") / F.col("n")) - (mean * mean))
    return (
        e.join(stats, "user_id")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            _round_ieee(z, 4).alias("zscore"),
        )
        .orderBy("event_id")
    )


@query(
    "ts_ewma",
    oracle="""
    SELECT event_id, user_id,
           {ewma} AS ewma_value
    FROM (
      SELECT event_id, user_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS frame
      FROM events
    )
    ORDER BY event_id
    """.format(
        # list_filter: Spark's collect_list SKIPS null values while
        # DuckDB's list() keeps them (a null would poison the whole
        # fold) — drop them from the collected frame so both engines
        # fold the same observed subsequence; frame POSITIONS (7
        # preceding rows) are identical either way (r10 nulls corpus).
        ewma=_sql_round_ieee(
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            " list_filter(frame, x -> x IS NOT NULL)),"
            " (acc, x) -> (acc * 0.5) + x)",
            6,
        )
    ),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed EWMA (half-life decay 0.5) over each user's last 8 events:
    collect the ordered frame, left-fold acc*0.5 + x. The 0.5 multiply is
    a pure exponent shift (exact), the fold order is pinned by the window
    ORDER BY on both engines, so results agree bitwise before rounding.
    Frame-bounded (≤8 rows) — cost is O(1) per row inside the window's
    single sort-within-partition pass; no driver state, no extra shuffle.
    """
    e = spark.table("events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, W.currentRow)
    )
    frame = F.collect_list("value").over(w)
    fold = F.aggregate(frame, F.lit(0.0), lambda acc, x: acc * F.lit(0.5) + x)
    return e.select(
        "event_id", "user_id", _round_ieee(fold, 6).alias("ewma_value")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# exact quantile binning (feature bucketization)
# ---------------------------------------------------------------------------

_N_BINS = 10


@query(
    "ml_quantile_bins",
    oracle=f"""
    WITH pc AS (
      SELECT l_extendedprice AS price, count(*) AS cnt
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT price, cnt,
             sum(cnt) OVER (ORDER BY price
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c,
             sum(cnt) OVER () AS n
      FROM pc
    ), bounds AS (
      SELECT {", ".join(
        f"min(CASE WHEN c >= (({i} * n + {_N_BINS - 1}) // {_N_BINS})"
        f" THEN price END) AS b{i}" for i in range(1, _N_BINS))}
      FROM cum
    )
    SELECT CAST(1 {"".join(
        f" + (CASE WHEN l_extendedprice > b{i} THEN 1 ELSE 0 END)"
        for i in range(1, _N_BINS))} AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           (CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                          AS DECIMAL(18,0))) AS DOUBLE) / 100.0) AS sum_price
    FROM lineitem CROSS JOIN bounds
    GROUP BY 1 ORDER BY 1
    """,
)
def ml_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile bucketization of ``l_extendedprice`` — the
    feature-binning pass (equal-frequency bins) an ML feature pipeline
    runs before one-hot/WOE encoding. Boundary i is the percentile-disc
    value: the smallest price whose cumulative count reaches
    ``ceil(i·n/10)`` (pure integer arithmetic — no interpolation, no FP
    rank math), and a row's bin is 1 + the number of boundaries strictly
    below its price, so ties land deterministically in the lower bin on
    both engines.

    Scale shape: the fact table is never globally sorted or row-numbered.
    Ranks come from the COMPRESSED value domain — one groupBy on price
    (shuffle volume = distinct prices, i.e. the money grid, ≪ rows), a
    DISTRIBUTED prefix sum over that domain table
    (prefix.attach_prefix_sums: range-partition on price, local running
    sums, broadcast per-partition offsets — no single-task window even if
    the value domain itself grows), and one 9-value boundary aggregate
    that broadcasts back for a map-only bin assignment. The total row
    count is a 1-row broadcast cross join straight off the fact scan.
    Boundary ranks use integer ``div`` (not ``floor`` of a double
    division, which is exact only while i·n+9 < 2⁵³ — the oracle's ``//``
    is exact at any row count, so the Spark side must be too)."""
    li = spark.table("lineitem")
    # repartitionByRange's sampling pass re-ran the fact aggregation
    # (2.3 → 2.0 s at sf0.1)
    pc = li.groupBy(F.col("l_extendedprice").alias("price")).agg(
        F.count("*").alias("cnt")
    ).transform(pin, "reuse")
    from .prefix import attach_prefix_sums

    cum = attach_prefix_sums(pc, ["price"], ["cnt"]).select(
        "price", F.col("cnt_upto").alias("c")
    )
    # Total from the pinned domain (r14): Σ cnt == count(*), without a
    # second pass over the facts.
    total = pc.agg(F.sum("cnt").alias("n"))
    bounds = cum.crossJoin(F.broadcast(total)).agg(
        *[
            F.min(
                F.when(
                    F.col("c")
                    >= F.expr(f"({i} * n + {_N_BINS - 1}) div {_N_BINS}"),
                    F.col("price"),
                )
            ).alias(f"b{i}")
            for i in range(1, _N_BINS)
        ]
    )
    bin_expr = F.lit(1)
    for i in range(1, _N_BINS):
        bin_expr = bin_expr + F.when(F.col("price") > F.col(f"b{i}"), 1).otherwise(
            0
        )
    # Per-bin stats from the COMPRESSED domain (r14): every output
    # aggregate is a function of price alone, so the former second fact
    # scan (+ broadcast join per fact row) collapses onto the pinned
    # (price, cnt) table — n_rows = Σ cnt, min/max over member prices,
    # and the dsum_i money sum carries multiplicity as an exact
    # decimal product (Σ cnt·floor(price·100+.5) == the per-row sum).
    # Identical integers → identical doubles. Facts are now scanned
    # ONCE at any corpus size.
    return (
        pc.crossJoin(F.broadcast(bounds))
        .groupBy(bin_expr.cast("long").alias("bin"))
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
            (
                F.sum(
                    F.col("cnt").cast("decimal(18,0)")
                    * F.floor(F.col("price") * 100.0 + F.lit(0.5)).cast(
                        "decimal(18,0)"
                    )
                ).cast("double")
                / 100.0
            ).alias("sum_price"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline)
# ---------------------------------------------------------------------------


@query(
    "ml_pareto_frontier",
    oracle="""
    SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
    )
    ORDER BY p_size, p_partkey
    """,
)
def ml_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier mining: the parts not dominated on
    (maximize size, minimize price) — the multi-objective shortlist query
    (cheapest-per-capability) behind model/config selection dashboards.
    A part is dominated if some part is ≥ on size AND ≤ on price with at
    least one strict; ties (identical size+price) dominate neither way,
    so both survive — matching the oracle's NOT EXISTS exactly.

    Scale shape: the classic sort-based skyline, but the sort runs over
    the COMPRESSED objective domain, not the facts. One map-side-combined
    groupBy on p_size (bounded: the 1..50 size grid) yields min-price per
    size; a strict-suffix min over that ≤50-row domain (constant-key
    window — bounded by the grid, not the data) gives "cheapest at any
    strictly larger size"; the frontier test is then a map-only broadcast
    join back onto the part scan: keep iff price == min at own size AND
    price < suffix-min. The O(n²) dominance pair join never materializes
    — the oracle's NOT EXISTS is quadratic, this plan is one agg + one
    broadcast map pass."""
    return pareto_frontier(spark.table("part"))


def pareto_frontier(part: DataFrame) -> DataFrame:
    """Skyline over a (p_partkey, p_size, p_retailprice) relation — the
    reusable core of :func:`ml_pareto_frontier` (also driven directly by
    the brute-force-dominance stress test)."""
    by_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("mn"))
    # Bounded domain (size grid ≤ 50 rows by the TPC-H spec): constant
    # partition key keeps the window spec non-empty (prefix.py idiom).
    const = F.pmod(F.col("p_size"), F.lit(1))
    w_sfx = (
        W.partitionBy(const)
        .orderBy(F.desc("p_size"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    dom = by_size.select(
        "p_size", "mn", F.min("mn").over(w_sfx).alias("sfx_mn")
    )
    return (
        part.join(F.broadcast(dom), "p_size")
        .filter(
            (F.col("p_retailprice") <= F.col("mn"))
            & (
                F.col("sfx_mn").isNull()
                | (F.col("p_retailprice") < F.col("sfx_mn"))
            )
        )
        .select(
            "p_partkey",
            F.col("p_size").cast("long").alias("p_size"),
            "p_retailprice",
        )
        .orderBy("p_size", "p_partkey")
    )


# ---------------------------------------------------------------------------
# robust (MAD) outlier detection
# ---------------------------------------------------------------------------


@query(
    "events_anomaly_mad",
    oracle="""
    WITH e AS (
      -- complete-case: a NULL metric is a missing observation, not a
      -- data point — and a null grid value would sit at OPPOSITE ends
      -- of the two engines' cumulative-count windows (Spark sorts nulls
      -- first, DuckDB last), shifting the discrete median (r10 nulls
      -- corpus find).
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
      FROM events WHERE value IS NOT NULL
    ), dom AS (
      SELECT event_type, vi, count(*) AS cnt FROM e GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, vi,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY vi) AS c
      FROM dom
    ), n AS (
      SELECT event_type, count(*) AS n FROM e GROUP BY 1
    ), med AS (
      SELECT event_type, min(vi) AS med_i
      FROM cum JOIN n USING (event_type)
      WHERE c >= (n + 1) // 2 GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, abs(vi - med_i) AS di
      FROM e JOIN med USING (event_type)
    ), ddom AS (
      SELECT event_type, di, count(*) AS cnt FROM dev GROUP BY 1, 2
    ), dcum AS (
      SELECT event_type, di,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY di) AS c
      FROM ddom
    ), mad AS (
      SELECT event_type, min(di) AS mad_i
      FROM dcum JOIN n USING (event_type)
      WHERE c >= (n + 1) // 2 GROUP BY event_type
    )
    SELECT dev.event_type,
           CAST(max(n.n) AS BIGINT)                       AS n_events,
           CAST(max(med.med_i) AS DOUBLE) / 100.0         AS median,
           CAST(max(mad.mad_i) AS DOUBLE) / 100.0         AS mad,
           CAST(count(*) FILTER (WHERE di > 3 * mad_i) AS BIGINT)
                                                          AS n_outliers
    FROM dev
      JOIN med USING (event_type)
      JOIN mad USING (event_type)
      JOIN n   USING (event_type)
    GROUP BY dev.event_type ORDER BY dev.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: median and median-absolute-
    deviation (the estimator that survives the heavy-tailed metrics that
    break z-scores), flagging values beyond 3·MAD. Both medians are
    EXACT discrete percentiles (smallest value whose cumulative count
    reaches ceil(n/2)) computed on the 2dp integer grid — every number
    cross-engine bit-exact, no quantile interpolation ambiguity.

    Scale shape: facts are never sorted — both median passes run over
    the COMPRESSED (type, value-grid) domain (shuffle volume = distinct
    2dp values per type, ≪ rows), with partitioned running counts inside
    the type exchange. The per-type medians relation is bounded by the
    type catalog → broadcast back; the deviation pass and outlier count
    are map-only + one map-side-combined agg. Same domain-compression
    design as ml_quantile_bins, generalized to grouped robust stats."""
    # Complete-case (matches the oracle's WHERE): see the oracle note.
    e = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vi"),
        )
    )
    n = e.groupBy("event_type").agg(F.count("*").alias("n"))

    def disc_median(vals: DataFrame, col: str) -> DataFrame:
        dom = vals.groupBy("event_type", col).agg(F.count("*").alias("cnt"))
        wt = (
            W.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        cum = dom.withColumn("c", F.sum("cnt").over(wt))
        return (
            cum.join(F.broadcast(n), "event_type")
            .filter(F.col("c") >= F.expr("(n + 1) div 2"))
            .groupBy("event_type")
            .agg(F.min(col).alias(f"{col}_med"))
        )

    med = disc_median(e, "vi").withColumnRenamed("vi_med", "med_i")
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("vi") - F.col("med_i")).alias("di")
    )
    mad = disc_median(dev, "di").withColumnRenamed("di_med", "mad_i")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count(F.when(F.col("di") > 3 * F.col("mad_i"), 1))
            .cast("long")
            .alias("n_outliers"),
        )
        .join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "n_events",
            (F.col("med_i").cast("double") / 100.0).alias("median"),
            (F.col("mad_i").cast("double") / 100.0).alias("mad"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# leave-one-out target encoding
# ---------------------------------------------------------------------------

#: Fixed-shape LOO expression: scaled-int sum minus the row's own scaled
#: value, one subtract + two divisions in this order on both engines.
_SQL_LOO = (
    "round(CAST(s - x AS DOUBLE) / 100.0 / CAST(n - 1 AS DOUBLE), 6)"
)


@query(
    "ml_target_encoding",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      FROM orders
    ), g AS (
      SELECT o_orderpriority, sum(x) AS s, count(*) AS n
      FROM o GROUP BY 1
    )
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN n > 1 THEN {_SQL_LOO} END AS loo_price
    FROM o JOIN g USING (o_orderpriority)
    ORDER BY o_orderkey
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value — the category→number featurization a tabular-ML pipeline runs
    with the row's own target excluded (the standard target-leakage
    guard). Each order gets (Σ_category − own) / (n_category − 1);
    singleton categories encode NULL rather than a degenerate 0/0.

    Scale shape: one map-side-combined aggregate over the bounded
    priority catalog, broadcast back onto the scan → map-only encode;
    the fact table never shuffles. Sums ride the 2dp integer grid in
    int64 (exact, order-independent); the subtract + two divisions are a
    fixed IEEE op sequence → bit-identical on both engines. The same
    plan shape holds for any bounded-cardinality categorical; a
    high-cardinality key would swap the broadcast for a keyed shuffle
    join with AQE deciding."""
    o = spark.table("orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    return (
        o.join(F.broadcast(g), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(F.col("n") > 1, F.expr(_SQL_LOO)).alias("loo_price"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# classifier evaluation metrics
# ---------------------------------------------------------------------------

#: Fixed decision thresholds on the score (n_chars here); an eval
#: harness sweeps these over a grid.
_EVAL_THRESHOLDS = (200, 300, 400)

#: Fixed-shape ratio metric on exact integer counts: one division (or a
#: guarded NULL when the denominator is empty), rounded to 6dp —
#: identical IEEE on both engines.
def _sql_prf(num: str, den: str) -> str:
    return (
        f"CASE WHEN {den} > 0 THEN "
        f"round(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE), 6) END"
    )


@query(
    "ml_eval_binary_metrics",
    oracle=f"""
    WITH scored AS (
      SELECT n_chars AS score, (lang = 'en') AS y FROM documents
    ), cm AS (
      SELECT t.threshold,
             count(*) FILTER (WHERE score >= t.threshold AND y)     AS tp,
             count(*) FILTER (WHERE score >= t.threshold AND NOT y) AS fp,
             count(*) FILTER (WHERE score <  t.threshold AND y)     AS fn,
             count(*) FILTER (WHERE score <  t.threshold AND NOT y) AS tn
      FROM scored CROSS JOIN (
        SELECT unnest(ARRAY{list(_EVAL_THRESHOLDS)}) AS threshold) t
      GROUP BY t.threshold
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           {_sql_prf('tp', 'tp + fp')} AS precision_,
           {_sql_prf('tp', 'tp + fn')} AS recall_,
           {_sql_prf('2 * tp', '2 * tp + fp + fn')} AS f1
    FROM cm ORDER BY threshold
    """,
)
def ml_eval_binary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation sweep: confusion counts and
    precision/recall/F1 at the fixed decision thresholds
    {_EVAL_THRESHOLDS} — the eval harness every model-quality gate runs on a
    held-out table (here: doc length scored against the lang=='en'
    truth; in production the score column is a model output). Metrics
    are one guarded division over exact int64 counts → bit-identical
    across engines; empty denominators yield NULL, not 0/0.

    Scale shape: ONE pass over the scan — the threshold grid is a
    one-row-per-threshold explode (map-side, constant fan-out)
    into a single map-side-combined aggregate of conditional counts;
    output is thresholds-sized. No shuffle of the fact table, no
    per-threshold rescan — adding thresholds widens the explode
    constant, never re-reads data."""
    scored = spark.table("documents").select(
        F.col("n_chars").alias("score"), (F.col("lang") == "en").alias("y")
    )
    grid = scored.select(
        "score",
        "y",
        F.explode(
            F.array(*[F.lit(t) for t in _EVAL_THRESHOLDS])
        ).alias("threshold"),
    )
    pos = F.col("score") >= F.col("threshold")
    cm = grid.groupBy("threshold").agg(
        F.count(F.when(pos & F.col("y"), 1)).alias("tp"),
        F.count(F.when(pos & ~F.col("y"), 1)).alias("fp"),
        F.count(F.when(~pos & F.col("y"), 1)).alias("fn"),
        F.count(F.when(~pos & ~F.col("y"), 1)).alias("tn"),
    )
    return cm.select(
        F.col("threshold").cast("long").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.expr(_sql_prf("tp", "tp + fp")).alias("precision_"),
        F.expr(_sql_prf("tp", "tp + fn")).alias("recall_"),
        F.expr(_sql_prf("2 * tp", "2 * tp + fp + fn")).alias("f1"),
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# lagged cross-correlation (lead-indicator screen)
# ---------------------------------------------------------------------------

_XCORR_LAGS = (0, 1, 2, 3)

#: Pearson r from exact integer moment sums — the agg_corr_regr closed
#: form, shared verbatim by both engines (x = view count, y = 2dp-grid
#: purchase revenue).
#: nullif: a zero-variance series (constant x or y at some lag) makes r
#: undefined — NULL on both engines, never an ANSI abort (r9).
_SQL_XCORR = (
    "round(((n * sxy) - (sx * sy))"
    " / nullif(sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy)), 0.0), 6)"
)


@query(
    "ts_cross_correlation",
    oracle=f"""
    WITH daily AS ({_sql_daily_views_purchases()}
    ), lagged AS (
      SELECT l.lag, a.x, b.yi
      FROM (SELECT unnest(ARRAY{list(_XCORR_LAGS)}) AS lag) l
        JOIN daily a ON true
        JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
    ), m AS (
      SELECT lag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(yi AS DECIMAL(18,0))) AS DOUBLE) / 1e2 AS sy,
             CAST(sum(CAST(x * yi AS DECIMAL(18,0))) AS DOUBLE) / 1e2 AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(yi * yi AS DECIMAL(18,0))) AS DOUBLE) / 1e4 AS syy
      FROM lagged GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           {_SQL_XCORR} AS corr
    FROM m ORDER BY lag
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between daily view counts and daily
    purchase revenue (lags {_XCORR_LAGS}) — the lead-indicator
    screen (does today's traffic predict revenue k days out?) a metrics
    team runs before building a forecast. Moments accumulate as exact
    scaled ints per lag; the Pearson closed form is the shared
    fixed-shape IEEE expression (agg_corr_regr's discipline) →
    bit-identical across engines.

    Scale shape: base relation E; the lag self-join and moment sums run
    on the (days × lags)-sized relation."""
    # both lag-join sides (r15: wall 3.3-3.6 s lazy vs 1.1-1.8 s)
    daily = _daily_views_purchases(spark).transform(pin, "fanout")
    # Build the lag grid from the tuple VALUES (not its length) so a
    # non-contiguous / non-zero-based _XCORR_LAGS stays in sync with the
    # oracle, which unnests the same values.
    lags = spark.createDataFrame([(int(l),) for l in _XCORR_LAGS], "lag int")
    a = daily.select(F.col("day").alias("day_a"), "x")
    b = daily.select(F.col("day").alias("day_b"), "yi")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.expr("date_add(day_a, lag)"))
    )
    d0 = "decimal(18,0)"
    m = lagged.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast(d0)).cast("double").alias("sx"),
        (F.sum(F.col("yi").cast(d0)).cast("double") / 1.0e2).alias("sy"),
        (F.sum((F.col("x") * F.col("yi")).cast(d0)).cast("double") / 1.0e2).alias(
            "sxy"
        ),
        F.sum((F.col("x") * F.col("x")).cast(d0)).cast("double").alias("sxx"),
        (F.sum((F.col("yi") * F.col("yi")).cast(d0)).cast("double") / 1.0e4).alias(
            "syy"
        ),
    )
    return m.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        F.expr(_SQL_XCORR).alias("corr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# multiclass confusion matrix
# ---------------------------------------------------------------------------

#: The text.py lang-id heuristic, shared verbatim so the eval op scores
#: exactly the classifier the pipeline ships.
_SQL_LANG_PRED = """CASE
  WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) * 10
       >= len(string_split(text, ' ')) THEN 'en'
  WHEN length(text) % 5 = 0 THEN 'zh'
  ELSE 'unk' END"""


@query(
    "ml_eval_multiclass",
    oracle=f"""
    WITH pred AS (
      SELECT lang, {_SQL_LANG_PRED} AS pred_lang FROM documents
    ), cm AS (
      SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
    )
    SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6)
             AS row_share
    FROM cm ORDER BY lang, pred_lang
    """,
)
def ml_eval_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass confusion matrix with row-normalized shares (per-class
    recall sits on the diagonal) for the shipped lang-id heuristic
    against the labeled truth — the per-class error breakdown a
    quality gate reads before promoting a classifier (aggregate accuracy
    hides which class is bleeding). Counts are exact; each share is one
    rounded division of exact ints.

    Scale shape: one map-side-combined (truth, pred) count over the
    scan; the normalizing window runs on the K²-bounded confusion
    relation, never the corpus. The predictor is a shared SQL expression
    with text_lang_id, so the eval always scores exactly the shipped
    rule — no train/serve skew between the op and its eval (the Spark
    side shares text.py's column expression, the oracle the SQL twin)."""
    from .text import _n_stop, _words

    pred_expr = (
        F.when(_n_stop(_words()) * 10 >= F.size(_words()), "en")
        .when(F.length("text") % 5 == 0, "zh")
        .otherwise("unk")
    )
    pred = spark.table("documents").select(
        "lang", pred_expr.alias("pred_lang")
    )
    cm = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    return cm.select(
        "lang",
        "pred_lang",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("lang")).cast("double"),
            6,
        ).alias("row_share"),
    ).orderBy("lang", "pred_lang")


# ---------------------------------------------------------------------------
# Kaplan-Meier retention curve
# ---------------------------------------------------------------------------

#: Each survival factor ln(1 − d/n) rounds onto the 12dp grid BEFORE the
#: cumulative DECIMAL sum; the final exp is one IEEE op — the house
#: discipline applied to a running PRODUCT (Π a_i = exp Σ ln a_i).
_SQL_KM_LOGTERM = (
    "CAST(round(ln(1.0 - (CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))), 12)"
    " AS DECIMAL(24,12))"
)


@query(
    "events_survival_km",
    oracle=f"""
    WITH lastday AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01',
                       CAST(max(ts) AS DATE)) AS last_day
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), total AS (SELECT count(*) AS n_users FROM lastday),
    deaths AS (
      SELECT last_day AS day, count(*) AS d FROM lastday GROUP BY 1
    ), risk AS (
      SELECT day, d,
             CAST((SELECT n_users FROM total) AS BIGINT)
               - coalesce(sum(d) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM deaths
    ), curve AS (
      SELECT day, d, n_risk,
             sum({_SQL_KM_LOGTERM}) OVER (ORDER BY day) AS logsum
      FROM risk WHERE d < n_risk
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(d AS BIGINT) AS n_churned,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           round(exp(CAST(logsum AS DOUBLE)), 6) AS survival
    FROM curve ORDER BY day
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve: users "churn" on their last
    PURCHASE day (the sparse conversion event — all-event last-day
    degenerates to the horizon edge); S(t) = Π_{t'≤t} (1 − d_{t'}/n_{t'}) over the day timeline — the
    survival estimate a retention team reads instead of naive
    day-N percentages (it handles the shrinking at-risk pool
    correctly). The running product is computed as exp of a running sum
    of 12dp-rounded logs accumulated in DECIMAL — deterministic across
    engines where a naive float product would drift with order. Days
    where everyone remaining churns (d == n_risk) terminate the curve
    (S hits 0) and are excluded, matching both engines.

    Scale shape: one user-keyed max-aggregate, then everything runs on
    the CALENDAR-DAY domain (bounded): the at-risk counts come from a
    cumulative sum over per-day churn counts — a day-domain window with
    the constant-partition idiom, never a users-sized sort. At a
    multi-year horizon the day domain stays thousands of rows."""
    lastday = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.max("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("last_day")
        )
    )
    deaths = lastday.groupBy(F.col("last_day").alias("day")).agg(
        F.count("*").alias("d")
    )
    total = lastday.agg(F.count("*").alias("n_users"))
    # Bounded calendar-day domain: constant-key window (prefix.py idiom).
    const = F.pmod(F.col("day"), F.lit(1))
    w_prev = (
        W.partitionBy(const).orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    )
    risk = deaths.crossJoin(F.broadcast(total)).select(
        "day",
        "d",
        (
            F.col("n_users")
            - F.coalesce(F.sum("d").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    w_cum = (
        W.partitionBy(const).orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    )
    curve = risk.filter(F.col("d") < F.col("n_risk")).withColumn(
        "logsum", F.sum(F.expr(_SQL_KM_LOGTERM)).over(w_cum)
    )
    return curve.select(
        F.col("day").cast("long").alias("day"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.round(F.exp(F.col("logsum").cast("double")), 6).alias("survival"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------

#: Fixed-shape two-proportion z statistic on exact integer counts —
#: pooled-variance form, one op sequence shared by both engines.
#: nullif guards: an empty arm (n=0) or a degenerate pooled rate
#: (p ∈ {0, 1} → zero variance) makes z undefined — both engines must
#: yield NULL, not abort (Spark ANSI divide-by-zero is a job killer on a
#: degenerate slice; adversarial-fixture find, r9).
_SQL_AB_Z = (
    "round(((CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0))"
    " - (CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0)))"
    " / nullif(sqrt((CAST(c1 + c2 AS DOUBLE) / nullif(CAST(n1 + n2 AS DOUBLE), 0.0))"
    " * (1.0 - (CAST(c1 + c2 AS DOUBLE) / nullif(CAST(n1 + n2 AS DOUBLE), 0.0)))"
    " * ((1.0 / nullif(CAST(n1 AS DOUBLE), 0.0)) + (1.0 / nullif(CAST(n2 AS DOUBLE), 0.0)))), 0.0), 6)"
)


@query(
    "ab_test_proportions",
    oracle=f"""
    WITH assign AS (
      SELECT user_id, user_id % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' AND value >= 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT count(*) FILTER (WHERE arm = 0) AS n1,
             sum(converted) FILTER (WHERE arm = 0) AS c1,
             count(*) FILTER (WHERE arm = 1) AS n2,
             sum(converted) FILTER (WHERE arm = 1) AS c2
      FROM assign
    )
    SELECT CAST(n1 AS BIGINT) AS n_control,
           CAST(c1 AS BIGINT) AS conv_control,
           CAST(n2 AS BIGINT) AS n_treatment,
           CAST(c2 AS BIGINT) AS conv_treatment,
           round(CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0), 6) AS rate_control,
           round(CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0), 6) AS rate_treatment,
           {_SQL_AB_Z} AS z_stat
    FROM arms
    """,
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test readout for a hash-assigned A/B experiment
    (user_id parity as the deterministic assignment; conversion = any
    high-value purchase, ≥150 — the all-purchases definition saturates
    at p=1 on this corpus and the pooled z degenerates): per-arm sizes, conversion rates, and the pooled-variance
    z statistic — the experiment-dashboard primitive. Counts are exact
    ints; the rates and z are one fixed-shape IEEE expression shared
    verbatim with the oracle → bit-identical. (The p-value lookup is a
    driver-side scalar on z; erf isn't in either SQL dialect and never
    touches data.)

    Scale shape: one user-keyed max-aggregate (map-side combined)
    collapses events to per-user conversion flags, then a single 1-row
    conditional-count aggregate — two exchanges total, output one row,
    regardless of scale. Adding arms widens the conditional counts, not
    the shuffles."""
    assign = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 150),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select((F.col("user_id") % 2).alias("arm"), "converted")
    )
    arms = assign.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted"))).alias("c1"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n2"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted"))).alias("c2"),
    )
    return arms.select(
        F.col("n1").cast("long").alias("n_control"),
        F.col("c1").cast("long").alias("conv_control"),
        F.col("n2").cast("long").alias("n_treatment"),
        F.col("c2").cast("long").alias("conv_treatment"),
        F.round(
            F.try_divide(F.col("c1").cast("double"), F.col("n1").cast("double")), 6
        ).alias("rate_control"),
        F.round(
            F.try_divide(F.col("c2").cast("double"), F.col("n2").cast("double")), 6
        ).alias("rate_treatment"),
        F.expr(_SQL_AB_Z).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend
# ---------------------------------------------------------------------------

#: Pairwise slope on exact ints: one subtraction pair + two divisions in
#: fixed order, rounded onto the 9dp grid (the slope DOMAIN key).
_SQL_TS_SLOPE = (
    "round((CAST(yj - yi AS DOUBLE) / 100.0)"
    " / CAST(dj - di AS DOUBLE), 9)"
)


@query(
    "ts_theil_sen_trend",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01', day) AS d, cents AS yi
      FROM ({_sql_daily_purchase_cents()})
    ), pairs AS (
      SELECT a.d AS di, a.yi AS yi, b.d AS dj, b.yi AS yj
      FROM daily a JOIN daily b ON a.d < b.d
    ), slopes AS (
      SELECT {_SQL_TS_SLOPE} AS s FROM pairs
    ), dom AS (
      SELECT s, count(*) AS cnt FROM slopes GROUP BY s
    ), cum AS (
      SELECT s, sum(cnt) OVER (ORDER BY s) AS c FROM dom
    ), n AS (SELECT count(*) AS n FROM slopes),
    med AS (
      SELECT min(s) AS med_slope FROM cum CROSS JOIN n
      WHERE c >= (n + 1) // 2
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(n.n AS BIGINT) AS n_pairs,
           round(med.med_slope, 6) AS slope_per_day
    FROM med CROSS JOIN n
    """,
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily purchase revenue: the DISCRETE
    median of all pairwise day-slopes — the outlier-proof alternative to
    OLS (one flash-sale day can't bend it), the estimator a metrics
    review fits before claiming growth. Slopes are computed on exact
    grid ints with a fixed two-division shape and rounded to 9dp — that
    rounded value is the DOMAIN key, so the discrete median is
    engine-exact (no interpolation).

    Scale shape: base relation A; the pair join and the median pass run
    on the day domain — O(days²) pairs, bounded by the calendar horizon
    (a decade ≈ 6.7M pairs — a flyweight relation), never by event
    volume. The slope-domain cumulative count is a constant-partition
    window over the compressed slope grid."""
    daily = (
        _daily_purchase_cents(spark)
        .select(
            F.datediff("day", F.lit("2024-01-01").cast("date")).alias("d"),
            F.col("cents").alias("yi"),
        )
        # both pair-join sides + the n_days count (r15: 1.19-1.21 s lazy
        # vs 0.87-1.16 s)
        .transform(pin, "fanout")
    )
    a = daily.select(F.col("d").alias("di"), F.col("yi").alias("yi"))
    b = daily.select(F.col("d").alias("dj"), F.col("yi").alias("yj"))
    slopes = a.join(b, F.col("di") < F.col("dj")).select(
        F.expr(_SQL_TS_SLOPE).alias("s")
    )
    dom = slopes.groupBy("s").agg(F.count("*").alias("cnt"))
    const = F.pmod(F.col("s") * 0, F.lit(1))  # bounded slope grid
    w_cum = (
        W.partitionBy(const).orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = dom.withColumn("c", F.sum("cnt").over(w_cum))
    n = slopes.agg(F.count("*").alias("n"))
    n_days = daily.agg(F.count("*").alias("n_days"))
    med = (
        cum.crossJoin(F.broadcast(n))
        .filter(F.col("c") >= F.expr("(n + 1) div 2"))
        .agg(F.min("s").alias("med_slope"))
    )
    return (
        med.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(n_days))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n").cast("long").alias("n_pairs"),
            F.round("med_slope", 6).alias("slope_per_day"),
        )
    )


# ---------------------------------------------------------------------------
# distribution drift audit (two-slice comparison)
# ---------------------------------------------------------------------------

#: Drift threshold on the relative mean shift, cross-multiplied on grid
#: ints where possible; the reported shift is one rounded division.
_DRIFT_REL_PCT = 10


@query(
    "dq_distribution_drift",
    oracle=f"""
    WITH sliced AS (
      SELECT event_type, event_id % 2 AS slice,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
      FROM events
    ), stats AS (
      SELECT event_type, slice, count(*) AS n,
             sum(CAST(vi AS DECIMAL(18,0))) AS s1,
             count(DISTINCT vi) AS n_distinct
      FROM sliced GROUP BY 1, 2
    ), sides AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.s1 AS s_a, b.s1 AS s_b,
             a.n_distinct AS dist_a, b.n_distinct AS dist_b
      FROM stats a JOIN stats b
        ON a.event_type = b.event_type AND a.slice = 0 AND b.slice = 1
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(CAST(s_a AS DOUBLE) / 100.0 / CAST(n_a AS DOUBLE), 6)
             AS mean_a,
           round(CAST(s_b AS DOUBLE) / 100.0 / CAST(n_b AS DOUBLE), 6)
             AS mean_b,
           CAST(dist_a AS BIGINT) AS distinct_a,
           CAST(dist_b AS BIGINT) AS distinct_b,
           (abs((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                - (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
            * 100.0
            > (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
              * {_DRIFT_REL_PCT}) AS mean_drifted
    FROM sides ORDER BY event_type
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-slice distribution-drift audit: per event type, compare row
    counts, grid-exact means, and distinct-value cardinalities between
    two deterministic halves (even/odd event_id — in production:
    yesterday's partition vs today's) and flag mean shifts beyond
    {_DRIFT_REL_PCT}% — the freshness gate a pipeline runs before
    promoting a new partition (dq_profile describes ONE slice; this is
    the comparative twin that catches silent upstream changes). All
    inputs to the drift predicate are exact-int-derived doubles composed
    in a fixed op shape → the boolean agrees bitwise across engines.

    Scale shape: one map-side-combined aggregate over the scan keyed by
    (type, slice) — the distinct-count partials shuffle (type, slice,
    value-grid) triples, bounded by the 2dp money grid; the side-by-side
    join and flags run on the type-catalog-sized stats relation."""
    sliced = spark.table("events").select(
        "event_type",
        (F.col("event_id") % 2).alias("slice"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vi"),
    )
    stats = sliced.groupBy("event_type", "slice").agg(
        F.count("*").alias("n"),
        F.sum(F.col("vi").cast("decimal(18,0)")).alias("s1"),
        F.countDistinct("vi").alias("n_distinct"),
    )
    a = stats.filter(F.col("slice") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s1").alias("s_a"),
        F.col("n_distinct").alias("dist_a"),
    )
    b = stats.filter(F.col("slice") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s1").alias("s_b"),
        F.col("n_distinct").alias("dist_b"),
    )
    mean_a = F.col("s_a").cast("double") / F.col("n_a").cast("double")
    mean_b = F.col("s_b").cast("double") / F.col("n_b").cast("double")
    return (
        a.join(b, "event_type")
        .select(
            "event_type",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(mean_a / 100.0, 6).alias("mean_a"),
            F.round(mean_b / 100.0, 6).alias("mean_b"),
            F.col("dist_a").cast("long").alias("distinct_a"),
            F.col("dist_b").cast("long").alias("distinct_b"),
            (
                F.abs(mean_a - mean_b) * 100.0
                > mean_a * _DRIFT_REL_PCT
            ).alias("mean_drifted"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# r8 model-evaluation tier: exact AUC, KS, gains/lift, calibration
# ---------------------------------------------------------------------------

#: Shared scored relation (same convention as ml_eval_binary_metrics):
#: the doc-length score judged against the lang=='en' truth.
_SQL_SCORED = "SELECT doc_id, n_chars AS score, (lang = 'en') AS y FROM documents"


def _scored(spark: SparkSession) -> DataFrame:
    return spark.table("documents").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").alias("y"),
    )


@query(
    "ml_roc_auc",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    dom AS (
      SELECT score, count(*) AS nt, count(*) FILTER (WHERE y) AS np
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT score, nt, np, sum(nt) OVER (ORDER BY score) AS nt_upto
      FROM dom
    ),
    agg AS (
      SELECT sum(CAST(np AS HUGEINT)
                 * CAST(2 * (nt_upto - nt) + nt + 1 AS HUGEINT)) AS r2,
             sum(np) AS p, sum(nt) AS t
      FROM cum
    )
    SELECT CAST(p AS BIGINT) AS n_pos,
           CAST(t - p AS BIGINT) AS n_neg,
           {_sql_round_ieee(
               "CAST(r2 - CAST(p AS HUGEINT) * CAST(p + 1 AS HUGEINT) AS DOUBLE)"
               " / nullif(2.0 * CAST(p AS DOUBLE) * CAST(t - p AS DOUBLE), 0.0)",
               6)} AS auc
    FROM agg
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC via the Mann–Whitney midrank identity:
    AUC = (Σ midranks of positives − P(P+1)/2) / (P·N), ties handled by
    average ranks — the one-number ranking metric every model gate
    reports, computed without materializing a single per-row rank.

    Scale shape: the corpus compresses onto the DISTINCT-SCORE domain in
    one map-side-combined agg; the midrank sum needs only a running
    count over that domain (distributed prefix sum — no global window,
    no per-row row_number over 10^12 rows). All moments are exact
    integers in decimal(38,0) (a 10^12-row corpus pushes rank sums to
    ~10^24 — past int64, exact in decimal/HUGEINT on both engines); the
    final AUC is ONE fixed-shape IEEE division, bit-identical across
    engines."""
    from .prefix import attach_prefix_sums

    dom = _scored(spark).groupBy("score").agg(
        F.count("*").alias("nt"),
        F.count(F.when(F.col("y"), 1)).alias("np"),
    )
    dom = attach_prefix_sums(dom, ["score"], ["nt"])
    contrib = F.col("np").cast(_D38) * (
        2 * (F.col("nt_upto") - F.col("nt")) + F.col("nt") + 1
    ).cast(_D38)
    agg = dom.agg(
        F.sum(contrib).alias("r2"),
        F.sum("np").alias("p"),
        F.sum("nt").alias("t"),
    )
    p38 = F.col("p").cast(_D38)
    # try_divide: a single-class corpus (P=0 or N=0) has no ranking to
    # score — AUC is NULL on both engines, never an ANSI abort (r9
    # sparse-fixture find).
    auc = _round_ieee(
        F.try_divide(
            (F.col("r2") - p38 * (p38 + 1)).cast("double"),
            F.lit(2.0)
            * F.col("p").cast("double")
            * (F.col("t") - F.col("p")).cast("double"),
        ),
        6,
    )
    return agg.select(
        F.col("p").cast("long").alias("n_pos"),
        (F.col("t") - F.col("p")).cast("long").alias("n_neg"),
        auc.alias("auc"),
    )


@query(
    "ml_ks_statistic",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    dom AS (
      SELECT score, count(*) AS nt, count(*) FILTER (WHERE y) AS np
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT score,
             sum(np) OVER (ORDER BY score) AS np_upto,
             sum(nt) OVER (ORDER BY score) AS nt_upto
      FROM dom
    ),
    tot AS (SELECT sum(np) AS p, sum(nt) - sum(np) AS n FROM dom),
    d AS (
      SELECT score,
             abs(CAST(np_upto AS HUGEINT) * CAST(n AS HUGEINT)
                 - CAST(nt_upto - np_upto AS HUGEINT) * CAST(p AS HUGEINT))
               AS dist
      FROM cum CROSS JOIN tot
    )
    SELECT CAST(score AS BIGINT) AS at_score,
           {_sql_round_ieee(
               "CAST(dist AS DOUBLE)"
               " / nullif(CAST(p AS DOUBLE) * CAST(n AS DOUBLE), 0.0)", 6)}
             AS ks,
           CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg
    FROM d CROSS JOIN tot
    ORDER BY dist DESC, score LIMIT 1
    """,
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov separation of the score distributions:
    KS = max_s |CDF_pos(s) − CDF_neg(s)|, with the argmax score — the
    classic credit-scoring discrimination statistic. The decision path
    (which score attains the max) is an INTEGER cross-multiplication
    |np_upto·N − nn_upto·P| (no FP CDF on the comparison), so both
    engines pick the same argmax even under ties; only the reported KS
    is one final fixed-shape division.

    Scale shape: identical to ml_roc_auc — one compression agg onto the
    score domain, distributed prefix sums for both running counts, a
    1-row broadcast of totals, TakeOrdered(1) for the max (never a
    global sort)."""
    from .prefix import attach_prefix_sums

    dom = _scored(spark).groupBy("score").agg(
        F.count("*").alias("nt"),
        F.count(F.when(F.col("y"), 1)).alias("np"),
    )
    dom = attach_prefix_sums(dom, ["score"], ["nt", "np"])
    tot = dom.groupBy().agg(
        F.sum("np").alias("p"), (F.sum("nt") - F.sum("np")).alias("n")
    )
    d = dom.crossJoin(F.broadcast(tot)).select(
        "score",
        F.abs(
            F.col("np_upto").cast(_D38) * F.col("n").cast(_D38)
            - (F.col("nt_upto") - F.col("np_upto")).cast(_D38)
            * F.col("p").cast(_D38)
        ).alias("dist"),
        "p",
        "n",
    )
    # try_divide: single-class corpus -> KS undefined, NULL not abort (r9)
    ks = _round_ieee(
        F.try_divide(
            F.col("dist").cast("double"),
            F.col("p").cast("double") * F.col("n").cast("double"),
        ),
        6,
    )
    return (
        d.orderBy(F.desc("dist"), "score")
        .limit(1)
        .select(
            F.col("score").cast("long").alias("at_score"),
            ks.alias("ks"),
            F.col("p").cast("long").alias("n_pos"),
            F.col("n").cast("long").alias("n_neg"),
        )
    )


@query(
    "ml_lift_deciles",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    tot AS (
      SELECT count(*) AS n, count(*) FILTER (WHERE y) AS p FROM scored
    ),
    rn AS (
      SELECT y, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM scored
    ),
    b AS (
      SELECT ((rn - 1) * 10) // n AS decile,
             count(*) AS n_rows, count(*) FILTER (WHERE y) AS n_pos
      FROM rn CROSS JOIN tot GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_rows, n_pos,
             sum(n_pos) OVER (ORDER BY decile) AS pos_upto
      FROM b
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_rows AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           {_sql_round_ieee(
               "CAST(pos_upto AS DOUBLE) / nullif(CAST(p AS DOUBLE), 0.0)",
               6)} AS capture,
           {_sql_round_ieee(
               "CAST(CAST(n_pos AS HUGEINT) * CAST(n AS HUGEINT) AS DOUBLE)"
               " / nullif(CAST(CAST(n_rows AS HUGEINT) * CAST(p AS HUGEINT)"
               " AS DOUBLE), 0.0)",
               6)} AS lift
    FROM cum CROSS JOIN tot ORDER BY decile
    """,
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains / lift table: rank by score descending, cut into 10
    equal-count deciles, report per-decile positive capture and lift —
    the campaign-targeting diagnostic behind "the top decile captures
    34% of responders at 3.4× random". Decile boundaries come from an
    explicit integer formula ((rank−1)·10 div n) computed identically
    on both engines — NOT ntile(), whose tie placement is
    engine-internal; ranking ties break on doc_id, so the whole bucket
    assignment is deterministic.

    Scale shape: the global rank is a distributed prefix COUNT over
    (score desc, doc_id) — range-repartitioned running sums, no
    single-task window over the corpus; per-decile rollup is a 10-group
    agg, and the cumulative capture runs on the 10-row decile domain.
    Lift/capture are integer cross-products (decimal(38,0) — exact past
    int64 at 10^12 rows) with one final fixed-shape division each."""
    from .prefix import attach_prefix_sums

    sc = _scored(spark).select(
        "doc_id", "score", "y", (-F.col("score")).alias("neg"), F.lit(1).alias("one")
    )
    rn = attach_prefix_sums(sc, ["neg", "doc_id"], ["one"])
    # totals from RN (attach_prefix_sums' checkpointed relation keeps all
    # of sc's columns) — aggregating raw `sc` would re-scan documents.
    tot = rn.groupBy().agg(
        F.count("*").alias("n"), F.count(F.when(F.col("y"), 1)).alias("p")
    )
    b = (
        rn.crossJoin(F.broadcast(tot))
        .select(
            F.expr("((one_upto - 1) * 10) div n").alias("decile"), "y"
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("y"), 1)).alias("n_pos"),
        )
    )
    cum = attach_prefix_sums(b, ["decile"], ["n_pos"])
    # try_divide: a corpus with zero positives has no capture/lift to
    # report — NULL on both engines, never an ANSI abort (r9).
    capture = _round_ieee(
        F.try_divide(
            F.col("n_pos_upto").cast("double"), F.col("p").cast("double")
        ),
        6,
    )
    lift = _round_ieee(
        F.try_divide(
            (F.col("n_pos").cast(_D38) * F.col("n").cast(_D38)).cast("double"),
            (F.col("n_rows").cast(_D38) * F.col("p").cast(_D38)).cast("double"),
        ),
        6,
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_rows").cast("long").alias("n"),
            F.col("n_pos").cast("long").alias("n_pos"),
            capture.alias("capture"),
            lift.alias("lift"),
        )
        .orderBy("decile")
    )


_CAL_BIN_WIDTH = 100
_CAL_MAX_BIN = 9


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED})
    SELECT CAST(least(score // {_CAL_BIN_WIDTH}, {_CAL_MAX_BIN}) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE y) AS BIGINT) AS n_pos,
           {_sql_round_ieee(
               "CAST(sum(score) AS DOUBLE) / count(*)", 6)} AS mean_score,
           {_sql_round_ieee(
               "CAST(count(*) FILTER (WHERE y) AS DOUBLE) / count(*)", 6)}
             AS frac_pos
    FROM scored GROUP BY 1 ORDER BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability / calibration table: fixed-width score bins with the
    observed positive rate per bin — the curve behind a calibration
    plot (is a 0.8-score actually right 80% of the time?). Counts and
    score sums are exact integers; the two reported ratios are single
    fixed-shape divisions.

    Scale shape: ONE map-side-combined aggregate; shuffle volume is the
    bounded bin grid, never the corpus. No windows, no joins."""
    sc = _scored(spark)
    return (
        sc.groupBy(
            F.least(
                F.expr(f"score div {_CAL_BIN_WIDTH}"), F.lit(_CAL_MAX_BIN)
            ).cast("long").alias("bin")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count(F.when(F.col("y"), 1)).cast("long").alias("n_pos"),
            _round_ieee(
                F.sum("score").cast("double") / F.count("*"), 6
            ).alias("mean_score"),
            _round_ieee(
                F.count(F.when(F.col("y"), 1)).cast("double") / F.count("*"), 6
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# r8: chi-square independence, IQR outlier audit, CUSUM changepoint
# ---------------------------------------------------------------------------


@query(
    "stats_chi_square",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, count(*) AS nc FROM documents GROUP BY 1, 2
    ),
    rows_ AS (SELECT lang, sum(nc) AS rl FROM cells GROUP BY 1),
    cols_ AS (SELECT source, sum(nc) AS cs FROM cells GROUP BY 1),
    tot AS (SELECT sum(nc) AS n FROM cells),
    terms AS (
      SELECT floor(
               (CAST(CAST(n AS HUGEINT) * CAST(nc AS HUGEINT)
                     - CAST(rl AS HUGEINT) * CAST(cs AS HUGEINT) AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * CAST(nc AS HUGEINT)
                       - CAST(rl AS HUGEINT) * CAST(cs AS HUGEINT) AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE))
               / CAST(n AS DOUBLE)
               * 1000000.0 + 0.5) AS t6
      FROM cells
      JOIN rows_ USING (lang) JOIN cols_ USING (source) CROSS JOIN tot
    ),
    dims AS (
      SELECT count(DISTINCT lang) AS nl, count(DISTINCT source) AS ns,
             count(*) AS ncells
      FROM cells
    )
    SELECT CAST((SELECT sum(t6) FROM terms) AS DOUBLE) / 1000000.0 AS chi2,
           CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof,
           CAST(ncells AS BIGINT) AS n_cells
    FROM dims
    """,
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for the lang × source
    contingency table — the drift/association screen a dataset audit
    runs between two categorical columns. Each cell's contribution
    (n·n_ij − r_i·c_j)² / (n·r_i·c_j·n) is evaluated as a FIXED-SHAPE
    IEEE expression over exact integer moments (HUGEINT/decimal(38,0)
    cross-products — r_i·c_j reaches ~10^24 at a 10^12-row lake), then
    quantized onto the 6dp integer grid BEFORE summing, so the
    cross-cell sum is an exact int64 reduction — order-independent,
    bit-identical across engines (FP sums over cells would differ in
    the last ulp by visit order).

    Scale shape: one map-side-combined cell aggregate (shuffle =
    distinct lang×source pairs, bounded by the category grid), two
    tiny marginal rollups broadcast back, a 1-row result."""
    cells = spark.table("documents").groupBy("lang", "source").agg(
        F.count("*").alias("nc")
    )
    rows_ = cells.groupBy("lang").agg(F.sum("nc").alias("rl"))
    cols_ = cells.groupBy("source").agg(F.sum("nc").alias("cs"))
    tot = cells.groupBy().agg(F.sum("nc").alias("n"))
    num = (
        F.col("n").cast(_D38) * F.col("nc").cast(_D38)
        - F.col("rl").cast(_D38) * F.col("cs").cast(_D38)
    ).cast("double")
    term = (
        num * num
        / (
            F.col("n").cast("double")
            * F.col("rl").cast("double")
            * F.col("cs").cast("double")
        )
        / F.col("n").cast("double")
    )
    t6 = F.floor(term * 1000000.0 + F.lit(0.5))
    terms = (
        cells.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "source")
        .crossJoin(F.broadcast(tot))
        .select(t6.alias("t6"), "lang", "source")
    )
    # dims come from CELLS, not from the joined terms: the null-rejecting
    # inner joins above drop any cell with a NULL lang/source, while the
    # oracle's dims CTE counts every cell — with a nullable category the
    # two would disagree on n_cells even though both sides (equally)
    # exclude null cells from the chi² sum via the null-rejecting join.
    dims = cells.agg(
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
        F.count("*").alias("ncells"),
    )
    agg = terms.agg(F.sum("t6").alias("s6")).crossJoin(F.broadcast(dims))
    return agg.select(
        (F.col("s6").cast("double") / 1000000.0).alias("chi2"),
        ((F.col("nl") - 1) * (F.col("ns") - 1)).cast("long").alias("dof"),
        F.col("ncells").cast("long").alias("n_cells"),
    )


@query(
    "clean_outlier_iqr",
    oracle="""
    WITH grid AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             count(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, cents, cnt,
             sum(cnt) OVER (PARTITION BY flag ORDER BY cents) AS c_upto
      FROM grid
    ),
    tot AS (SELECT flag, sum(cnt) AS n FROM grid GROUP BY 1),
    q AS (
      SELECT c.flag,
             min(CASE WHEN c_upto >= (n + 3) // 4 THEN cents END) AS q1c,
             min(CASE WHEN c_upto >= (3 * n + 3) // 4 THEN cents END) AS q3c
      FROM cum c JOIN tot USING (flag) GROUP BY 1
    )
    SELECT g.flag,
           CAST(q1c AS DOUBLE) / 100.0 AS q1,
           CAST(q3c AS DOUBLE) / 100.0 AS q3,
           CAST(max(n) AS BIGINT) AS n,
           CAST(coalesce(sum(cnt) FILTER (
             WHERE 2 * cents < 2 * q1c - 3 * (q3c - q1c)
                OR 2 * cents > 2 * q3c + 3 * (q3c - q1c)), 0) AS BIGINT)
             AS n_outliers
    FROM grid g JOIN q USING (flag) JOIN tot USING (flag)
    GROUP BY g.flag, q1c, q3c
    ORDER BY g.flag
    """,
)
def clean_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per return-flag: exact Q1/Q3 as order
    statistics on the 2dp price grid, fences at quartile ± 1.5·IQR, and
    the count of rows outside them — the pre-training outlier screen
    for a numeric feature. The ENTIRE decision path is integer: cents
    grid, type-1 (smallest-value-reaching-rank) quartiles via integer
    rank thresholds, and a ×2 cross-multiplied fence test (2c < 2Q1 −
    3·IQR avoids the 0.5 fraction) — no float compares anywhere;
    only the reported quartiles divide down to dollars at the end.

    Scale shape: facts compress onto the (flag × distinct-cents) value
    grid in one map-side-combined agg; the quartile scan is a
    PARTITIONED (per-flag) cumulative window over that compressed grid
    — bounded by distinct prices, never by row count; fences broadcast
    back to the grid (3-row relation), outlier counting is a second
    pass over the GRID, not the facts."""
    grid = spark.table("lineitem").groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("flag").orderBy("cents").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = grid.withColumn("c_upto", F.sum("cnt").over(w))
    tot = grid.groupBy("flag").agg(F.sum("cnt").alias("n"))
    q = (
        cum.join(F.broadcast(tot), "flag")
        .groupBy("flag")
        .agg(
            F.min(
                F.when(
                    F.col("c_upto") >= F.expr("(n + 3) div 4"), F.col("cents")
                )
            ).alias("q1c"),
            F.min(
                F.when(
                    F.col("c_upto") >= F.expr("(3 * n + 3) div 4"),
                    F.col("cents"),
                )
            ).alias("q3c"),
        )
    )
    iqr = F.col("q3c") - F.col("q1c")
    is_out = (2 * F.col("cents") < 2 * F.col("q1c") - 3 * iqr) | (
        2 * F.col("cents") > 2 * F.col("q3c") + 3 * iqr
    )
    return (
        grid.join(F.broadcast(q), "flag")
        .join(F.broadcast(tot), "flag")
        .groupBy("flag", "q1c", "q3c")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.coalesce(
                F.sum(F.when(is_out, F.col("cnt"))), F.lit(0)
            ).cast("long").alias("n_outliers"),
        )
        .select(
            "flag",
            (F.col("q1c").cast("double") / 100.0).alias("q1"),
            (F.col("q3c").cast("double") / 100.0).alias("q3"),
            "n",
            "n_outliers",
        )
        .orderBy("flag")
    )


@query(
    "ts_changepoint_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT day, yi AS v FROM ({_sql_daily_views_purchases()})
    ),
    cum AS (
      SELECT day, v,
             sum(v) OVER (ORDER BY day) AS s_upto,
             row_number() OVER (ORDER BY day) AS k
      FROM daily
    ),
    tot AS (SELECT sum(v) AS t, count(*) AS n FROM daily),
    d AS (
      SELECT day,
             abs(CAST(n AS HUGEINT) * CAST(s_upto AS HUGEINT)
                 - CAST(k AS HUGEINT) * CAST(t AS HUGEINT)) AS dist
      FROM cum CROSS JOIN tot
    )
    SELECT day AS cp_day,
           {_sql_round_ieee(
               "CAST(dist AS DOUBLE) / CAST(n AS DOUBLE) / 100.0", 6)}
             AS cusum_stat,
           CAST(n AS BIGINT) AS n_days
    FROM d CROSS JOIN tot
    ORDER BY dist DESC, day LIMIT 1
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily purchase revenue: the day k
    maximizing |S_k − k·T/n| (cumulative sum's deviation from the
    uniform-trend line) — the classic level-shift locator a metrics
    team runs when "did the launch change revenue?" needs a date, not
    a feeling. The argmax is decided on the INTEGER cross-product
    |n·S_k − k·T| (revenue rides the 2dp cents grid; HUGEINT/decimal —
    n·S_k ≈ 10^22 at a decade × 10^18-cents scale), so both engines
    pick the same day; only the reported statistic divides down.

    Scale shape: base relation E; running sum and day index are ONE
    distributed prefix pass (two value columns, same exchange); the max
    is TakeOrdered(1)."""
    from .prefix import attach_prefix_sums

    daily = _daily_views_purchases(spark).select(
        "day", F.col("yi").alias("v"), F.lit(1).alias("one")
    )
    cum = attach_prefix_sums(daily, ["day"], ["v", "one"])
    # totals from CUM (attach_prefix_sums' checkpointed domain), not from
    # `daily` — aggregating the raw relation would re-run the full events
    # scan+agg a second time per execution.
    tot = cum.groupBy().agg(F.sum("v").alias("t"), F.count("*").alias("n"))
    d = cum.crossJoin(F.broadcast(tot)).select(
        "day",
        F.abs(
            F.col("n").cast(_D38) * F.col("v_upto").cast(_D38)
            - F.col("one_upto").cast(_D38) * F.col("t").cast(_D38)
        ).alias("dist"),
        "n",
    )
    stat = _round_ieee(
        F.col("dist").cast("double") / F.col("n").cast("double") / 100.0, 6
    )
    return (
        d.orderBy(F.desc("dist"), "day")
        .limit(1)
        .select(
            F.col("day").alias("cp_day"),
            stat.alias("cusum_stat"),
            F.col("n").cast("long").alias("n_days"),
        )
    )


# ---------------------------------------------------------------------------
# r8b: PSI stability + Welch's t-test
# ---------------------------------------------------------------------------

_PSI_BAND = 50
_PSI_MAX_BAND = 9


@query(
    "dq_psi_stability",
    oracle=f"""
    WITH sliced AS (
      SELECT event_id % 2 AS slice,
             least(CAST(floor(value / {_PSI_BAND}) AS BIGINT), {_PSI_MAX_BAND})
               AS band
      FROM events
    ),
    cells AS (
      SELECT band,
             count(*) FILTER (WHERE slice = 0) AS ca,
             count(*) FILTER (WHERE slice = 1) AS cb
      FROM sliced GROUP BY band
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cells),
    terms AS (
      SELECT band, ca, cb,
             CASE WHEN ca > 0 AND cb > 0 THEN
               floor(
                 (CAST(CAST(ca AS HUGEINT) * CAST(nb AS HUGEINT)
                       - CAST(cb AS HUGEINT) * CAST(na AS HUGEINT) AS DOUBLE)
                  / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                 * ln((CAST(ca AS DOUBLE) * CAST(nb AS DOUBLE))
                      / (CAST(cb AS DOUBLE) * CAST(na AS DOUBLE)))
                 * 1000000.0 + 0.5)
             END AS t6
      FROM cells CROSS JOIN tot
    )
    SELECT CAST(coalesce(sum(t6), 0) AS DOUBLE) / 1000000.0 AS psi,
           CAST(count(*) AS BIGINT) AS n_bands,
           CAST(count(*) FILTER (WHERE t6 IS NULL) AS BIGINT)
             AS n_unshared_bands
    FROM terms
    """,
)
def dq_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two standard audit slices
    (event_id parity, the dq_distribution_drift convention) over banded
    event values: PSI = Σ (p_i − q_i)·ln(p_i/q_i) — the drift score
    model-monitoring gates alarm on (>0.25 = retrain). Each band's term
    is a fixed-shape IEEE expression over exact integer counts
    (HUGEINT/decimal(38,0) cross-products), quantized onto the 6dp
    integer grid BEFORE summation — the cross-band sum is an exact
    int64 reduction, order-free at any parallelism (the chi-square
    discipline). Bands empty on either side are excluded and COUNTED
    (n_unshared_bands), not silently smoothed.

    Scale shape: one map-side-combined aggregate onto the bounded band
    grid, a 1-row totals broadcast, a grid-sized term map — facts are
    scanned once."""
    sliced = spark.table("events").select(
        (F.col("event_id") % 2).alias("slice"),
        F.least(
            F.floor(F.col("value") / _PSI_BAND).cast("long"),
            F.lit(_PSI_MAX_BAND),
        ).alias("band"),
    )
    cells = sliced.groupBy("band").agg(
        F.count(F.when(F.col("slice") == 0, 1)).alias("ca"),
        F.count(F.when(F.col("slice") == 1, 1)).alias("cb"),
    )
    tot = cells.groupBy().agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    num = (
        F.col("ca").cast(_D38) * F.col("nb").cast(_D38)
        - F.col("cb").cast(_D38) * F.col("na").cast(_D38)
    ).cast("double")
    ratio = (F.col("ca").cast("double") * F.col("nb").cast("double")) / (
        F.col("cb").cast("double") * F.col("na").cast("double")
    )
    t6 = F.when(
        (F.col("ca") > 0) & (F.col("cb") > 0),
        F.floor(
            num
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
            * F.log(ratio)
            * 1000000.0
            + F.lit(0.5)
        ),
    )
    terms = cells.crossJoin(F.broadcast(tot)).select(t6.alias("t6"))
    return terms.agg(
        (F.coalesce(F.sum("t6"), F.lit(0)).cast("double") / 1000000.0).alias(
            "psi"
        ),
        F.count("*").cast("long").alias("n_bands"),
        F.count(F.when(F.col("t6").isNull(), 1)).cast("long").alias(
            "n_unshared_bands"
        ),
    )


@query(
    "stats_welch_ttest",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS ss
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY event_type
    ),
    w AS (
      SELECT
        max(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
        max(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
        max(CASE WHEN event_type = 'purchase' THEN ss END) AS ss1,
        max(CASE WHEN event_type = 'click' THEN n END) AS n2,
        max(CASE WHEN event_type = 'click' THEN s END) AS s2,
        max(CASE WHEN event_type = 'click' THEN ss END) AS ss2
      FROM m
    ),
    e AS (
      SELECT n1, n2,
        CAST(s1 AS DOUBLE) / n1 / 100.0 AS m1,
        CAST(s2 AS DOUBLE) / n2 / 100.0 AS m2,
        (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
          / (n1 - 1) / 10000.0 / n1 AS v1n,
        (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
          / (n2 - 1) / 10000.0 / n2 AS v2n
      FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           {_sql_round_ieee("m1 - m2", 6)} AS mean_diff,
           {_sql_round_ieee("(m1 - m2) / sqrt(v1n + v2n)", 6)} AS t_stat,
           {_sql_round_ieee(
               "(v1n + v2n) * (v1n + v2n)"
               " / (v1n * v1n / (n1 - 1) + v2n * v2n / (n2 - 1))", 2)} AS df
    FROM e
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean purchase vs click
    value, with the Welch–Satterthwaite degrees of freedom — the
    default two-sample mean test (ab_test_proportions covers rates;
    this covers magnitudes). Moments (n, Σx, Σx²) accumulate as exact
    scaled ints on the 2dp grid; mean/variance/t/df are one shared
    fixed-shape IEEE pipeline (sqrt is IEEE-correctly-rounded on both
    engines), so all three statistics agree bitwise before the
    defensive rounding.

    Scale shape: ONE map-side-combined two-group moment aggregate over
    the filtered scan; everything after is 1-row arithmetic."""
    g = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    m = (
        spark.table("events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            # decimal(38,0) accumulators: g ≈ 5e6 on the 2dp grid, so a
            # 10^12-row group pushes Σg to ~5e18 (int64 edge) and Σg²
            # past it entirely; Spark's non-ANSI long sum would wrap
            # silently while the oracle's DuckDB sum promotes to
            # HUGEINT — the module's decimal-moment discipline applies.
            F.sum(g.cast(_D38)).alias("s"),
            F.sum((g * g).cast(_D38)).alias("ss"),
        )
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))  # noqa: E731
    w = m.groupBy().agg(
        pick("purchase", "n").alias("n1"), pick("purchase", "s").alias("s1"),
        pick("purchase", "ss").alias("ss1"),
        pick("click", "n").alias("n2"), pick("click", "s").alias("s2"),
        pick("click", "ss").alias("ss2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1") / 100.0
    m2 = F.col("s2").cast("double") / F.col("n2") / 100.0
    v1n = (
        (F.col("ss1").cast("double")
         - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1"))
        / (F.col("n1") - 1) / 10000.0 / F.col("n1")
    )
    v2n = (
        (F.col("ss2").cast("double")
         - F.col("s2").cast("double") * F.col("s2").cast("double") / F.col("n2"))
        / (F.col("n2") - 1) / 10000.0 / F.col("n2")
    )
    e = w.select(
        "n1", "n2", m1.alias("m1"), m2.alias("m2"),
        v1n.alias("v1n"), v2n.alias("v2n"),
    )
    return e.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        _round_ieee(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        _round_ieee(
            (F.col("m1") - F.col("m2"))
            / F.sqrt(F.col("v1n") + F.col("v2n")),
            6,
        ).alias("t_stat"),
        _round_ieee(
            (F.col("v1n") + F.col("v2n")) * (F.col("v1n") + F.col("v2n"))
            / (
                F.col("v1n") * F.col("v1n") / (F.col("n1") - 1)
                + F.col("v2n") * F.col("v2n") / (F.col("n2") - 1)
            ),
            2,
        ).alias("df"),
    )


# ---------------------------------------------------------------------------
# r8d: seasonal decomposition of the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH seas AS ({_sql_seasonal_components()}
    )
    SELECT day, dow,
           round(rev_c / 100.0, 6)                             AS revenue,
           round(s7 / (100.0 * c7), 6)                         AS trend_7d,
           round(sd / (100.0 * nd) - st / (100.0 * nt), 6)     AS seasonal_dow,
           round(rev_c / 100.0
                 - s7 / (100.0 * c7)
                 - (sd / (100.0 * nd) - st / (100.0 * nt)), 6) AS residual
    FROM seas
    ORDER BY day
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: revenue = trend (centered 7-day moving average) + seasonal
    (day-of-week mean deviation from the global mean) + residual — the
    standard pre-model step for anomaly baselining and forecasting
    (the moving-average decomposition underlying STL).

    Exactness: daily revenue is summed on an integer cents grid, so
    the 7-day window sum and the day-of-week / global sums are exact
    integers in BOTH engines; every double is then derived from those
    integers by the same expression tree, making trend/seasonal/
    residual bit-reproducible (rounded 6dp for belt and braces).

    Scale shape: base relation D, whose 7-row frame is a constant-key
    window over the day domain and whose weekday/global sums join back
    as 7-row/1-row broadcasts."""
    trend = F.col("s7") / (F.lit(100.0) * F.col("c7"))
    seasonal = F.col("sd") / (F.lit(100.0) * F.col("nd")) - F.col("st") / (
        F.lit(100.0) * F.col("nt")
    )
    return (
        _seasonal_components(spark)
        .select(
            "day",
            "dow",
            F.round(F.col("rev_c") / 100.0, 6).alias("revenue"),
            F.round(trend, 6).alias("trend_7d"),
            F.round(seasonal, 6).alias("seasonal_dow"),
            F.round(F.col("rev_c") / 100.0 - trend - seasonal, 6).alias(
                "residual"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# r8d: Benjamini–Hochberg FDR over a family of two-sample tests
# ---------------------------------------------------------------------------

_BH_ALPHA = 0.10
_BH_CUT = "2024-01-16 00:00:00"

#: Two-sided normal tail p = erfc(|z|/√2) via the Abramowitz–Stegun
#: 7.1.26 rational approximation (|ε| < 1.5e-7) — neither engine ships
#: erf, so the SAME expression text runs on both (only abs/exp/sqrt),
#: and the 9dp round absorbs exp's 1-ulp libm differences.
def _sql_pnorm2(z: str) -> str:
    t = f"(1.0 / (1.0 + 0.3275911 * (abs({z}) / sqrt(2.0))))"
    poly = (
        f"(((((1.061405429 * {t} - 1.453152027) * {t}) + 1.421413741) * {t}"
        f" - 0.284496736) * {t} + 0.254829592) * {t}"
    )
    return (
        f"round({poly} * exp(-(abs({z}) / sqrt(2.0)) * (abs({z}) / sqrt(2.0))), 9)"
    )


_SQL_BH_Z = "(m1 - m2) / sqrt(v1n + v2n)"


@query(
    "stats_benjamini_hochberg",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             count(*) FILTER (WHERE ts <  TIMESTAMP '{_BH_CUT}') AS n1,
             count(*) FILTER (WHERE ts >= TIMESTAMP '{_BH_CUT}') AS n2,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               FILTER (WHERE ts < TIMESTAMP '{_BH_CUT}') AS s1,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               FILTER (WHERE ts >= TIMESTAMP '{_BH_CUT}') AS s2,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT))
               FILTER (WHERE ts < TIMESTAMP '{_BH_CUT}') AS ss1,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT))
               FILTER (WHERE ts >= TIMESTAMP '{_BH_CUT}') AS ss2
      FROM events GROUP BY event_type
    ),
    e AS (
      SELECT event_type, n1, n2,
             CAST(s1 AS DOUBLE) / n1 / 100.0 AS m1,
             CAST(s2 AS DOUBLE) / n2 / 100.0 AS m2,
             (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
               / (n1 - 1) / 10000.0 / n1 AS v1n,
             (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
               / (n2 - 1) / 10000.0 / n2 AS v2n
      FROM m
    ),
    p AS (
      SELECT event_type, n1, n2,
             round({_SQL_BH_Z}, 6) AS z,
             {_sql_pnorm2(_SQL_BH_Z)} AS p_value
      FROM e
      -- a test needs >=2 samples per side: below that the variance is
      -- 0/0 and the engines' NULL/inf and NULL-ordering semantics
      -- diverge (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST)
      WHERE n1 >= 2 AND n2 >= 2
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY p_value, event_type) AS rnk,
             count(*) OVER () AS m_tests
      FROM p
    ),
    k AS (
      SELECT *,
             max(CASE WHEN p_value <= {_BH_ALPHA} * rnk / m_tests
                      THEN rnk ELSE 0 END) OVER () AS kstar
      FROM r
    )
    SELECT event_type, CAST(n1 AS BIGINT) AS n_early,
           CAST(n2 AS BIGINT) AS n_late, z, p_value,
           CAST(rnk AS BIGINT) AS rnk,
           round({_BH_ALPHA} * rnk / m_tests, 6) AS bh_critical,
           (rnk <= kstar) AS significant
    FROM k ORDER BY rnk
    """,
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a family of two-sample z
    tests (early vs late mean event value per event type) — the
    multiple-testing correction every experimentation platform applies
    before declaring winners across many simultaneous metrics. Output
    is the full BH ledger: each test's z, p, rank, critical value
    α·k/m, and the step-up significance decision (all tests at rank ≤
    k* where k* is the largest k with p₍ₖ₎ ≤ α·k/m).

    Cross-engine exactness: moments accumulate on the integer cents
    grid (the Welch discipline); the normal tail probability uses the
    Abramowitz–Stegun 7.1.26 erfc approximation — neither engine ships
    erf, so the IDENTICAL expression text (abs/exp/sqrt only) runs on
    both via `F.expr`, with a 9dp round absorbing exp's 1-ulp libm
    spread; BH comparisons then operate on those identical 9dp grids.

    Scale shape: one map-side-combined conditional aggregate onto the
    test-family domain (m rows — bounded by the metric catalog, not
    data); ranking and the step-up max run as constant-key windows
    over those m rows. At a 10⁴-metric platform scale the same single
    fact pass holds."""
    cut = F.lit(_BH_CUT).cast("timestamp")
    early = F.col("ts") < cut
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    e = (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.count(F.when(early, 1)).alias("n1"),
            F.count(F.when(~early, 1)).alias("n2"),
            F.sum(F.when(early, cents)).alias("s1"),
            F.sum(F.when(~early, cents)).alias("s2"),
            F.sum(F.when(early, cents * cents)).alias("ss1"),
            F.sum(F.when(~early, cents * cents)).alias("ss2"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            (F.col("s1").cast("double") / F.col("n1") / 100.0).alias("m1"),
            (F.col("s2").cast("double") / F.col("n2") / 100.0).alias("m2"),
            (
                (
                    F.col("ss1").cast("double")
                    - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")
                )
                / (F.col("n1") - 1)
                / 10000.0
                / F.col("n1")
            ).alias("v1n"),
            (
                (
                    F.col("ss2").cast("double")
                    - F.col("s2").cast("double") * F.col("s2").cast("double") / F.col("n2")
                )
                / (F.col("n2") - 1)
                / 10000.0
                / F.col("n2")
            ).alias("v2n"),
        )
    )
    # >=2 samples per side, mirroring the oracle: degenerate variances
    # would hit engine-divergent NULL/inf and NULL-ordering semantics.
    p = e.filter((F.col("n1") >= 2) & (F.col("n2") >= 2)).select(
        "event_type",
        "n1",
        "n2",
        F.round(F.expr(_SQL_BH_Z), 6).alias("z"),
        F.expr(_sql_pnorm2(_SQL_BH_Z)).alias("p_value"),
    )
    # m-bounded test family: constant-key windows (prefix.py idiom).
    const = F.pmod(F.col("n1").cast("long"), F.lit(1))
    r = p.select(
        "*",
        F.row_number()
        .over(W.partitionBy(const).orderBy("p_value", "event_type"))
        .alias("rnk"),
        F.count("*").over(W.partitionBy(const)).alias("m_tests"),
    )
    k = r.select(
        "*",
        F.max(
            F.when(
                F.col("p_value")
                <= F.lit(_BH_ALPHA) * F.col("rnk") / F.col("m_tests"),
                F.col("rnk"),
            ).otherwise(F.lit(0))
        )
        .over(W.partitionBy(const))
        .alias("kstar"),
    )
    return k.select(
        "event_type",
        F.col("n1").cast("long").alias("n_early"),
        F.col("n2").cast("long").alias("n_late"),
        "z",
        "p_value",
        F.col("rnk").cast("long").alias("rnk"),
        F.round(F.lit(_BH_ALPHA) * F.col("rnk") / F.col("m_tests"), 6).alias(
            "bh_critical"
        ),
        (F.col("rnk") <= F.col("kstar")).alias("significant"),
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# r8d: declarative data-quality expectation suite
# ---------------------------------------------------------------------------

#: (rule name, violation predicate as shared SQL text). Mixed by design:
#: some rules pass and some FAIL on the fixture, so the suite's both
#: branches are exercised (no vacuous all-pass evidence).
_DQ_RULES = (
    ("orderkey_not_null", "l_orderkey IS NULL"),
    ("linenumber_positive", "l_linenumber < 1"),
    ("quantity_between_1_50", "l_quantity < 1 OR l_quantity > 50"),
    ("quantity_between_1_40", "l_quantity < 1 OR l_quantity > 40"),
    ("discount_between_0_10pct", "l_discount < 0 OR l_discount > 0.10"),
    ("returnflag_in_set", "l_returnflag NOT IN ('R', 'A', 'N')"),
    ("extendedprice_under_50k", "l_extendedprice >= 50000"),
)


def dq_ledger_rows(agg: DataFrame, rules) -> DataFrame:
    """Explode a one-row conditional-count aggregate (n_checked, v0..vN)
    into the R-row (rule, n_checked, n_violations) ledger — shared by
    the batch suite and the streaming gate so the ledger shape can
    never drift between them."""
    rows = None
    for i, (name, _) in enumerate(rules):
        r = agg.select(
            F.lit(name).alias("rule"),
            F.col("n_checked").cast("long").alias("n_checked"),
            F.col(f"v{i}").cast("long").alias("n_violations"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows


@query(
    "dq_expectation_suite",
    oracle=f"""
    WITH agg AS (
      SELECT count(*) AS n_checked,
             {", ".join(
                 f"count(*) FILTER (WHERE {pred}) AS v{i}"
                 for i, (_, pred) in enumerate(_DQ_RULES))}
      FROM lineitem
    )
    {" UNION ALL ".join(
        f'''SELECT '{name}' AS rule, CAST(n_checked AS BIGINT) AS n_checked,
                   CAST(v{i} AS BIGINT) AS n_violations,
                   round(CAST(v{i} AS DOUBLE) / nullif(n_checked, 0), 6)
                     AS violation_rate,
                   (v{i} = 0) AS passed
            FROM agg'''
        for i, (name, _) in enumerate(_DQ_RULES))}
    ORDER BY rule
    """,
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the
    Great-Expectations / dbt-test shape): a rule catalog — not-null,
    positivity, range bounds, accepted sets, business thresholds —
    evaluated over the fact table in ONE scan, emitting the per-rule
    audit ledger (checked/violations/rate/pass) a release gate
    consumes. Complements `dq_profile` (descriptive stats) with
    ASSERTIONS; rules are deliberately mixed pass/fail on the fixture
    so both branches carry evidence.

    Scale shape: every rule is a conditional count folded into one
    partial+final aggregate — adding a rule adds one counter, never a
    scan; the ledger explodes from the 1-row aggregate map-side. The
    rule predicates are shared SQL text (`F.expr`), so both engines
    evaluate identical expression trees."""
    agg = spark.table("lineitem").agg(
        F.count("*").alias("n_checked"),
        *[
            F.count(F.when(F.expr(pred), 1)).alias(f"v{i}")
            for i, (_, pred) in enumerate(_DQ_RULES)
        ],
    )
    return (
        dq_ledger_rows(agg, _DQ_RULES)
        .select(
            "rule",
            "n_checked",
            "n_violations",
            # try_divide + oracle nullif: an empty fact table (r10 empty
            # corpus) keeps the per-rule ledger rows (n_checked=0,
            # passed=true) with a NULL rate on both engines.
            F.round(
                F.try_divide(
                    F.col("n_violations").cast("double"), F.col("n_checked")
                ),
                6,
            ).alias("violation_rate"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# r8d: global feature attribution for a linear surrogate (mean-|SHAP|)
# ---------------------------------------------------------------------------

_ATTR_D38 = "DECIMAL(38,0)"


@query(
    "ml_linear_attribution",
    oracle=f"""
    WITH g AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(x1 AS {_ATTR_D38})) AS DOUBLE) AS sx1,
             CAST(sum(CAST(x2 AS {_ATTR_D38})) AS DOUBLE) AS sx2,
             CAST(sum(CAST(y  AS {_ATTR_D38})) AS DOUBLE) AS sy,
             CAST(sum(CAST(x1 * x1 AS {_ATTR_D38})) AS DOUBLE) AS sx1x1,
             CAST(sum(CAST(x1 * x2 AS {_ATTR_D38})) AS DOUBLE) AS sx1x2,
             CAST(sum(CAST(x2 * x2 AS {_ATTR_D38})) AS DOUBLE) AS sx2x2,
             CAST(sum(CAST(x1 * y  AS {_ATTR_D38})) AS DOUBLE) AS sx1y,
             CAST(sum(CAST(x2 * y  AS {_ATTR_D38})) AS DOUBLE) AS sx2y,
             CAST(sum(CAST(y  * y  AS {_ATTR_D38})) AS DOUBLE) AS syy
      FROM g
    ),
    cm AS (
      SELECT n,
             sx1x1 - sx1 * sx1 / n AS c11,
             sx1x2 - sx1 * sx2 / n AS c12,
             sx2x2 - sx2 * sx2 / n AS c22,
             sx1y  - sx1 * sy  / n AS c1y,
             sx2y  - sx2 * sy  / n AS c2y,
             syy   - sy  * sy  / n AS cyy,
             sx1, sx2
      FROM m
    ),
    beta AS (
      SELECT n, sx1, sx2, c1y, c2y, cyy,
             (c22 * c1y - c12 * c2y) / nullif(c11 * c22 - c12 * c12, 0) AS b1,
             (c11 * c2y - c12 * c1y) / nullif(c11 * c22 - c12 * c12, 0) AS b2
      FROM cm
    ),
    dev AS (
      SELECT CAST(sum(CAST(abs(b.n * g.x1 - CAST(b.sx1 AS BIGINT))
                           AS {_ATTR_D38})) AS DOUBLE) AS d1,
             CAST(sum(CAST(abs(b.n * g.x2 - CAST(b.sx2 AS BIGINT))
                           AS {_ATTR_D38})) AS DOUBLE) AS d2
      FROM g CROSS JOIN beta b
    )
    SELECT f.feature,
           round(f.beta, 6) AS beta,
           round(f.mac, 6) AS mean_abs_contribution,
           round((b.b1 * b.c1y + b.b2 * b.c2y) / nullif(b.cyy, 0), 6) AS r2
    FROM beta b CROSS JOIN dev d
    CROSS JOIN LATERAL (
      SELECT 'l_quantity' AS feature, b.b1 AS beta,
             abs(b.b1) * d.d1 / (CAST(b.n AS DOUBLE) * b.n) / 100.0 AS mac
      UNION ALL
      SELECT 'l_discount', b.b2,
             abs(b.b2) * d.d2 / (CAST(b.n AS DOUBLE) * b.n) / 100.0
    ) f
    ORDER BY f.feature
    """,
)
def ml_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global feature attribution for a linear surrogate model: fit
    extendedprice ~ (quantity, discount) by closed-form 2-feature OLS,
    then report each feature's mean |SHAP| — for a linear model the
    SHAP value is exactly βⱼ·(xⱼ − mean(xⱼ)), so the global score is
    |βⱼ|·mean|xⱼ − x̄ⱼ| (Lundberg & Lee 2017, linear case) — the
    model-debugging readout feature platforms publish next to the
    model card, plus the fit's R².

    Exactness: all raw moments accumulate integer cent products in
    DECIMAL(38,0) (the ABC overflow-carrier discipline — Σx·y reaches
    ~3e16 at sf0.1 and would wrap int64 three decades up); the mean
    absolute deviation avoids off-grid centering entirely via
    Σ|n·xᵢ − Σx| (exact integers), and the normal-equation solve is a
    fixed expression tree on those exact-derived doubles with
    nullif/try_divide degeneracy guards.

    Scale shape: two map-side-combined fact passes (moments, then
    deviations against the broadcast fit) — no per-row output, no
    shuffle beyond the 1-row aggregates. A d-feature version is the
    same two passes with a d×d normal matrix solved driver-side
    (d²-bounded, the Markov/BT precedent)."""
    g = spark.table("lineitem").select(
        F.round(F.col("l_quantity") * 100).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    # the moments and deviations passes (r15: ~20 duplicate lineitem
    # scans lazy; wall 2.2-4.4 s vs 1.3-1.6 s)
    ).transform(pin, "fanout")
    d38 = _ATTR_D38
    m = g.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x1").cast(d38)).cast("double").alias("sx1"),
        F.sum(F.col("x2").cast(d38)).cast("double").alias("sx2"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("x1") * F.col("x1")).cast(d38)).cast("double").alias("sx1x1"),
        F.sum((F.col("x1") * F.col("x2")).cast(d38)).cast("double").alias("sx1x2"),
        F.sum((F.col("x2") * F.col("x2")).cast(d38)).cast("double").alias("sx2x2"),
        F.sum((F.col("x1") * F.col("y")).cast(d38)).cast("double").alias("sx1y"),
        F.sum((F.col("x2") * F.col("y")).cast(d38)).cast("double").alias("sx2y"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).cast("double").alias("syy"),
    )
    n = F.col("n")
    cm = m.select(
        "n",
        "sx1",
        "sx2",
        (F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n).alias("c11"),
        (F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n).alias("c12"),
        (F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n).alias("c22"),
        (F.col("sx1y") - F.col("sx1") * F.col("sy") / n).alias("c1y"),
        (F.col("sx2y") - F.col("sx2") * F.col("sy") / n).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    beta = cm.select(
        "n",
        "sx1",
        "sx2",
        "c1y",
        "c2y",
        "cyy",
        F.try_divide(
            F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y"), det
        ).alias("b1"),
        F.try_divide(
            F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"), det
        ).alias("b2"),
    )
    dev = g.crossJoin(F.broadcast(beta)).agg(
        F.sum(
            F.abs(F.col("n") * F.col("x1") - F.col("sx1").cast("long")).cast(d38)
        )
        .cast("double")
        .alias("d1"),
        F.sum(
            F.abs(F.col("n") * F.col("x2") - F.col("sx2").cast("long")).cast(d38)
        )
        .cast("double")
        .alias("d2"),
    )
    r2 = F.round(
        F.try_divide(
            F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y"),
            F.col("cyy"),
        ),
        6,
    )
    joined = beta.crossJoin(F.broadcast(dev))
    rows = [
        joined.select(
            F.lit("l_discount").alias("feature"),
            F.round(F.col("b2"), 6).alias("beta"),
            F.round(
                F.abs(F.col("b2"))
                * F.col("d2")
                / (F.col("n").cast("double") * F.col("n"))
                / 100.0,
                6,
            ).alias("mean_abs_contribution"),
            r2.alias("r2"),
        ),
        joined.select(
            F.lit("l_quantity").alias("feature"),
            F.round(F.col("b1"), 6).alias("beta"),
            F.round(
                F.abs(F.col("b1"))
                * F.col("d1")
                / (F.col("n").cast("double") * F.col("n"))
                / 100.0,
                6,
            ).alias("mean_abs_contribution"),
            r2.alias("r2"),
        ),
    ]
    return rows[0].unionAll(rows[1]).orderBy("feature")


# ---------------------------------------------------------------------------
# r8e: Poisson bootstrap CI (the single-pass distributed bootstrap)
# ---------------------------------------------------------------------------

_BOOT_B = 64          #: bootstrap replicates
_BOOT_LO_RANK = 4     #: ≈5th percentile of 64 ordered replicate means
_BOOT_HI_RANK = 61    #: ≈95th percentile
#: Poisson(1) CDF at k = 0..5 as fixed literals (P(k>6) ≈ 1e-4 truncated):
#: both engines compare the same derived double against the same literal,
#: so replicate weights match without cross-engine exp().
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _sql_pois_w(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


_BOOT_U_DUCK = (
    "CAST(("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {k}, 1)) - 1) * {16 ** (8 - k)}.0"
        for k in range(1, 9)
    )
    + ") AS BIGINT) / 4294967296.0"
)


@query(
    "stats_poisson_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT event_id, value FROM events WHERE event_type = 'purchase'
    ), u AS (
      SELECT value, b,
             {_BOOT_U_DUCK} AS u
      FROM (SELECT event_id, value, b,
                   sha256(CAST(event_id AS VARCHAR) || ':'
                          || CAST(b AS VARCHAR)) AS h
            FROM base CROSS JOIN generate_series(0, {_BOOT_B - 1}) AS g(b)) t
    ), bm AS (
      SELECT b,
             {{mean_b}} AS mean_b
      FROM (SELECT value, b, {_sql_pois_w('u')} AS w FROM u) t
      GROUP BY b
    ), ranked AS (
      SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM bm
    ), pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             {{point}} AS point_mean
      FROM base
    )
    SELECT n_rows,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           point_mean,
           (SELECT mean_b FROM ranked WHERE rn = {_BOOT_LO_RANK}) AS boot_lo,
           (SELECT mean_b FROM ranked WHERE rn = {_BOOT_HI_RANK}) AS boot_hi
    FROM pt
    """.format(
        mean_b=_sql_round_ieee(
            "CAST(sum(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(18,0)) * w)"
            " AS DOUBLE) / 100.0 / sum(w)",
            6,
        ),
        point=_sql_round_ieee(
            "CAST(sum(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(18,0)))"
            " AS DOUBLE) / 100.0 / count(*)",
            6,
        ),
    ),
)
def stats_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap [Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012] — THE bootstrap that works at
    100 TB: instead of drawing n-out-of-n resamples (which needs global
    coordination), every row independently receives a Poisson(1) weight
    per replicate, so all B={_BOOT_B} replicates are computed in ONE
    pass over the data with map-side partial aggregation; the shuffle
    carries B partial rows per task, never data. Weights come from a
    seeded hash inverse-CDF (same trick as privacy_dp_count_release),
    so the resampling is deterministic and engine-independent: the CI
    is value-checked, not just shaped.

    Replicate means use the 2-decimal integer grid (values are cents)
    summed in DECIMAL — order-free — and the ~5th/95th percentile of
    the B ordered means bound the CI. The B-sized rank pass is a
    {_BOOT_B}-row window, driver-trivial."""
    e = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
    )
    u_expr = (
        f"CAST(conv(substr(sha2(concat(CAST(event_id AS STRING), ':',"
        f" CAST(b AS STRING)), 256), 1, 8), 16, 10) AS BIGINT) / 4294967296.0"
    )
    branches = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    # Spread before the replicate loop (r15, VERDICT ask #3): the
    # {B} SHA-256 evaluations per row all run in the SCAN stage, and a
    # single-row-group local file pins that stage to one task — the
    # whole ~{B}x-hash loop ran on one core (guide §2.5 input skew: one
    # huge unsplittable input; the dedup._spread rationale). The
    # round-robin exchange moves ~16 bytes/row once, orders of magnitude
    # cheaper than the per-row hashing it parallelizes — at cluster
    # scale, where the scan already supplies splits, it degrades to a
    # cheap narrow rebalance of an (id, value) projection.
    rep = (
        e.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(
            F.broadcast(
                spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
            )
        )
        .withColumn("u", F.expr(u_expr))
        .withColumn("w", F.expr(f"CASE {branches} ELSE 6 END"))
    )
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("decimal(18,0)")
    bm = rep.groupBy("b").agg(
        _round_ieee(
            F.sum(cents * F.col("w")).cast("double") / 100.0 / F.sum("w"), 6
        ).alias("mean_b")
    )
    # Bounded relation (exactly B rows): the single-task window here is
    # intended; the constant partition key keeps the spec non-empty
    # (same convention as prefix.py's offsets window).
    ranked = bm.select(
        "mean_b",
        F.row_number()
        .over(W.partitionBy(F.pmod(F.col("b"), F.lit(1))).orderBy("mean_b", "b"))
        .alias("rn"),
    )
    ci = ranked.agg(
        F.min(F.when(F.col("rn") == _BOOT_LO_RANK, F.col("mean_b"))).alias(
            "boot_lo"
        ),
        F.min(F.when(F.col("rn") == _BOOT_HI_RANK, F.col("mean_b"))).alias(
            "boot_hi"
        ),
    )
    pt = e.agg(
        F.count("*").cast("long").alias("n_rows"),
        _round_ieee(F.sum(cents).cast("double") / 100.0 / F.count("*"), 6).alias(
            "point_mean"
        ),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        "point_mean",
        "boot_lo",
        "boot_hi",
    )


# ---------------------------------------------------------------------------
# r8e: Holt linear-trend forecast (double exponential smoothing)
# ---------------------------------------------------------------------------

_HOLT_H = 7  #: forecast horizon (days)


@query(
    "ts_holt_linear_forecast",
    oracle=f"""
    WITH RECURSIVE idx AS ({_sql_purchase_series()}
    ), hw AS (
      SELECT 1 AS i,
             (SELECT y FROM idx WHERE i = 1) AS l,
             (SELECT y FROM idx WHERE i = 2)
               - (SELECT y FROM idx WHERE i = 1) AS t
      UNION ALL
      SELECT d.i,
             0.5 * d.y + 0.5 * (hw.l + hw.t),
             0.5 * ((0.5 * d.y + 0.5 * (hw.l + hw.t)) - hw.l) + 0.5 * hw.t
      FROM hw JOIN idx d ON d.i = hw.i + 1
    ), fin AS (
      SELECT l, t FROM hw ORDER BY i DESC LIMIT 1
    ), lastd AS (
      SELECT max(day) AS last_day, count(*) AS nn FROM idx
    )
    SELECT CAST(h AS BIGINT) AS h,
           last_day + CAST(h AS INTEGER) AS day,
           {{fc}} AS forecast
    FROM fin CROSS JOIN lastd
    CROSS JOIN generate_series(1, {_HOLT_H}) AS g(h)
    WHERE nn >= 2
    ORDER BY h
    """.format(fc=_sql_round_ieee("l + CAST(h AS DOUBLE) * t", 6)),
)
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend method (double exponential smoothing,
    α = β = 0.5) over the daily purchase-revenue series, emitting the
    h-step-ahead forecasts ŷ(h) = l_n + h·t_n for h = 1..7 — the
    classic ops-forecasting shape (capacity planning, anomaly
    baselines).

    An inherently SEQUENTIAL recurrence, handled by the repo's bounded-
    domain rule: the recurrence folds over base relation B's day-sorted
    series (calendar-bounded — ~150 elements here, ≤ a few thousand at
    ANY corpus size) as one `aggregate` lambda — per the
    dedup_simhash_sha lesson, lambdas are exactly right at this size and
    the fold never touches fact-sized data. B's sane-ts window keeps a
    9999 sentinel day from corrupting the trend and from pushing forecast
    days past the Python-datetime ceiling (r10 time corpus). The DuckDB
    oracle runs the SAME recurrence as a recursive CTE, so every float
    op is order-pinned on both engines: the forecasts compare bitwise.
    l_i is inlined twice in the t-update on BOTH sides (identical op
    sequence)."""
    series = _purchase_series(spark)
    # Holt's trend init needs two observations; on a shorter series the
    # model is undefined — zero forecast rows on both engines instead
    # of an out-of-bounds element_at (r9 sparse-fixture find).
    fitted = series.where(F.size("s") >= 2).select(
        F.element_at("s", -1)["day"].alias("last_day"),
        F.expr(
            "aggregate("
            "  transform(slice(s, 2, size(s) - 1), p -> p.y),"
            "  named_struct("
            "    'l', element_at(s, 1).y,"
            "    't', element_at(s, 2).y - element_at(s, 1).y),"
            "  (acc, y) -> named_struct("
            "    'l', 0.5D * y + 0.5D * (acc.l + acc.t),"
            "    't', 0.5D * ((0.5D * y + 0.5D * (acc.l + acc.t)) - acc.l)"
            "         + 0.5D * acc.t))"
        ).alias("st"),
    )
    return (
        fitted.select(
            "last_day",
            F.col("st.l").alias("l"),
            F.col("st.t").alias("t"),
            F.explode(F.sequence(F.lit(1), F.lit(_HOLT_H))).alias("h"),
        )
        .select(
            F.col("h").cast("long").alias("h"),
            F.date_add("last_day", F.col("h")).alias("day"),
            _round_ieee(
                F.col("l") + F.col("h").cast("double") * F.col("t"), 6
            ).alias("forecast"),
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# r8e: Mann-Whitney U (rank-sum test on the compressed value domain)
# ---------------------------------------------------------------------------

#: Shared z-statistic expression shape (identical op sequence on both
#: engines): u, mu, sigma from exact integer moments.
_MWU_Z = (
    "((CAST(two_u AS DOUBLE) / 2.0"
    " - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)"
    " / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0"
    "   * ((CAST(n1 + n2 AS DOUBLE) + 1.0)"
    "      - CAST(tie AS DOUBLE)"
    "        / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0)))))"
)


@query(
    "stats_mann_whitney_u",
    oracle=f"""
    WITH g AS (
      -- complete-case (value IS NOT NULL): a rank test has no rank for
      -- a missing observation, and a null value group would land at
      -- opposite ends of the engines' rank windows (r10 nulls corpus).
      SELECT value, (event_type = 'purchase') AS is_a FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ), dom AS (
      SELECT value,
             CAST(count(*) FILTER (WHERE is_a) AS BIGINT) AS c1,
             CAST(count(*) FILTER (WHERE NOT is_a) AS BIGINT) AS c2
      FROM g GROUP BY value
    ), cum AS (
      SELECT value, c1, c2, c1 + c2 AS t,
             sum(c1 + c2) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_upto
      FROM dom
    ), mom AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             sum(CAST(c1 AS DECIMAL(38,0))
                 * (2 * (t_upto - t) + t + 1)) AS two_r1,
             sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie
      FROM cum
    ), fin AS (
      SELECT n1, n2, tie,
             two_r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS two_u
      FROM mom
    )
    SELECT n1, n2,
           CAST(two_u AS DOUBLE) / 2.0 AS u_stat,
           {{z}} AS z_score
    FROM fin
    """.format(z=_sql_round_ieee(_MWU_Z, 6)),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing purchase vs click
    value distributions — the nonparametric two-sample test (no
    normality assumption, unlike stats_welch_ttest) with midrank tie
    handling and the tie-corrected normal approximation.

    100 TB shape: ranking never sorts the facts — rank sums live on the
    COMPRESSED VALUE DOMAIN (one groupBy on the 2-decimal value grid,
    the same trick as the exact-median/quantile-bin family), and the
    running count over that ordered domain is a DISTRIBUTED prefix sum
    (prefix.attach_prefix_sums), so no single-task window touches a
    data-sized relation. Rank sums carry in half-units (2·R1 is an
    exact integer — midranks are halves) inside DECIMAL(38,0) moments
    (the agg_abc int64-headroom lesson: at N≈10¹² rows, n1·(n1+1)
    alone overflows int64); the z-statistic is one fixed IEEE
    expression of those exact moments on both engines."""
    from .prefix import attach_prefix_sums

    g = (
        spark.table("events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()  # complete-case; see oracle
        )
        .select("value", (F.col("event_type") == "purchase").alias("is_a"))
    )
    dom = g.groupBy("value").agg(
        F.count(F.when(F.col("is_a"), 1)).cast("long").alias("c1"),
        F.count(F.when(~F.col("is_a"), 1)).cast("long").alias("c2"),
    )
    cum = attach_prefix_sums(
        dom.withColumn("t", F.col("c1") + F.col("c2")), ["value"], ["t"]
    )
    mom = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * (F.col("t_upto") - F.col("t")) + F.col("t") + 1)
        ).alias("two_r1"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie"),
    )
    fin = mom.select(
        "n1",
        "n2",
        "tie",
        (
            F.col("two_r1")
            - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
        ).alias("two_u"),
    )
    return fin.select(
        "n1",
        "n2",
        (F.col("two_u").cast("double") / 2.0).alias("u_stat"),
        _round_ieee(F.expr(_MWU_Z), 6).alias("z_score"),
    )


# Kruskal-Wallis: the per-group rank-sum terms are pivoted into ONE row of
# exact integer moments (n_/r_ per literal group) so the H statistic is a
# single fixed-shape scalar expression — no cross-row double summation
# whose order could differ between engines.
_KW_GROUPS = ("click", "error", "purchase", "signup", "view")
_KW_TERM = " + ".join(
    f"(CAST(r_{g} AS DOUBLE) * CAST(r_{g} AS DOUBLE)"
    f" / (4.0 * CAST(n_{g} AS DOUBLE)))"
    for g in _KW_GROUPS
)
_KW_H = (
    f"(((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)))"
    f" * ({_KW_TERM})"
    f" - 3.0 * (CAST(n AS DOUBLE) + 1.0))"
    f" / (1.0 - CAST(tie AS DOUBLE)"
    f"    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    f"       - CAST(n AS DOUBLE))))"
)


@query(
    "stats_kruskal_wallis",
    oracle=f"""
    WITH cnt AS (
      -- complete-case on BOTH the observation and the group label: a
      -- null value has no rank (and splits the engines' rank windows),
      -- an untyped observation belongs to no treatment group (r10
      -- nulls corpus).
      SELECT value, event_type AS grp, CAST(count(*) AS BIGINT) AS c
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), dom AS (
      SELECT value, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1
    ), cum AS (
      SELECT value, t,
             sum(t) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_upto
      FROM dom
    ), bygrp AS (
      SELECT grp, CAST(sum(c) AS BIGINT) AS n_g,
             sum(CAST(c AS DECIMAL(38,0))
                 * (2 * (cum.t_upto - cum.t) + cum.t + 1)) AS two_r
      FROM cnt JOIN cum USING (value) GROUP BY grp
    ), one AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             {", ".join(
                 f"sum(n_g) FILTER (WHERE grp = '{g}') AS n_{g},"
                 f" sum(two_r) FILTER (WHERE grp = '{g}') AS r_{g}"
                 for g in _KW_GROUPS
             )}
      FROM bygrp
    ), tiet AS (
      SELECT sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie FROM cum
    )
    SELECT grp, n_g,
           {{mr}} AS mean_rank,
           {{h}} AS h_corr
    FROM bygrp, one, tiet
    """.format(
        mr=_sql_round_ieee(
            "CAST(two_r AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE))", 6
        ),
        h=_sql_round_ieee(_KW_H, 6),
    ),
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the five event-type value distributions
    share a location? The k-group generalization of
    stats_mann_whitney_u, with midrank ties and the tie-corrected H.

    100 TB shape: identical rank machinery to the two-sample test —
    rank sums live on the COMPRESSED VALUE DOMAIN (one groupBy on the
    2-decimal value grid) with a DISTRIBUTED prefix count
    (prefix.attach_prefix_sums), so no fact-sized sort or single-task
    window exists anywhere. Per-group 2·R_g rank sums are exact
    integers in DECIMAL(38,0); they pivot into ONE row of named
    moments (n_g/r_g per literal group) so the H statistic is a single
    fixed-shape IEEE expression — the cross-group summation order is
    frozen in the expression tree, never left to an engine's
    aggregation order. Headroom: at N≈10¹² rows 2·R_g ≈ N² = 10²⁴,
    squared inside the DOUBLE term (10⁴⁸) — fine in binary64 (max
    ~1.8e308); only the exact integer carriers need the decimal width."""
    from .prefix import attach_prefix_sums

    cnt = (
        spark.table("events")
        # complete-case on observation and group label; see oracle
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("value", F.col("event_type").alias("grp"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    dom = cnt.groupBy("value").agg(F.sum("c").cast("long").alias("t"))
    cum = attach_prefix_sums(dom, ["value"], ["t"])
    bygrp = (
        cnt.join(cum, "value")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * (2 * (F.col("t_upto") - F.col("t")) + F.col("t") + 1)
            ).alias("two_r"),
        )
    )
    one = bygrp.agg(
        F.sum("n_g").cast("long").alias("n"),
        *[
            agg
            for g in _KW_GROUPS
            for agg in (
                F.sum(F.when(F.col("grp") == g, F.col("n_g"))).alias(f"n_{g}"),
                F.sum(F.when(F.col("grp") == g, F.col("two_r"))).alias(f"r_{g}"),
            )
        ],
    )
    tiet = cum.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie")
    )
    return (
        bygrp.crossJoin(F.broadcast(one))
        .crossJoin(F.broadcast(tiet))
        .select(
            "grp",
            "n_g",
            _round_ieee(
                F.col("two_r").cast("double") / (2.0 * F.col("n_g").cast("double")),
                6,
            ).alias("mean_rank"),
            _round_ieee(F.expr(_KW_H), 6).alias("h_corr"),
        )
    )


@query(
    "ml_average_precision",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    dom AS (
      SELECT score, count(*) AS nt, count(*) FILTER (WHERE y) AS np
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT score, nt, np,
             sum(nt) OVER (ORDER BY score) AS nt_upto,
             sum(np) OVER (ORDER BY score) AS np_upto
      FROM dom
    ),
    tot AS (SELECT sum(nt) AS t, sum(np) AS p FROM dom),
    terms AS (
      SELECT CAST({_sql_round_ieee(
          "(CAST(np AS DOUBLE) * CAST(p - np_upto + np AS DOUBLE))"
          " / (CAST(p AS DOUBLE) * CAST(t - nt_upto + nt AS DOUBLE))", 9)}
             AS DECIMAL(38,9)) AS term
      FROM cum CROSS JOIN tot
      WHERE np > 0
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(t - p AS BIGINT) AS n_neg,
           {_sql_round_ieee("CAST(sum(term) AS DOUBLE)", 6)} AS avg_precision
    FROM terms CROSS JOIN tot
    GROUP BY p, t
    """,
)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT average precision (area under the step-interpolated PR
    curve, sklearn's formulation): AP = Σ_thresholds ΔRecall · Precision,
    scanning distinct scores from the top — the ranking metric that,
    unlike ROC AUC, is prevalence-sensitive (the right gate for rare-
    positive retrieval/filter models).

    Scale shape: same compressed DISTINCT-SCORE domain + distributed
    prefix count as ml_roc_auc — no per-row rank, no global window.
    The descending cumulative TP/total at each threshold derives from
    the ASCENDING prefix (tp_top = P − np_upto + np), so one prefix
    pass serves both directions. Per-threshold precision·ΔR terms are
    ratios (not exact integers), so each is rounded on the 1e-9 grid —
    term ≤ 1, so term·1e9 sits exactly in binary64 — and summed in
    DECIMAL(38,9): the cross-cell float-summation ORDER problem is
    gone (decimal adds are associative), and both engines round the
    identical IEEE per-cell double. AP drift from the grid is ≤
    n_cells·5e-10 — invisible at 6dp output for any real score domain."""
    from .prefix import attach_prefix_sums

    dom = _scored(spark).groupBy("score").agg(
        F.count("*").alias("nt"),
        F.count(F.when(F.col("y"), 1)).alias("np"),
    )
    cum = attach_prefix_sums(dom, ["score"], ["nt", "np"])
    tot = dom.agg(
        F.sum("nt").cast("long").alias("t"), F.sum("np").cast("long").alias("p")
    )
    term = _round_ieee(
        (
            F.col("np").cast("double")
            * (F.col("p") - F.col("np_upto") + F.col("np")).cast("double")
        )
        / (
            F.col("p").cast("double")
            * (F.col("t") - F.col("nt_upto") + F.col("nt")).cast("double")
        ),
        9,
    ).cast("decimal(38,9)")
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("np") > 0)
        .select(term.alias("term"), "p", "t")
    )
    return terms.groupBy("p", "t").agg(
        _round_ieee(F.sum("term").cast("double"), 6).alias("avg_precision")
    ).select(
        F.col("p").cast("long").alias("n_pos"),
        (F.col("t") - F.col("p")).cast("long").alias("n_neg"),
        "avg_precision",
    )


#: nullif: all-tied ranks on either margin (e.g. a 1-row relation) zero
#: a rank variance and rho is undefined — NULL on both engines (r9).
_SPEARMAN_RHO = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    "  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0))"
)


@query(
    "stats_spearman_rho",
    oracle=f"""
    WITH f AS (
      SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ), domx AS (
      SELECT x, CAST(count(*) AS BIGINT) AS t FROM f GROUP BY x
    ), cumx AS (
      SELECT x, CAST(2 * (sum(t) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
                 + t + 1 AS DECIMAL(18,0)) AS wx
      FROM domx
    ), domy AS (
      SELECT y, CAST(count(*) AS BIGINT) AS t FROM f GROUP BY y
    ), cumy AS (
      SELECT y, CAST(2 * (sum(t) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
                 + t + 1 AS DECIMAL(18,0)) AS wy
      FROM domy
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(wx) AS sx, sum(wy) AS sy,
             sum(wx * wy) AS sxy, sum(wx * wx) AS sxx, sum(wy * wy) AS syy
      FROM f JOIN cumx USING (x) JOIN cumy USING (y)
    )
    SELECT n, {{rho}} AS spearman_rho FROM mom
    """.format(rho=_sql_round_ieee(_SPEARMAN_RHO, 6)),
)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line-item quantity and extended
    price — Pearson over MIDRANKS, the tie-correct formulation (the
    50-value quantity domain is nothing but ties, so naive dense ranks
    would be wrong; midranks make ρ exact).

    Scale shape: each column's midranks live on its own COMPRESSED
    domain (50-cell quantity grid; the 2dp price grid) with a
    DISTRIBUTED prefix count — no fact-sized sort. Ranks return to the
    facts via two linear equi-joins (the quantity side is broadcast-
    sized by construction; the price side is one hash shuffle, and AQE
    broadcasts it too when the domain allows). Midranks carry in
    half-units (wx = 2·rank, an exact integer) inside DECIMAL(18,0) so
    products widen to DECIMAL(37,0) without overflow — headroom: w ≤
    2N+1 needs N < 5·10¹⁷; the five moments are exact integers and ρ is
    ONE fixed-shape IEEE expression of them on both engines."""
    from .prefix import attach_prefix_sums

    f = spark.table("lineitem").select(
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    def _mid(dom_col: str) -> DataFrame:
        dom = f.groupBy(dom_col).agg(F.count("*").cast("long").alias("t"))
        cum = attach_prefix_sums(dom, [dom_col], ["t"])
        return cum.select(
            dom_col,
            (2 * (F.col("t_upto") - F.col("t")) + F.col("t") + 1)
            .cast("decimal(18,0)")
            .alias(f"w{dom_col}"),
        )
    mom = (
        f.join(_mid("x"), "x")
        .join(_mid("y"), "y")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("wx").alias("sx"),
            F.sum("wy").alias("sy"),
            F.sum(F.col("wx") * F.col("wy")).alias("sxy"),
            F.sum(F.col("wx") * F.col("wx")).alias("sxx"),
            F.sum(F.col("wy") * F.col("wy")).alias("syy"),
        )
    )
    return mom.select("n", _round_ieee(F.expr(_SPEARMAN_RHO), 6).alias("spearman_rho"))


@query(
    "ml_mutual_information",
    oracle=f"""
    WITH f AS (
      SELECT event_type AS x, CAST(floor(value / 50) AS BIGINT) AS y
      FROM events
    ), xy AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy FROM f GROUP BY x, y
    ), mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY x),
    my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY y),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM xy),
    mi_terms AS (
      SELECT CAST({_sql_round_ieee(
          "(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))"
          " * ln(CAST(n AS DOUBLE) * CAST(n_xy AS DOUBLE)"
          "      / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))", 9)}
             AS DECIMAL(38,9)) AS term
      FROM xy JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ),
    hx_terms AS (
      SELECT CAST({_sql_round_ieee(
          "-(CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE))"
          " * ln(CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE))", 9)}
             AS DECIMAL(38,9)) AS term
      FROM mx CROSS JOIN tot
    ),
    hy_terms AS (
      SELECT CAST({_sql_round_ieee(
          "-(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE))"
          " * ln(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE))", 9)}
             AS DECIMAL(38,9)) AS term
      FROM my CROSS JOIN tot
    )
    SELECT (SELECT n FROM tot) AS n,
           {_sql_round_ieee("CAST((SELECT sum(term) FROM mi_terms) AS DOUBLE)", 6)}
             AS mutual_info,
           {_sql_round_ieee("CAST((SELECT sum(term) FROM hx_terms) AS DOUBLE)", 6)}
             AS h_x,
           {_sql_round_ieee("CAST((SELECT sum(term) FROM hy_terms) AS DOUBLE)", 6)}
             AS h_y
    """,
)
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between event type and the value band,
    with both marginal entropies (nats) — the model-free dependence
    measure feature selection ranks columns by (an MI near min(H_X,H_Y)
    means Y is a function of X; near 0 means the feature is useless).

    Scale shape: ONE contingency rollup over the facts; marginals and
    every Σ p·ln(p…) term live on the bounded (x,y) grid. The per-cell
    terms are ratios, so each lands on the 1e-9 grid (|term| ≤ ln N —
    term·1e9 exact in binary64 for any real N) and sums in
    DECIMAL(38,9): float-order-free across engines, drift ≤
    cells·5e-10, invisible at 6dp."""
    f = spark.table("events").select(
        F.col("event_type").alias("x"),
        F.floor(F.col("value") / 50).cast("long").alias("y"),
    )
    xy = f.groupBy("x", "y").agg(F.count("*").cast("long").alias("n_xy"))
    mx = xy.groupBy("x").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = xy.groupBy("y").agg(F.sum("n_xy").cast("long").alias("n_y"))
    tot = xy.agg(F.sum("n_xy").cast("long").alias("n"))
    nD = F.col("n").cast("double")
    mi_term = _round_ieee(
        (F.col("n_xy").cast("double") / nD)
        * F.log(
            nD * F.col("n_xy").cast("double")
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        ),
        9,
    ).cast("decimal(38,9)")
    mi = (
        xy.join(mx, "x").join(my, "y").crossJoin(F.broadcast(tot))
        .select(mi_term.alias("term"))
        .agg(F.sum("term").alias("s"))
        .select(_round_ieee(F.col("s").cast("double"), 6).alias("mutual_info"))
    )

    def _entropy(marg: DataFrame, cnt: str, out: str) -> DataFrame:
        t = _round_ieee(
            -(F.col(cnt).cast("double") / nD)
            * F.log(F.col(cnt).cast("double") / nD),
            9,
        ).cast("decimal(38,9)")
        return (
            marg.crossJoin(F.broadcast(tot))
            .select(t.alias("term"))
            .agg(F.sum("term").alias("s"))
            .select(_round_ieee(F.col("s").cast("double"), 6).alias(out))
        )

    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(_entropy(mx, "n_x", "h_x")))
        .crossJoin(F.broadcast(_entropy(my, "n_y", "h_y")))
        .select("n", "mutual_info", "h_x", "h_y")
    )


# Jarque-Bera from RAW integer power sums on the cents grid: central
# moments expand to fixed-shape IEEE expressions of (n, s1..s4) — the
# four carriers are exact DECIMAL integers, so both engines compute
# bit-identical doubles.
_JB_M2 = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
)
_JB_M3 = (
    "((CAST(s3 AS DOUBLE)"
    " - 3.0 * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    " + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE))"
)
_JB_M4 = (
    "((CAST(s4 AS DOUBLE)"
    " - 4.0 * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    " + 6.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    " - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    "   * CAST(s1 AS DOUBLE)"
    "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " / CAST(n AS DOUBLE))"
)
_JB_SKEW = f"({_JB_M3} / pow({_JB_M2}, 1.5))"
_JB_KURT = f"({_JB_M4} / ({_JB_M2} * {_JB_M2}))"
_JB_STAT = (
    f"((CAST(n AS DOUBLE) / 6.0) * ({_JB_SKEW} * {_JB_SKEW}"
    f" + ({_JB_KURT} - 3.0) * ({_JB_KURT} - 3.0) / 4.0))"
)


@query(
    "stats_jarque_bera",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
      WHERE event_type = 'purchase'
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(c AS DECIMAL(38,0))) AS s1,
             sum(CAST(c AS DECIMAL(38,0)) * c) AS s2,
             sum(CAST(c AS DECIMAL(38,0)) * c * c) AS s3,
             sum(CAST(c AS DECIMAL(38,0)) * c * c * c) AS s4
      FROM v
    )
    SELECT n, {{sk}} AS skewness, {{ku}} AS kurtosis, {{jb}} AS jb_stat
    FROM mom
    """.format(
        sk=_sql_round_ieee(_JB_SKEW, 6),
        ku=_sql_round_ieee(_JB_KURT, 6),
        jb=_sql_round_ieee(_JB_STAT, 6),
    ),
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on purchase values: JB =
    n/6·(S² + (K−3)²/4) from exact skewness S and kurtosis K — the
    one-pass gate for "is this metric normal enough for the z/t tests
    downstream" (stats_welch_ttest, ab_test_proportions assume it).

    Scale shape: ONE map-side-combined aggregate computes the four raw
    power sums on the integer cents grid — s4 carries c⁴ ≈ 10²⁰ per row
    in DECIMAL(38,0), headroom to ~10¹⁸ rows. Central moments, S, K, JB
    expand to fixed-shape IEEE expressions of those exact integers —
    no intermediate float aggregation anywhere, so both engines are
    bit-identical by construction."""
    v = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c")
        )
    )
    c38 = F.col("c").cast("decimal(38,0)")
    mom = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(c38).alias("s1"),
        F.sum(c38 * F.col("c")).alias("s2"),
        F.sum(c38 * F.col("c") * F.col("c")).alias("s3"),
        F.sum(c38 * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    return mom.select(
        "n",
        _round_ieee(F.expr(_JB_SKEW), 6).alias("skewness"),
        _round_ieee(F.expr(_JB_KURT), 6).alias("kurtosis"),
        _round_ieee(F.expr(_JB_STAT), 6).alias("jb_stat"),
    )


# Cohen's kappa from exact confusion integers: po·n² = (tp+tn)·n,
# pe·n² = (tp+fp)(tp+fn) + (fn+tn)(fp+tn); kappa = (po−pe)/(1−pe)
# = ((tp+tn)·n − pe_num) / (n² − pe_num) — one fixed IEEE division.
_KAPPA = (
    "((CAST(tp + tn AS DOUBLE) * CAST(n AS DOUBLE)"
    "  - (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)"
    "     + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE)))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    "    - (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)"
    "       + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE))))"
)


@query(
    "ml_cohens_kappa",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    conf AS (
      SELECT t.threshold,
             CAST(count(*) FILTER (WHERE score >= t.threshold AND y) AS BIGINT) AS tp,
             CAST(count(*) FILTER (WHERE score >= t.threshold AND NOT y) AS BIGINT) AS fp,
             CAST(count(*) FILTER (WHERE score < t.threshold AND y) AS BIGINT) AS fn,
             CAST(count(*) FILTER (WHERE score < t.threshold AND NOT y) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS n
      FROM scored CROSS JOIN (
        SELECT unnest(ARRAY{list(_EVAL_THRESHOLDS)}) AS threshold) t
      GROUP BY t.threshold
    )
    SELECT threshold, tp, fp, fn, tn, {_sql_round_ieee(_KAPPA, 6)} AS kappa
    FROM conf ORDER BY threshold
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa at the shared fixed decision thresholds —
    chance-corrected agreement between the thresholded score and the
    truth, the metric that exposes a classifier that looks accurate
    only because one class dominates (accuracy's blind spot).

    Scale shape: the same constant 3-way threshold fan-out as
    ml_eval_binary_metrics (map-side, no join), one map-side-combined
    confusion rollup; kappa is a single fixed-shape IEEE expression of
    the exact integer confusion cells (expanded so po/pe never exist
    as separately-rounded floats)."""
    scored = _scored(spark).crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(
                    F.array(*[F.lit(t) for t in _EVAL_THRESHOLDS])
                ).alias("threshold")
            )
        )
    )
    pos = F.col("score") >= F.col("threshold")
    conf = scored.groupBy("threshold").agg(
        F.count(F.when(pos & F.col("y"), 1)).cast("long").alias("tp"),
        F.count(F.when(pos & ~F.col("y"), 1)).cast("long").alias("fp"),
        F.count(F.when(~pos & F.col("y"), 1)).cast("long").alias("fn"),
        F.count(F.when(~pos & ~F.col("y"), 1)).cast("long").alias("tn"),
        F.count("*").cast("long").alias("n"),
    )
    return conf.select(
        "threshold", "tp", "fp", "fn", "tn",
        _round_ieee(F.expr(_KAPPA), 6).alias("kappa"),
    ).orderBy("threshold")


#: SAX alphabet-4 Gaussian breakpoints (equiprobable N(0,1) quartiles).
_SAX_BP = (-0.6744897501960817, 0.0, 0.6744897501960817)
_SAX_W = 4  # days per PAA frame

# The frame z-score from exact integer carriers: frame mean in cents
# (fs1/fn), series mean (s1/n), series std from the power sums —
# one fixed-shape IEEE expression.
_SAX_Z = (
    "((CAST(fs1 AS DOUBLE) / CAST(fn AS DOUBLE)"
    "  - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    "        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))"
)
_SAX_SYM = (
    f"(CASE WHEN {_SAX_Z} < {_SAX_BP[0]!r} THEN 'a'"
    f" WHEN {_SAX_Z} < {_SAX_BP[1]!r} THEN 'b'"
    f" WHEN {_SAX_Z} < {_SAX_BP[2]!r} THEN 'c'"
    f" ELSE 'd' END)"
)


@query(
    "ts_sax_symbols",
    oracle=f"""
    WITH daily AS ({_sql_daily_purchase_cents()}
    ), d0 AS (SELECT min(day) AS day0 FROM daily),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS s1,
             sum(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
      FROM daily
    ), frames AS (
      SELECT CAST(datediff('day', day0, day) // {_SAX_W} AS BIGINT)
               AS frame_id,
             CAST(count(*) AS BIGINT) AS fn,
             sum(CAST(cents AS DECIMAL(38,0))) AS fs1,
             min(day) AS start_day
      FROM daily CROSS JOIN d0
      GROUP BY 1
    )
    SELECT frame_id, start_day, fn AS n_days,
           {_sql_round_ieee(_SAX_Z, 6)} AS z,
           {_SAX_SYM} AS symbol
    FROM frames CROSS JOIN mom
    ORDER BY frame_id
    """,
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin/Keogh) of the daily purchase-revenue
    series: z-normalize, piecewise-aggregate into 4-day frames, map
    each frame mean onto the equiprobable 4-letter Gaussian alphabet —
    the discretization that turns time series into strings so motif /
    anomaly mining can reuse text machinery (winnowing, n-gram dedup).

    Scale shape: base relation A; normalization moments and the PAA
    frames are day-domain aggregates. Every carrier (frame cents sums,
    series power sums) is an exact integer; each frame's z and its
    breakpoint comparisons are one fixed-shape IEEE expression — the
    symbol can only flip if the EXACT z crosses a breakpoint, identically
    on both engines."""
    daily = _daily_purchase_cents(spark)
    d0 = daily.agg(F.min("day").alias("day0"))
    c38 = F.col("cents").cast("decimal(38,0)")
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(c38).alias("s1"),
        F.sum(c38 * F.col("cents")).alias("s2"),
    )
    frames = (
        daily.crossJoin(F.broadcast(d0))
        .groupBy(
            F.floor(F.datediff("day", "day0") / _SAX_W)
            .cast("long")
            .alias("frame_id")
        )
        .agg(
            F.count("*").cast("long").alias("fn"),
            F.sum(c38).alias("fs1"),
            F.min("day").alias("start_day"),
        )
    )
    return (
        frames.crossJoin(F.broadcast(mom))
        .select(
            "frame_id",
            "start_day",
            F.col("fn").alias("n_days"),
            _round_ieee(F.expr(_SAX_Z), 6).alias("z"),
            F.expr(_SAX_SYM).alias("symbol"),
        )
        .orderBy("frame_id")
    )


# One-way ANOVA F from pivoted exact per-group moments (the Kruskal-
# Wallis pivot discipline): SSB = Σ s_g²/n_g − S²/N, SSW = Σ(q_g −
# s_g²/n_g), F = (SSB/(k−1)) / (SSW/(N−k)) — expanded into one fixed
# IEEE expression over the named carriers.
_ANOVA_GROUPS = ("click", "error", "purchase", "signup", "view")
_ANOVA_RATIO = " + ".join(
    f"(CAST(s_{g} AS DOUBLE) * CAST(s_{g} AS DOUBLE)"
    f" / CAST(n_{g} AS DOUBLE))"
    for g in _ANOVA_GROUPS
)
_ANOVA_SSB = (
    f"(({_ANOVA_RATIO})"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
)
_ANOVA_SSW = f"(CAST(q AS DOUBLE) - ({_ANOVA_RATIO}))"
_ANOVA_F = (
    f"(({_ANOVA_SSB} / {float(len(_ANOVA_GROUPS) - 1)})"
    f" / ({_ANOVA_SSW} / (CAST(n AS DOUBLE) - {float(len(_ANOVA_GROUPS))})))"
)


@query(
    "stats_anova_oneway",
    oracle=f"""
    WITH v AS (
      SELECT event_type AS grp,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ), bygrp AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             sum(CAST(c AS DECIMAL(38,0))) AS s_g,
             sum(CAST(c AS DECIMAL(38,0)) * c) AS q_g
      FROM v GROUP BY grp
    ), one AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s, sum(q_g) AS q,
             {", ".join(
                 f"sum(n_g) FILTER (WHERE grp = '{g}') AS n_{g},"
                 f" sum(s_g) FILTER (WHERE grp = '{g}') AS s_{g}"
                 for g in _ANOVA_GROUPS
             )}
      FROM bygrp
    )
    SELECT grp, n_g,
           {{m}} AS mean_cents,
           {{f}} AS f_stat
    FROM bygrp CROSS JOIN one ORDER BY grp
    """.format(
        m=_sql_round_ieee(
            "CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) / 100.0", 6
        ),
        f=_sql_round_ieee(_ANOVA_F, 6),
    ),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five event-type value distributions —
    the parametric counterpart of stats_kruskal_wallis (F from
    between/within sums of squares instead of rank sums).

    Scale shape: ONE map-side-combined aggregate computes exact integer
    (n, Σc, Σc²) per group on the cents grid; the per-group moments
    pivot into a single row of NAMED carriers so Σ s_g²/n_g is frozen
    in the expression tree (the Kruskal-Wallis pivot discipline — no
    engine ever orders a float sum). F is one fixed IEEE expression;
    headroom: Σc² ≈ 10²⁰/row in DECIMAL(38,0) holds to ~10¹⁸ rows."""
    v = spark.table("events").select(
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    c38 = F.col("c").cast("decimal(38,0)")
    bygrp = v.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(c38).alias("s_g"),
        F.sum(c38 * F.col("c")).alias("q_g"),
    )
    one = bygrp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        *[
            agg
            for g in _ANOVA_GROUPS
            for agg in (
                F.sum(F.when(F.col("grp") == g, F.col("n_g"))).alias(f"n_{g}"),
                F.sum(F.when(F.col("grp") == g, F.col("s_g"))).alias(f"s_{g}"),
            )
        ],
    )
    return (
        bygrp.crossJoin(F.broadcast(one))
        .select(
            "grp",
            "n_g",
            _round_ieee(
                F.col("s_g").cast("double") / F.col("n_g").cast("double") / 100.0,
                6,
            ).alias("mean_cents"),
            _round_ieee(F.expr(_ANOVA_F), 6).alias("f_stat"),
        )
        .orderBy("grp")
    )


@query(
    "stats_levene",
    oracle=f"""
    WITH v AS (
      -- complete-case on observation and group label (r10 nulls
      -- corpus; rank-window null placement differs across engines)
      SELECT event_type AS grp,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), dom AS (
      SELECT grp, c, count(*) AS cnt FROM v GROUP BY 1, 2
    ), cum AS (
      SELECT grp, c, sum(cnt) OVER (PARTITION BY grp ORDER BY c) AS cu
      FROM dom
    ), nn AS (SELECT grp, count(*) AS n FROM v GROUP BY 1),
    med AS (
      SELECT grp, min(c) AS med_c
      FROM cum JOIN nn USING (grp)
      WHERE cu >= (n + 1) // 2 GROUP BY grp
    ), d AS (
      SELECT v.grp, med.med_c, abs(v.c - med.med_c) AS dv
      FROM v JOIN med ON v.grp = med.grp
    ), bygrp AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             sum(CAST(dv AS DECIMAL(38,0))) AS s_g,
             sum(CAST(dv AS DECIMAL(38,0)) * dv) AS q_g,
             max(med_c) AS med_c
      FROM d GROUP BY grp
    ), one AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s, sum(q_g) AS q,
             {", ".join(
                 f"sum(n_g) FILTER (WHERE grp = '{g}') AS n_{g},"
                 f" sum(s_g) FILTER (WHERE grp = '{g}') AS s_{g}"
                 for g in _ANOVA_GROUPS
             )}
      FROM bygrp
    )
    SELECT grp, n_g,
           CAST(med_c AS DOUBLE) / 100.0 AS grp_median,
           {{m}} AS mean_absdev,
           {{w}} AS levene_w
    FROM bygrp CROSS JOIN one ORDER BY grp
    """.format(
        m=_sql_round_ieee(
            "CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) / 100.0", 6
        ),
        w=_sql_round_ieee(_ANOVA_F, 6),
    ),
)
def stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test, Brown–Forsythe variant: one-way ANOVA on
    |x − group median| — the robust EQUALITY-OF-VARIANCES gate that
    should precede stats_anova_oneway/stats_welch_ttest (Welch exists
    precisely because this test often fails).

    Scale shape: group medians come EXACTLY from the compressed
    (group, cents) domain with partitioned running counts (the
    clean_impute_group_median machinery — never a fact sort); the
    absolute deviations are exact integers (|c − med| in cents), so the
    W statistic is the stats_anova_oneway fixed expression over exact
    DECIMAL(38,0) moments of d — the two operators share one
    expression tree by construction."""
    v = (
        spark.table("events")
        # complete-case; see oracle
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.col("event_type").alias("grp"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
    )
    dom = v.groupBy("grp", "c").agg(F.count("*").alias("cnt"))
    wt = W.partitionBy("grp").orderBy("c").rowsBetween(W.unboundedPreceding, 0)
    cum = dom.withColumn("cu", F.sum("cnt").over(wt))
    nn = v.groupBy("grp").agg(F.count("*").alias("n"))
    med = (
        cum.join(F.broadcast(nn), "grp")
        .filter(F.col("cu") >= F.expr("(n + 1) div 2"))
        .groupBy("grp")
        .agg(F.min("c").alias("med_c"))
    )
    d = v.join(F.broadcast(med), "grp").select(
        "grp", "med_c", F.abs(F.col("c") - F.col("med_c")).alias("dv")
    )
    d38 = F.col("dv").cast("decimal(38,0)")
    bygrp = d.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(d38).alias("s_g"),
        F.sum(d38 * F.col("dv")).alias("q_g"),
        F.max("med_c").alias("med_c"),
    )
    one = bygrp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        *[
            agg
            for g in _ANOVA_GROUPS
            for agg in (
                F.sum(F.when(F.col("grp") == g, F.col("n_g"))).alias(f"n_{g}"),
                F.sum(F.when(F.col("grp") == g, F.col("s_g"))).alias(f"s_{g}"),
            )
        ],
    )
    return (
        bygrp.crossJoin(F.broadcast(one))
        .select(
            "grp",
            "n_g",
            (F.col("med_c").cast("double") / 100.0).alias("grp_median"),
            _round_ieee(
                F.col("s_g").cast("double") / F.col("n_g").cast("double") / 100.0,
                6,
            ).alias("mean_absdev"),
            _round_ieee(F.expr(_ANOVA_F), 6).alias("levene_w"),
        )
        .orderBy("grp")
    )


#: NDCG@10 discounts 1/log2(i+1) as NANO-unit integers (1e9 grid) — the
#: whole gain computation is exact integer arithmetic; only the final
#: DCG/IDCG normalization is a (single) IEEE division.
_NDCG_K = 10
_NDCG_DISC = (
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
)
_NDCG_CUM = tuple(sum(_NDCG_DISC[: i + 1]) for i in range(_NDCG_K))
_SQL_DISC_CASE = "CASE rk " + " ".join(
    f"WHEN {i + 1} THEN {d}" for i, d in enumerate(_NDCG_DISC)
) + " END"
_SQL_IDCG_CASE = "CASE least(n_rel, 10) WHEN 0 THEN 0 " + " ".join(
    f"WHEN {i + 1} THEN {c}" for i, c in enumerate(_NDCG_CUM)
) + " END"


@query(
    "ml_ndcg_at_k",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel
      FROM documents
    ), ranked AS (
      SELECT source, rel,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored
    ), pergrp AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(rel) AS BIGINT) AS n_rel,
             CAST(sum(CASE WHEN rk <= {_NDCG_K}
                      THEN rel * ({_SQL_DISC_CASE}) ELSE 0 END) AS BIGINT)
               AS dcg_nanos
      FROM ranked GROUP BY source
    )
    SELECT source, n_docs, n_rel,
           {_sql_round_ieee(
               "CASE WHEN n_rel = 0 THEN 0.0"
               f" ELSE CAST(dcg_nanos AS DOUBLE)"
               f" / CAST(({_SQL_IDCG_CASE}) AS DOUBLE) END", 6)} AS ndcg
    FROM pergrp
    ORDER BY ndcg DESC, source LIMIT 20
    """,
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per source: rank each source's documents by score
    (n_chars) and judge the top 10 against the binary relevance truth
    (lang = 'en'), normalized by the ideal ordering — the retrieval-
    quality metric every search/RAG eval reports, here per corpus slice.

    Exactness: the log2 discounts are NANO-unit integer LITERALS
    (1/log2(i+1) pre-rounded onto the 1e-9 grid), so DCG is an exact
    integer sum and IDCG an exact prefix LITERAL selected by
    min(n_rel, 10) — no runtime transcendental, no float aggregation;
    the one IEEE division per source is identical across engines.

    Scale shape: rank-within-group is a PARTITIONED window whose
    rk ≤ 10 filter Spark rewrites into WindowGroupLimit (partial
    per-partition top-10 BEFORE the exchange — the distributed
    two-phase top-k, free from the optimizer); everything after is
    source-catalog-bounded."""
    scored = spark.table("documents").select(
        "doc_id",
        "source",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("rel"),
    )
    wr = W.partitionBy("source").orderBy(F.desc("score"), "doc_id")
    # rk <= K as a FILTER directly above the window: this exact shape is
    # what Spark rewrites into WindowGroupLimit (per-partition top-K
    # BEFORE the exchange); totals come from a window-free aggregate.
    top = (
        scored.select("source", "rel", F.row_number().over(wr).alias("rk"))
        .filter(F.col("rk") <= _NDCG_K)
    )
    disc = F.expr(_SQL_DISC_CASE)
    dcg = top.groupBy("source").agg(
        F.sum(F.col("rel") * disc).cast("long").alias("dcg_nanos")
    )
    pergrp = (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("rel").cast("long").alias("n_rel"),
        )
        .join(dcg, "source")
    )
    ndcg = F.when(F.col("n_rel") == 0, F.lit(0.0)).otherwise(
        F.col("dcg_nanos").cast("double")
        / F.expr(_SQL_IDCG_CASE).cast("double")
    )
    return (
        pergrp.select(
            "source", "n_docs", "n_rel", _round_ieee(ndcg, 6).alias("ndcg")
        )
        .orderBy(F.desc("ndcg"), "source")
        .limit(20)
    )


#: Friedman χ² (tie-corrected) from half-unit rank carriers — all exact
#: integers: χ² = (k−1)·Σ_j(2R_j − n(k+1))² / (Σ_ij(2r)² − n·k·(k+1)²).
_FRIEDMAN_GROUPS = ("click", "error", "purchase", "signup", "view")
_FRIEDMAN_NUM = " + ".join(
    f"(CAST(r2_{g} AS DOUBLE) - CAST(n AS DOUBLE) * {len(_FRIEDMAN_GROUPS) + 1}.0)"
    f" * (CAST(r2_{g} AS DOUBLE) - CAST(n AS DOUBLE) * {len(_FRIEDMAN_GROUPS) + 1}.0)"
    for g in _FRIEDMAN_GROUPS
)
_FRIEDMAN_CHI2 = (
    f"({float(len(_FRIEDMAN_GROUPS) - 1)} * ({_FRIEDMAN_NUM})"
    f" / (CAST(q4 AS DOUBLE)"
    f"    - CAST(n AS DOUBLE) * {len(_FRIEDMAN_GROUPS)}.0"
    f"      * {float((len(_FRIEDMAN_GROUPS) + 1) ** 2)}))"
)


@query(
    "stats_friedman",
    oracle=f"""
    WITH cell AS (
      -- complete-case on observation and treatment label (r10 nulls
      -- corpus): an all-null cell would rank a NULL revenue and the
      -- engines place NULLs at opposite window ends; an untyped event
      -- belongs to no treatment.
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type AS grp,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), ranked AS (
      SELECT day, grp,
             CAST(2 * (rank() OVER (PARTITION BY day ORDER BY cents) - 1)
                  + count(*) OVER (PARTITION BY day, cents) + 1 AS BIGINT)
               AS r2
      FROM cell
    ), bygrp AS (
      SELECT grp, CAST(sum(r2) AS BIGINT) AS r2_sum FROM ranked GROUP BY grp
    ), one AS (
      SELECT (SELECT CAST(count(DISTINCT day) AS BIGINT) FROM cell) AS n,
             (SELECT CAST(sum(r2 * r2) AS BIGINT) FROM ranked) AS q4,
             {", ".join(
                 f"sum(r2_sum) FILTER (WHERE grp = '{g}') AS r2_{g}"
                 for g in _FRIEDMAN_GROUPS
             )}
      FROM bygrp
    )
    SELECT grp,
           CAST(r2_sum AS DOUBLE) / 2.0 AS rank_sum,
           {_sql_round_ieee(_FRIEDMAN_CHI2, 6)} AS chi2
    FROM bygrp CROSS JOIN one ORDER BY grp
    """,
)
def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the five event types keep the same revenue
    ORDERING across days? Ranks each day's per-type revenue within that
    day (blocks = days — so day-to-day level shifts cancel, unlike
    Kruskal-Wallis), midrank ties, tie-corrected χ².

    Scale shape: facts collapse to the (day, type) grid in one
    map-side-combined rollup; ranking happens INSIDE each day's
    ≤k-row partition (a partitioned window over a catalog-bounded
    relation), and every carrier — half-unit rank sums, Σ(2r)² — is an
    exact integer pivoted into named columns so the χ² is one
    fixed-shape IEEE expression (the Kruskal-Wallis discipline)."""
    cell = (
        spark.table("events")
        # complete-case; see oracle
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.col("event_type").alias("grp"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wr = W.partitionBy("day").orderBy("cents")
    wt = W.partitionBy("day", "cents")
    ranked = cell.select(
        "day",
        "grp",
        (2 * (F.rank().over(wr) - 1) + F.count("*").over(wt) + 1)
        .cast("long")
        .alias("r2"),
    )
    bygrp = ranked.groupBy("grp").agg(F.sum("r2").cast("long").alias("r2_sum"))
    nn = cell.agg(F.countDistinct("day").cast("long").alias("n"))
    q4 = ranked.agg(F.sum(F.col("r2") * F.col("r2")).cast("long").alias("q4"))
    one = (
        bygrp.agg(
            *[
                F.sum(F.when(F.col("grp") == g, F.col("r2_sum"))).alias(f"r2_{g}")
                for g in _FRIEDMAN_GROUPS
            ]
        )
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(q4))
    )
    return (
        bygrp.crossJoin(F.broadcast(one))
        .select(
            "grp",
            (F.col("r2_sum").cast("double") / 2.0).alias("rank_sum"),
            _round_ieee(F.expr(_FRIEDMAN_CHI2), 6).alias("chi2"),
        )
        .orderBy("grp")
    )


#: Benford first-digit expectations log10(1 + 1/d), pre-rounded onto the
#: 1e-9 grid as literals — no runtime log10 anywhere.
_BENFORD_P = (
    0.301029996, 0.176091259, 0.124938737, 0.096910013, 0.079181246,
    0.066946790, 0.057991947, 0.051152522, 0.045757491,
)
_SQL_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {i + 1} THEN CAST({p!r} AS DOUBLE)" for i, p in enumerate(_BENFORD_P)
) + " END"


@query(
    "dq_benford_law",
    oracle=f"""
    WITH v AS (
      SELECT CAST(substr(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                         AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM events WHERE value >= 0.01
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM v GROUP BY digit
    ), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
    SELECT digit, n_obs,
           {{op}} AS p_observed,
           ({_SQL_BENFORD_CASE}) AS p_benford,
           {{chi}} AS chi2_term
    FROM obs CROSS JOIN tot
    ORDER BY digit
    """.format(
        op=_sql_round_ieee(
            "CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)", 6
        ),
        chi=_sql_round_ieee(
            f"(CAST(n_obs AS DOUBLE)"
            f"  - CAST(n AS DOUBLE) * ({_SQL_BENFORD_CASE}))"
            f" * (CAST(n_obs AS DOUBLE)"
            f"    - CAST(n AS DOUBLE) * ({_SQL_BENFORD_CASE}))"
            f" / (CAST(n AS DOUBLE) * ({_SQL_BENFORD_CASE}))", 6
        ),
    ),
)
def dq_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over event values — the fraud /
    synthetic-data detector: natural multiplicative data follows
    P(d) = log10(1+1/d); per-digit χ² terms localize WHICH digits
    deviate (the uniform synthetic fixture deviates loudly — that is
    the point of an audit that reports, not asserts).

    Scale shape: one map-only first-digit extraction on the exact cents
    grid (string head of an integer — no float log10 at runtime; the
    Benford expectations are pre-rounded LITERALS), one 9-cell rollup.
    All comparisons are fixed-shape IEEE expressions of exact counts."""
    v = (
        spark.table("events")
        .filter(F.col("value") >= 0.01)
        .select(
            F.substring(
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    obs = v.groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    pb = F.expr(_SQL_BENFORD_CASE)
    dev = F.col("n_obs").cast("double") - F.col("n").cast("double") * pb
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            _round_ieee(
                F.col("n_obs").cast("double") / F.col("n").cast("double"), 6
            ).alias("p_observed"),
            pb.alias("p_benford"),
            _round_ieee(
                dev * dev / (F.col("n").cast("double") * pb), 6
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_PGRAM_PERIODS = (3, 7, 14, 30)
_TWO_PI = 6.283185307179586


@query(
    "ts_fourier_periodogram",
    oracle=f"""
    WITH daily AS ({_sql_daily_purchase_cents()}
    ), d0 AS (SELECT min(day) AS day0 FROM daily),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS s1
      FROM daily
    ), pts AS (
      SELECT datediff('day', day0, day) AS t,
             CAST(cents AS DOUBLE)
               - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS d
      FROM daily CROSS JOIN d0 CROSS JOIN mom
    ), per AS (
      SELECT unnest(ARRAY{list(_PGRAM_PERIODS)}) AS period
    ), terms AS (
      SELECT period,
             CAST({_sql_round_ieee(
                 f"d * cos({_TWO_PI!r} * CAST(t AS DOUBLE)"
                 f"         / CAST(period AS DOUBLE))", 6)}
               AS DECIMAL(38,6)) AS tc,
             CAST({_sql_round_ieee(
                 f"d * sin({_TWO_PI!r} * CAST(t AS DOUBLE)"
                 f"         / CAST(period AS DOUBLE))", 6)}
               AS DECIMAL(38,6)) AS ts_
      FROM pts CROSS JOIN per
    )
    SELECT period,
           {_sql_round_ieee(
               "(CAST(sum(tc) AS DOUBLE) * CAST(sum(tc) AS DOUBLE)"
               " + CAST(sum(ts_) AS DOUBLE) * CAST(sum(ts_) AS DOUBLE))"
               " / CAST((SELECT n FROM mom) AS DOUBLE)", 4)} AS power
    FROM terms GROUP BY period ORDER BY period
    """,
)
def ts_fourier_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the mean-removed daily purchase-revenue series at
    candidate periods (3/7/14/30 days): power(P) = (Σd·cos + Σd·sin
    quadrature) / n — the spectral seasonality detector that says WHICH
    cycle a series carries before ts_seasonal_decompose assumes one.

    Scale shape: base relation A; the period grid is a 4-literal
    broadcast, so the trig stage touches days×4 rows.
    Mean removal uses exact integer moments; each projection term lands
    on the 1e-6 grid and sums in DECIMAL (float-order-free — same
    contract as the MI/AP term sums; cos/sin last-ulp divergence
    between engines is absorbed by the grid exactly like ln/exp
    elsewhere)."""
    daily = _daily_purchase_cents(spark)
    d0 = daily.agg(F.min("day").alias("day0"))
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
    )
    pts = (
        daily.crossJoin(F.broadcast(d0))
        .crossJoin(F.broadcast(mom))
        .select(
            F.datediff("day", "day0").alias("t"),
            (
                F.col("cents").cast("double")
                - F.col("s1").cast("double") / F.col("n").cast("double")
            ).alias("d"),
            "n",
        )
    )
    per = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _PGRAM_PERIODS])).alias("period")
    )
    ang = F.lit(_TWO_PI) * F.col("t").cast("double") / F.col("period").cast("double")
    terms = pts.crossJoin(F.broadcast(per)).select(
        "period",
        "n",
        _round_ieee(F.col("d") * F.cos(ang), 6).cast("decimal(38,6)").alias("tc"),
        _round_ieee(F.col("d") * F.sin(ang), 6).cast("decimal(38,6)").alias("ts_"),
    )
    return (
        terms.groupBy("period", "n")
        .agg(F.sum("tc").alias("sc"), F.sum("ts_").alias("ss"))
        .select(
            "period",
            _round_ieee(
                (
                    F.col("sc").cast("double") * F.col("sc").cast("double")
                    + F.col("ss").cast("double") * F.col("ss").cast("double")
                )
                / F.col("n").cast("double"),
                4,
            ).alias("power"),
        )
        .orderBy("period")
    )


# Wilcoxon signed-rank z from exact half-unit carriers: 2W⁺ is an exact
# integer; E[2W⁺] = n(n+1)/2, Var[2W⁺] = n(n+1)(2n+1)/6 − Σ(t³−t)/12.
_WSR_Z = (
    "((CAST(two_w AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0)"
    " / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)"
    "        * (2.0 * CAST(n AS DOUBLE) + 1.0) / 6.0"
    "        - CAST(tie AS DOUBLE) / 12.0))"
)


@query(
    "stats_wilcoxon_signed_rank",
    oracle=f"""
    WITH halves AS (
      SELECT user_id,
             CAST(sum(CASE WHEN date_part('day', ts) <= 15
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS h1,
             CAST(sum(CASE WHEN date_part('day', ts) > 15
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS h2
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), d AS (
      SELECT h2 - h1 AS dv FROM halves WHERE h2 <> h1
    ), dom AS (
      SELECT abs(dv) AS a,
             CAST(count(*) AS BIGINT) AS t,
             CAST(count(*) FILTER (WHERE dv > 0) AS BIGINT) AS tp
      FROM d GROUP BY 1
    ), cum AS (
      SELECT a, t, tp,
             sum(t) OVER (ORDER BY a
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS upto
      FROM dom
    ), mom AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             sum(CAST(tp AS DECIMAL(38,0))
                 * (2 * (upto - t) + t + 1)) AS two_w,
             sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie
      FROM cum
    )
    SELECT n,
           CAST(two_w AS DOUBLE) / 2.0 AS w_plus,
           {_sql_round_ieee(_WSR_Z, 6)} AS z_score
    FROM mom
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: did per-user purchase spend SHIFT
    between the first and second half of the month? The PAIRED member
    of the rank-test family (two-sample = Mann-Whitney, k-sample =
    Kruskal-Wallis, repeated-measures = Friedman, paired = here), with
    midrank ties on |d| and zero-differences dropped per the standard
    procedure.

    Scale shape: one per-user rollup produces the paired differences
    (exact cents); |d| ranks live on the COMPRESSED |d| domain with a
    distributed prefix — the per-cell positive count tp rides the same
    domain row, so 2W⁺ is one exact DECIMAL moment and z one
    fixed-shape IEEE expression."""
    from .prefix import attach_prefix_sums

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    halves = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0))
            .cast("long")
            .alias("h1"),
            F.sum(F.when(F.dayofmonth("ts") > 15, cents).otherwise(0))
            .cast("long")
            .alias("h2"),
        )
    )
    d = halves.filter(F.col("h2") != F.col("h1")).select(
        (F.col("h2") - F.col("h1")).alias("dv")
    )
    dom = d.groupBy(F.abs(F.col("dv")).alias("a")).agg(
        F.count("*").cast("long").alias("t"),
        F.count(F.when(F.col("dv") > 0, 1)).cast("long").alias("tp"),
    )
    cum = attach_prefix_sums(dom, ["a"], ["t"])
    mom = cum.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(
            F.col("tp").cast("decimal(38,0)")
            * (2 * (F.col("t_upto") - F.col("t")) + F.col("t") + 1)
        ).alias("two_w"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie"),
    )
    return mom.select(
        "n",
        (F.col("two_w").cast("double") / 2.0).alias("w_plus"),
        _round_ieee(F.expr(_WSR_Z), 6).alias("z_score"),
    )


#: nullif guards: n = 0 (every day equals the median) or n1·n0 = 0
#: (one-sided series) make z undefined — NULL on both engines, never an
#: ANSI abort (adversarial-fixture find, r9).
_RUNS_Z = (
    "((CAST(r AS DOUBLE)"
    "  - (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)"
    "     / nullif(CAST(n AS DOUBLE), 0.0) + 1.0))"
    " / nullif(sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)"
    "        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)"
    "           - CAST(n AS DOUBLE))"
    "        / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    "           * (CAST(n AS DOUBLE) - 1.0), 0.0)), 0.0))"
)


@query(
    "stats_runs_test",
    oracle=f"""
    WITH daily AS (
      -- value IS NOT NULL (r10 nulls corpus): an all-null day would
      -- carry a NULL revenue into the median/sign windows, where the
      -- engines' null sort orders differ.
      {_sql_daily_purchase_cents("value IS NOT NULL")}
    ), med AS (
      SELECT min(cents) AS m FROM (
        SELECT cents,
               sum(1) OVER (ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               (SELECT count(*) FROM daily) AS n
        FROM daily
      ) WHERE c >= (n + 1) // 2
    ), signed AS (
      SELECT day, CASE WHEN cents > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
      FROM daily WHERE cents <> (SELECT m FROM med)
    ), ranked AS (
      SELECT s, row_number() OVER (ORDER BY day) AS rk FROM signed
    ), trans AS (
      SELECT CAST(count(*) FILTER (WHERE a.s <> b.s) AS BIGINT) AS flips
      FROM ranked a JOIN ranked b ON b.rk = a.rk + 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS n1,
             CAST(count(*) - sum(s) AS BIGINT) AS n0,
             (SELECT flips FROM trans) + 1 AS r
      FROM signed
    )
    SELECT n, n1, n0, CAST(r AS BIGINT) AS n_runs,
           {_sql_round_ieee(_RUNS_Z, 6)} AS z_score
    FROM mom
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test: is the daily revenue series RANDOM
    around its median, or does it trend/oscillate? (Too few runs →
    trending; too many → oscillating.) Median-days drop per the
    standard procedure; z from the exact run count.

    Scale shape: base relation A, complete-case; the median, the sign
    sequence, and the run count all live on the day domain. Sequence
    order comes from a PREFIX-derived rank and the adjacent-transition
    count is a rank+1 EQUI-join (the sorted-neighborhood trick) — no
    unpartitioned lag window even on the small domain, keeping the
    plan-audit invariant registry-wide."""
    from .prefix import attach_prefix_sums

    daily = (
        # value IS NOT NULL: see oracle note
        _daily_purchase_cents(spark, F.col("value").isNotNull())
        # the value-domain build, the n_days count and the signs pass (r15)
        .transform(pin, "fanout")
    )
    vdom = daily.groupBy("cents").agg(F.count("*").cast("long").alias("t"))
    vcum = attach_prefix_sums(vdom, ["cents"], ["t"])
    nn = daily.agg(F.count("*").alias("nd"))
    med = (
        vcum.crossJoin(F.broadcast(nn))
        .filter(F.col("t_upto") >= F.expr("(nd + 1) div 2"))
        .agg(F.min("cents").alias("m"))
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("m"))
        .select(
            "day", F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("s")
        )
    )
    ddom = signed.groupBy("day").agg(
        F.count("*").cast("long").alias("t"), F.max("s").alias("s")
    )
    ranked = attach_prefix_sums(ddom, ["day"], ["t"]).select(
        "s", F.col("t_upto").alias("rk")
    # ranked and its shifted twin meet in the flips join (r15)
    ).transform(pin, "fanout")
    nxt = ranked.select((F.col("rk") - 1).alias("rk"), F.col("s").alias("s2"))
    trans = (
        ranked.join(nxt, "rk")
        .agg(
            F.count(F.when(F.col("s") != F.col("s2"), 1))
            .cast("long")
            .alias("flips")
        )
    )
    mom = (
        signed.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("s").cast("long").alias("n1"),
            (F.count("*") - F.sum("s")).cast("long").alias("n0"),
        )
        .crossJoin(F.broadcast(trans))
        .withColumn("r", F.col("flips") + 1)
    )
    return mom.select(
        "n", "n1", "n0",
        F.col("r").cast("long").alias("n_runs"),
        _round_ieee(F.expr(_RUNS_Z), 6).alias("z_score"),
    )


# Grubbs G from exact carriers: μ = s1/n, s² = (s2 − s1²/n)/(n−1),
# G = max(mx − μ, μ − mn)/s — all one fixed IEEE expression.
_GRUBBS_MU = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_GRUBBS_SD = (
    "sqrt((CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (CAST(n AS DOUBLE) - 1.0))"
)
_GRUBBS_G = (
    f"(greatest(CAST(mx AS DOUBLE) - {_GRUBBS_MU},"
    f" {_GRUBBS_MU} - CAST(mn AS DOUBLE)) / {_GRUBBS_SD})"
)


@query(
    "stats_grubbs_outlier",
    oracle=f"""
    WITH v AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
      WHERE event_type = 'purchase'
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(c AS DECIMAL(38,0))) AS s1,
             sum(CAST(c AS DECIMAL(38,0)) * c) AS s2,
             CAST(max(c) AS BIGINT) AS mx, CAST(min(c) AS BIGINT) AS mn
      FROM v
    )
    SELECT n,
           CAST(mx AS DOUBLE) / 100.0 AS max_value,
           CAST(mn AS DOUBLE) / 100.0 AS min_value,
           {_sql_round_ieee(_GRUBBS_G, 6)} AS g_stat,
           (CAST(mx AS DOUBLE) - {_GRUBBS_MU}
            >= {_GRUBBS_MU} - CAST(mn AS DOUBLE)) AS suspect_is_max
    FROM mom
    """,
)
def stats_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistic for a single extreme outlier:
    G = max(|x − x̄|)/s — the classical single-outlier screen
    complementing the robust tiers (clean_outlier_iqr's fences,
    events_anomaly_mad's MAD z-scores) with the parametric extreme
    test. The farthest point from the mean is necessarily the max or
    the min, so G needs only (n, Σc, Σc², max, min) — ONE map-side-
    combined aggregate pass, exact integer carriers, one fixed IEEE
    expression."""
    v = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c")
        )
    )
    c38 = F.col("c").cast("decimal(38,0)")
    mom = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(c38).alias("s1"),
        F.sum(c38 * F.col("c")).alias("s2"),
        F.max("c").cast("long").alias("mx"),
        F.min("c").cast("long").alias("mn"),
    )
    return mom.select(
        "n",
        (F.col("mx").cast("double") / 100.0).alias("max_value"),
        (F.col("mn").cast("double") / 100.0).alias("min_value"),
        _round_ieee(F.expr(_GRUBBS_G), 6).alias("g_stat"),
        F.expr(
            f"CAST(mx AS DOUBLE) - {_GRUBBS_MU}"
            f" >= {_GRUBBS_MU} - CAST(mn AS DOUBLE)"
        ).alias("suspect_is_max"),
    )


# MCC from exact confusion integers: the products tp·tn etc. reach n²,
# so carriers widen to DOUBLE only inside the one fixed expression.
# nullif: an empty confusion row/column (e.g. a threshold that predicts
# one class only) zeroes a marginal and MCC is undefined — NULL on both
# engines, never an ANSI abort (adversarial-fixture find, r9).
_MCC = (
    "((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)"
    "  - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))"
    " / nullif(sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)"
    "        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 0.0))"
)


@query(
    "ml_matthews_corrcoef",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    conf AS (
      SELECT t.threshold,
             CAST(count(*) FILTER (WHERE score >= t.threshold AND y) AS BIGINT) AS tp,
             CAST(count(*) FILTER (WHERE score >= t.threshold AND NOT y) AS BIGINT) AS fp,
             CAST(count(*) FILTER (WHERE score < t.threshold AND y) AS BIGINT) AS fn,
             CAST(count(*) FILTER (WHERE score < t.threshold AND NOT y) AS BIGINT) AS tn
      FROM scored CROSS JOIN (
        SELECT unnest(ARRAY{list(_EVAL_THRESHOLDS)}) AS threshold) t
      GROUP BY t.threshold
    )
    SELECT threshold, tp, fp, fn, tn, {_sql_round_ieee(_MCC, 6)} AS mcc
    FROM conf ORDER BY threshold
    """,
)
def ml_matthews_corrcoef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient at the shared fixed thresholds —
    the single confusion-matrix number that stays honest under class
    imbalance (accuracy and even F1 can look good while MCC ≈ 0;
    completes the eval set next to ml_cohens_kappa's chance-corrected
    agreement). Same constant threshold fan-out, one confusion rollup,
    one fixed IEEE expression of exact integers."""
    scored = _scored(spark).crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(
                    F.array(*[F.lit(t) for t in _EVAL_THRESHOLDS])
                ).alias("threshold")
            )
        )
    )
    pos = F.col("score") >= F.col("threshold")
    conf = scored.groupBy("threshold").agg(
        F.count(F.when(pos & F.col("y"), 1)).cast("long").alias("tp"),
        F.count(F.when(pos & ~F.col("y"), 1)).cast("long").alias("fp"),
        F.count(F.when(~pos & F.col("y"), 1)).cast("long").alias("fn"),
        F.count(F.when(~pos & ~F.col("y"), 1)).cast("long").alias("tn"),
    )
    return conf.select(
        "threshold", "tp", "fp", "fn", "tn",
        _round_ieee(F.expr(_MCC), 6).alias("mcc"),
    ).orderBy("threshold")


#: XmR (individuals + moving range) chart constants: 3/d₂ with d₂ =
#: 1.128 for n=2 moving ranges.
_XMR_K = 2.6595744680851063  # 3 / 1.128, pinned as a literal

_XMR_CENTER = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)"
_XMR_MRBAR = "(CAST(mr AS DOUBLE) / CAST(nmr AS DOUBLE) / 100.0)"
_XMR_UCL = f"({_XMR_CENTER} + {_XMR_K!r} * {_XMR_MRBAR})"
_XMR_LCL = f"({_XMR_CENTER} - {_XMR_K!r} * {_XMR_MRBAR})"


@query(
    "ts_control_chart_xmr",
    oracle=f"""
    WITH daily AS ({_sql_daily_purchase_cents()}
    ), ranked AS (
      SELECT cents, row_number() OVER (ORDER BY day) AS rk FROM daily
    ), mrs AS (
      SELECT CAST(count(*) AS BIGINT) AS nmr,
             CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS mr
      FROM ranked a JOIN ranked b ON b.rk = a.rk + 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS s1
      FROM daily
    ), lim AS (SELECT * FROM mom CROSS JOIN mrs)
    SELECT n AS n_days,
           {{c}} AS center, {{m}} AS mr_bar, {{u}} AS ucl, {{l}} AS lcl,
           (SELECT CAST(count(*) AS BIGINT) FROM daily CROSS JOIN lim
            WHERE CAST(cents AS DOUBLE) / 100.0 > {_XMR_UCL}
               OR CAST(cents AS DOUBLE) / 100.0 < {_XMR_LCL})
             AS n_violations
    FROM lim
    """.format(
        c=_sql_round_ieee(_XMR_CENTER, 6),
        m=_sql_round_ieee(_XMR_MRBAR, 6),
        u=_sql_round_ieee(_XMR_UCL, 6),
        l=_sql_round_ieee(_XMR_LCL, 6),
    ),
)
def ts_control_chart_xmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving-range) control chart over daily
    revenue: center line, 3σ-equivalent limits from the mean moving
    range (2.66·MR̄ — Shewhart's d₂ constant pinned as a literal), and
    the count of out-of-control days — the SPC primitive behind every
    "did the pipeline's daily volume go out of control" monitor (the
    sequential cousin of ts_changepoint_cusum).

    Scale shape: base relation A; consecutive-day moving ranges
    via prefix-rank + rank+1 EQUI-join (no unpartitioned lag window —
    the runs-test discipline); exact integer carriers, fixed IEEE
    limit expressions shared verbatim between the limit columns and
    the violation predicate."""
    from .prefix import attach_prefix_sums

    # the moving-range chain, the moments agg and the violations pass
    # (r15: Σ task run 2.0-2.2 s lazy vs 1.0-1.6 s)
    daily = _daily_purchase_cents(spark).transform(pin, "fanout")
    ddom = daily.groupBy("day").agg(
        F.count("*").cast("long").alias("t"), F.max("cents").alias("cents")
    )
    ranked = attach_prefix_sums(ddom, ["day"], ["t"]).select(
        F.col("t_upto").alias("rk"), "cents"
    # ranked and its shifted twin meet in the moving-range join (r15)
    ).transform(pin, "fanout")
    nxt = ranked.select((F.col("rk") - 1).alias("rk"), F.col("cents").alias("c2"))
    mrs = ranked.join(nxt, "rk").agg(
        F.count("*").cast("long").alias("nmr"),
        F.sum(F.abs(F.col("cents") - F.col("c2"))).cast("long").alias("mr"),
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
    )
    lim = mom.crossJoin(F.broadcast(mrs))
    viol = (
        daily.crossJoin(F.broadcast(lim))
        .filter(
            (F.col("cents").cast("double") / 100.0 > F.expr(_XMR_UCL))
            | (F.col("cents").cast("double") / 100.0 < F.expr(_XMR_LCL))
        )
        .agg(F.count("*").cast("long").alias("n_violations"))
    )
    return lim.crossJoin(F.broadcast(viol)).select(
        F.col("n").alias("n_days"),
        _round_ieee(F.expr(_XMR_CENTER), 6).alias("center"),
        _round_ieee(F.expr(_XMR_MRBAR), 6).alias("mr_bar"),
        _round_ieee(F.expr(_XMR_UCL), 6).alias("ucl"),
        _round_ieee(F.expr(_XMR_LCL), 6).alias("lcl"),
        "n_violations",
    )


@query(
    "ts_peak_detection",
    oracle=f"""
    WITH daily AS ({_sql_daily_purchase_cents()}
    ), ranked AS (
      SELECT day, cents, row_number() OVER (ORDER BY day) AS rk FROM daily
    )
    SELECT m.day, CAST(m.cents AS DOUBLE) / 100.0 AS revenue,
           CAST(m.cents - p.cents AS BIGINT) AS rise_cents,
           CAST(m.cents - n.cents AS BIGINT) AS fall_cents
    FROM ranked m
    JOIN ranked p ON p.rk = m.rk - 1
    JOIN ranked n ON n.rk = m.rk + 1
    WHERE m.cents > p.cents AND m.cents > n.cents
    ORDER BY m.day
    """,
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local maxima of the daily revenue series (higher than both
    neighbors), with the rise/fall magnitudes — the peak-finding
    primitive under promotion-impact and burst analyses.

    Scale shape: base relation A; the ±1-neighbor comparisons are
    prefix-rank EQUI-joins (the runs-test/XmR discipline — no
    unpartitioned lag window), exact integer comparisons."""
    from .prefix import attach_prefix_sums

    daily = _daily_purchase_cents(spark)
    ddom = daily.groupBy("day").agg(
        F.count("*").cast("long").alias("t"), F.max("cents").alias("cents")
    )
    ranked = attach_prefix_sums(ddom, ["day"], ["t"]).select(
        "day", "cents", F.col("t_upto").alias("rk")
    ).transform(pin, "reuse")
    prev = ranked.select((F.col("rk") + 1).alias("rk"), F.col("cents").alias("pc"))
    nxt = ranked.select((F.col("rk") - 1).alias("rk"), F.col("cents").alias("nc"))
    return (
        ranked.join(prev, "rk")
        .join(nxt, "rk")
        .filter((F.col("cents") > F.col("pc")) & (F.col("cents") > F.col("nc")))
        .select(
            "day",
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            (F.col("cents") - F.col("pc")).cast("long").alias("rise_cents"),
            (F.col("cents") - F.col("nc")).cast("long").alias("fall_cents"),
        )
        .orderBy("day")
    )


@query(
    "ts_snaive_backtest",
    oracle=f"""
    WITH daily AS ({_sql_daily_purchase_cents()}
    ), joined AS (
      SELECT a.day, a.cents AS actual,
             f.cents AS forecast, abs(a.cents - f.cents) AS err
      FROM daily a JOIN daily f ON f.day = a.day - INTERVAL 7 DAY
    )
    SELECT CAST(count(*) AS BIGINT) AS n_backtest_days,
           (floor((CAST(sum(err) AS DOUBLE) / count(*) / 100.0)
                  * 1000000.0 + 0.5) / 1000000.0) AS mae,
           (floor((CAST(sum(err * 1000000 // actual)
                        AS DOUBLE) / count(*) / 1000000.0)
                  * 1000000.0 + 0.5) / 1000000.0) AS mape_like
    FROM joined
    """,
)
def ts_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest: forecast every day as the SAME WEEKDAY
    one week earlier and score MAE + a MAPE-like relative error — the
    baseline every fancier forecaster (ts_holt_linear_forecast) must
    beat before it earns its keep; forecast eval as a first-class op.

    Exactness: the per-day relative error uses integer micro-units
    (err·10⁶ // actual — exact BIGINT integral division on BOTH engines;
    the operands MUST stay integer-typed: DuckDB 1.0's // on a
    (DECIMAL, BIGINT) pair silently degrades to DOUBLE true division,
    which the sf0.001 cross-scale gate caught in r9. err·10⁶ tops out
    around 1e17 even at 1000× the bench scale — far inside int64), so
    both aggregates are order-free exact sums with one final IEEE
    division each. Scale shape: base relation A, self-joined on
    day−7."""
    daily = _daily_purchase_cents(spark).transform(pin, "reuse")
    fc = daily.select(F.date_add("day", 7).alias("day"), F.col("cents").alias("f"))
    joined = daily.join(fc, "day").select(
        F.col("cents").alias("actual"),
        F.abs(F.col("cents") - F.col("f")).alias("err"),
    )
    return joined.agg(
        F.count("*").cast("long").alias("n_backtest_days"),
        (
            F.floor(
                (F.sum("err").cast("double") / F.count("*") / 100.0) * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("mae"),
        (
            F.floor(
                (
                    F.sum(
                        F.expr("err * 1000000 div actual")
                    ).cast("double")
                    / F.count("*")
                    / 1000000.0
                )
                * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("mape_like"),
    )


_COHENS_D = (
    "((CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE)"
    "  - CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt((((CAST(s2a AS DOUBLE)"
    "           - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE)))"
    "         + ((CAST(s2b AS DOUBLE)"
    "             - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE))))"
    "        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)))"
)
_CLIFFS_DELTA = (
    "(CAST(two_u AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) - 1.0)"
)


@query(
    "stats_effect_sizes",
    oracle=f"""
    WITH g AS (
      -- complete-case (r10 nulls corpus; same rationale as the
      -- Mann-Whitney twin this shares its rank machinery with)
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
             (event_type = 'purchase') AS is_a
      FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ), dom AS (
      SELECT c,
             CAST(count(*) FILTER (WHERE is_a) AS BIGINT) AS c1,
             CAST(count(*) FILTER (WHERE NOT is_a) AS BIGINT) AS c2
      FROM g GROUP BY c
    ), cum AS (
      SELECT c, c1, c2, c1 + c2 AS t,
             sum(c1 + c2) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_upto
      FROM dom
    ), mom AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
             sum(CAST(c1 AS DECIMAL(38,0)) * c) AS s1a,
             sum(CAST(c2 AS DECIMAL(38,0)) * c) AS s1b,
             sum(CAST(c1 AS DECIMAL(38,0)) * c * c) AS s2a,
             sum(CAST(c2 AS DECIMAL(38,0)) * c * c) AS s2b,
             sum(CAST(c1 AS DECIMAL(38,0))
                 * (2 * (t_upto - t) + t + 1)) AS two_r1
      FROM cum
    ), fin AS (
      SELECT n1, n2, s1a, s1b, s2a, s2b,
             two_r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS two_u
      FROM mom
    )
    SELECT n1, n2, {{d}} AS cohens_d, {{cd}} AS cliffs_delta
    FROM fin
    """.format(
        d=_sql_round_ieee(_COHENS_D, 6), cd=_sql_round_ieee(_CLIFFS_DELTA, 6)
    ),
)
def stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for the purchase-vs-click comparison: Cohen's d
    (standardized mean difference, pooled SD) and Cliff's delta (the
    ordinal effect 2U/(n₁n₂) − 1, readable directly off the
    Mann-Whitney U) — the magnitude numbers that belong NEXT TO the
    p-value-shaped tests (stats_welch_ttest / stats_mann_whitney_u
    report significance; these report whether the difference matters).

    Scale shape: ONE compressed-domain pass yields every carrier —
    per-group cents moments for d AND the midrank sum for delta ride
    the same (value, c1, c2) grid rows; both statistics are fixed IEEE
    expressions of exact DECIMAL integers."""
    from .prefix import attach_prefix_sums

    g = (
        spark.table("events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()  # complete-case; see oracle
        )
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
            (F.col("event_type") == "purchase").alias("is_a"),
        )
    )
    dom = g.groupBy("c").agg(
        F.count(F.when(F.col("is_a"), 1)).cast("long").alias("c1"),
        F.count(F.when(~F.col("is_a"), 1)).cast("long").alias("c2"),
    )
    cum = attach_prefix_sums(
        dom.withColumn("t", F.col("c1") + F.col("c2")), ["c"], ["t"]
    )
    c1d = F.col("c1").cast("decimal(38,0)")
    c2d = F.col("c2").cast("decimal(38,0)")
    mom = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(c1d * F.col("c")).alias("s1a"),
        F.sum(c2d * F.col("c")).alias("s1b"),
        F.sum(c1d * F.col("c") * F.col("c")).alias("s2a"),
        F.sum(c2d * F.col("c") * F.col("c")).alias("s2b"),
        F.sum(
            c1d * (2 * (F.col("t_upto") - F.col("t")) + F.col("t") + 1)
        ).alias("two_r1"),
    )
    fin = mom.withColumn(
        "two_u",
        F.col("two_r1") - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1),
    )
    return fin.select(
        "n1",
        "n2",
        _round_ieee(F.expr(_COHENS_D), 6).alias("cohens_d"),
        _round_ieee(F.expr(_CLIFFS_DELTA), 6).alias("cliffs_delta"),
    )


@query(
    "ml_expected_calibration_error",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    mx AS (SELECT CAST(max(score) AS DOUBLE) AS smax FROM scored),
    binned AS (
      SELECT CAST(floor(least(CAST(score AS DOUBLE) / smax * 10.0, 9.0)) AS BIGINT)
               AS bin,
             CAST(score AS DOUBLE) / smax AS conf, y
      FROM scored CROSS JOIN mx
    ), bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
             CAST(count(*) FILTER (WHERE y) AS BIGINT) AS n_pos,
             sum(CAST({_sql_round_ieee("conf", 9)} AS DECIMAL(38,9)))
               AS conf_sum
      FROM binned GROUP BY bin
    ), tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n FROM bins),
    terms AS (
      SELECT CAST({_sql_round_ieee(
          "(CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))"
          " * abs(CAST(n_pos AS DOUBLE) / CAST(n_b AS DOUBLE)"
          "       - CAST(conf_sum AS DOUBLE) / CAST(n_b AS DOUBLE))", 9)}
             AS DECIMAL(38,9)) AS term
      FROM bins CROSS JOIN tot
    )
    SELECT (SELECT n FROM tot) AS n,
           CAST((SELECT count(*) FROM bins) AS BIGINT) AS n_bins,
           {_sql_round_ieee("CAST(sum(term) AS DOUBLE)", 6)} AS ece
    FROM terms
    HAVING count(*) > 0
    """,
)
def ml_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error: confidence = score normalized onto
    [0,1] by the corpus max, 10 equal-width bins, ECE =
    Σ (n_b/N)·|accuracy_b − mean-confidence_b| — the one-number summary
    of ml_calibration_bins' reliability table (an over/under-confident
    scorer shows up here even when AUC looks fine).

    Determinism: per-row confidences land on the 1e-9 grid before the
    per-bin DECIMAL sums (exact, order-free); the per-bin |acc − conf|
    terms ride the same grid-then-decimal contract as the MI/AP family;
    binning compares identical IEEE doubles on both engines. One fact
    pass + a 10-row reduction."""
    scored = _scored(spark)
    mx = scored.agg(F.max("score").cast("double").alias("smax"))
    conf = F.col("score").cast("double") / F.col("smax")
    binned = scored.crossJoin(F.broadcast(mx)).select(
        F.floor(F.least(conf * 10.0, F.lit(9.0))).cast("long").alias("bin"),
        conf.alias("conf"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_b"),
        F.count(F.when(F.col("y"), 1)).cast("long").alias("n_pos"),
        F.sum(_round_ieee(F.col("conf"), 9).cast("decimal(38,9)")).alias(
            "conf_sum"
        ),
    )
    tot = bins.agg(F.sum("n_b").cast("long").alias("n"))
    term = _round_ieee(
        (F.col("n_b").cast("double") / F.col("n").cast("double"))
        * F.abs(
            F.col("n_pos").cast("double") / F.col("n_b").cast("double")
            - F.col("conf_sum").cast("double") / F.col("n_b").cast("double")
        ),
        9,
    ).cast("decimal(38,9)")
    nb = bins.agg(F.count("*").cast("long").alias("n_bins"))
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(term.alias("term"), "n")
        .groupBy("n")
        .agg(_round_ieee(F.sum("term").cast("double"), 6).alias("ece"))
        .crossJoin(F.broadcast(nb))
        .select("n", "n_bins", "ece")
    )


@query(
    "ml_brier_score",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    mx AS (SELECT CAST(max(score) AS DOUBLE) AS smax FROM scored),
    terms AS (
      SELECT CAST({_sql_round_ieee(
          "(CAST(score AS DOUBLE) / smax"
          " - CASE WHEN y THEN 1.0 ELSE 0.0 END)"
          " * (CAST(score AS DOUBLE) / smax"
          "    - CASE WHEN y THEN 1.0 ELSE 0.0 END)", 9)}
             AS DECIMAL(38,9)) AS t,
             CASE WHEN y THEN 1 ELSE 0 END AS yi
      FROM scored CROSS JOIN mx
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(yi) AS BIGINT) AS np,
             sum(t) AS ts_
      FROM terms
    )
    SELECT n,
           {_sql_round_ieee(
               "CAST(ts_ AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS brier,
           {_sql_round_ieee(
               "(CAST(np AS DOUBLE) / CAST(n AS DOUBLE))"
               " * (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))", 6)}
             AS brier_climatology,
           {_sql_round_ieee(
               "1.0 - (CAST(ts_ AS DOUBLE) / CAST(n AS DOUBLE))"
               " / nullif((CAST(np AS DOUBLE) / CAST(n AS DOUBLE))"
               "    * (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)", 6)}
             AS brier_skill
    FROM mom
    """,
)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the max-normalized confidence against the truth,
    with the climatology reference ȳ(1−ȳ) and the skill score
    1 − BS/BS_ref — the PROPER scoring rule completing the probability-
    quality trio (ml_calibration_bins shows WHERE miscalibration lives,
    ml_expected_calibration_error sizes it, Brier also penalizes
    resolution loss; skill < 0 means the scorer is worse than always
    predicting the base rate).

    Scale shape: one map pass, per-row squared-error terms on the 1e-9
    grid summed in DECIMAL (order-free); base rate from exact integer
    counts; all three outputs are fixed IEEE expressions."""
    scored = _scored(spark)
    mx = scored.agg(F.max("score").cast("double").alias("smax"))
    conf = F.col("score").cast("double") / F.col("smax")
    yv = F.when(F.col("y"), F.lit(1.0)).otherwise(F.lit(0.0))
    terms = scored.crossJoin(F.broadcast(mx)).select(
        _round_ieee((conf - yv) * (conf - yv), 9)
        .cast("decimal(38,9)")
        .alias("t"),
        F.when(F.col("y"), 1).otherwise(0).alias("yi"),
    )
    mom = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yi").cast("long").alias("np"),
        F.sum("t").alias("ts_"),
    )
    base = F.col("np").cast("double") / F.col("n").cast("double")
    bs = F.col("ts_").cast("double") / F.col("n").cast("double")
    # try_divide: a single-class corpus has zero climatology variance —
    # the skill score is undefined (NULL both engines), never an ANSI
    # abort (r9 sparse-fixture find).
    return mom.select(
        "n",
        _round_ieee(bs, 6).alias("brier"),
        _round_ieee(base * (1.0 - base), 6).alias("brier_climatology"),
        _round_ieee(
            F.lit(1.0) - F.try_divide(bs, base * (1.0 - base)), 6
        ).alias("brier_skill"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b (rank-correlation family completion)
# ---------------------------------------------------------------------------

#: tau-b from exact pair counts: 2(C-D)/sqrt((n(n-1)-u1)(n(n-1)-u2)) — the
#: /2 in n0/n1/n2 cancels by doubling numerator and denominator, keeping
#: every intermediate an exact integer until this one shared IEEE
#: expression.
_KENDALL_TAU = (
    "(2.0 * (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)"
    "         - CAST(u1 AS DOUBLE))"
    "        * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)"
    "           - CAST(u2 AS DOUBLE))))"
)


@query(
    "stats_kendall_tau",
    oracle=f"""
    WITH f AS (
      SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice / 1000) AS BIGINT) AS y
      FROM lineitem
    ), cells AS (
      SELECT x, y, CAST(count(*) AS DECIMAL(19,0)) AS cn FROM f GROUP BY x, y
    ), cd AS (
      SELECT CAST(sum(CASE WHEN a.y < b.y THEN a.cn * b.cn END)
                  AS DECIMAL(38,0)) AS conc,
             CAST(sum(CASE WHEN a.y > b.y THEN a.cn * b.cn END)
                  AS DECIMAL(38,0)) AS disc
      FROM cells a JOIN cells b ON a.x < b.x
    ), mx AS (
      SELECT CAST(sum(t * (t - 1)) AS DECIMAL(38,0)) AS u1
      FROM (SELECT CAST(sum(cn) AS DECIMAL(19,0)) AS t FROM cells GROUP BY x)
    ), my AS (
      SELECT CAST(sum(t * (t - 1)) AS DECIMAL(38,0)) AS u2
      FROM (SELECT CAST(sum(cn) AS DECIMAL(19,0)) AS t FROM cells GROUP BY y)
    ), tot AS (SELECT CAST(sum(cn) AS DECIMAL(19,0)) AS n FROM cells)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(conc AS DOUBLE) AS conc, CAST(disc AS DOUBLE) AS disc,
           {_sql_round_ieee(_KENDALL_TAU, 6)} AS tau_b
    FROM cd, mx, my, tot
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between line-item quantity and extended price —
    the concordant/discordant-pair rank correlation completing the rank
    family (stats_spearman_rho's midrank Pearson measures monotone
    association by ranks; tau-b measures it by pair orderings, with the
    tie-correct denominator).

    Scale shape: the O(n²) pair count collapses onto the BOUNDED joint
    grid (50 quantity cells × ~110 coarse price cells): one fact-table
    groupBy compresses n rows to ≤5.5k cells, and the pair pass is a
    broadcast non-equi self-join of that grid — constant work at any
    corpus size. Tie terms u1/u2 come from the grid's marginals. Cell
    counts carry as DECIMAL(19,0) so pair products land exactly in
    DECIMAL(38,0) (headroom: C ≤ n² needs n < 10¹⁹); tau-b is ONE shared
    IEEE expression over the five exact integer moments. The conc/disc
    OUTPUT columns render as DOUBLE, not DECIMAL(38,0): rendered
    decimals are the cross-engine exposure class behind the r9 driver
    red row (SCALE.md "r10 red-row root cause") — the decimal→double
    cast is correctly rounded on both engines (bit-identical; exact
    below 2^53 pairs), while the internal moments feeding tau stay
    exact decimal."""
    f = spark.table("lineitem").select(
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("y"),
    )
    cells = (
        f.groupBy("x", "y")
        .agg(F.count("*").cast("decimal(19,0)").alias("cn"))
        .transform(pin, "reuse")  # grid relation, consumed by 4 passes below
    )
    # The pair pass is a broadcast NESTED-LOOP join: its cost is
    # |probe partition| × |grid| predicate evaluations per task, and the
    # pinned grid arrives AQE-coalesced to ~1 partition (it is tiny), so
    # without the repartition the whole ~15M-pair loop ran in ONE task
    # (r14; measured 4.0 s → 1.6 s at sf0.1). Round-robin over the
    # session's parallelism is scale-free here: the grid is BOUNDED
    # (≤ ~5.5k cells at any corpus size), so this only spreads a
    # constant-sized loop, never a data-sized shuffle.
    a = cells.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("cn").alias("na")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("cn").alias("nb")
    )
    cd = a.join(F.broadcast(b), F.col("xa") < F.col("xb")).agg(
        F.sum(F.when(F.col("ya") < F.col("yb"), F.col("na") * F.col("nb")))
        .cast("decimal(38,0)")
        .alias("conc"),
        F.sum(F.when(F.col("ya") > F.col("yb"), F.col("na") * F.col("nb")))
        .cast("decimal(38,0)")
        .alias("disc"),
    )
    u1 = (
        cells.groupBy("x")
        .agg(F.sum("cn").cast("decimal(19,0)").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).cast("decimal(38,0)").alias("u1"))
    )
    u2 = (
        cells.groupBy("y")
        .agg(F.sum("cn").cast("decimal(19,0)").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).cast("decimal(38,0)").alias("u2"))
    )
    tot = cells.agg(F.sum("cn").cast("decimal(19,0)").alias("n"))
    return (
        cd.crossJoin(F.broadcast(u1))
        .crossJoin(F.broadcast(u2))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("conc").cast("double").alias("conc"),
            F.col("disc").cast("double").alias("disc"),
            _round_ieee(F.expr(_KENDALL_TAU), 6).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (Theil-Sen's significance companion)
# ---------------------------------------------------------------------------

#: Continuity-corrected Z from the exact S statistic and tie-corrected
#: variance — one shared IEEE expression on both engines.
#: nullif: n <= 1 (or a fully-tied series) zeroes the Kendall variance
#: and z is undefined — NULL on both engines, never an ANSI abort (r9).
_MK_Z = (
    "(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)"
    "      WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)"
    "      ELSE 0.0 END"
    " / nullif(sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)"
    "         * (2.0 * CAST(n AS DOUBLE) + 5.0)"
    "         - CAST(u AS DOUBLE)) / 18.0), 0.0))"
)


@query(
    "ts_mann_kendall",
    oracle=f"""
    WITH daily AS (
      SELECT day, CAST(cents AS DECIMAL(18,0)) AS rev
      FROM ({_sql_daily_order_cents()})
    ), s AS (
      SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON a.day < b.day
    ), ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS u
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY rev)
      WHERE t > 1
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
    SELECT n, s_stat,
           {_sql_round_ieee(_MK_Z, 6)} AS z_stat
    FROM s, ties, tot
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily revenue series —
    S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected variance and
    continuity-corrected Z. The significance companion to
    ts_theil_sen_trend's slope: Theil-Sen says HOW steep, Mann-Kendall
    says whether the trend is distinguishable from noise at all.

    Scale shape: base relation C (integer cents — sign comparisons are
    integer-exact, no float ties); the O(days²) sign-pair pass is a
    broadcast non-equi self-join of the ~2.4k-row day domain (a 10-year
    corpus is ~6.6M pairs — constant in corpus size, linear in years).
    Tie groups come from one more domain-sized aggregate; Z is ONE
    shared IEEE expression over (n, S, u)."""
    daily = (
        _daily_order_cents(spark)
        .select("day", F.col("cents").cast("decimal(18,0)").alias("rev"))
        # both S-statistic pair-join sides, the tie groups and the count
        # (r15: wall 0.68-0.83 s lazy vs 0.57-0.62 s)
        .transform(pin, "fanout")
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("rev").alias("rev_a"))
    b = daily.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    s = a.join(F.broadcast(b), F.col("day_a") < F.col("day_b")).agg(
        F.sum(
            F.when(F.col("rev_b") > F.col("rev_a"), 1)
            .when(F.col("rev_b") < F.col("rev_a"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("rev")
        .agg(F.count("*").cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("u")
        )
    )
    tot = daily.agg(F.count("*").cast("long").alias("n"))
    return (
        s.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(tot))
        .select("n", "s_stat", _round_ieee(F.expr(_MK_Z), 6).alias("z_stat"))
    )


# ---------------------------------------------------------------------------
# autocorrelation function (ACF) of the daily revenue series
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 7, 14)

#: r_k with the FIXED full-series mean/variance (the statistical ACF, not
#: per-lag Pearson — ts_cross_correlation already covers that shape):
#: r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)², expanded so every moment is an
#: exact integer and only this one shared expression runs in IEEE:
#: num·n² = n²·P_k − n·S·(H_k+T_k) + (n−k)·S², den·n² = n²·Q − n·S².
_ACF_R = (
    "((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(pk AS DOUBLE)"
    "  - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)"
    "    * (CAST(hk AS DOUBLE) + CAST(tk AS DOUBLE))"
    "  + (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE))"
    "    * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(q AS DOUBLE)"
    "    - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE)))"
)


@query(
    "ts_acf",
    oracle=f"""
    WITH {_sql_order_lag_moments(_ACF_LAGS)}
    SELECT CAST(lag AS BIGINT) AS lag, n_terms,
           {_sql_round_ieee(_ACF_R, 6)} AS acf
    FROM lagged, gmom ORDER BY lag
    """,
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelogram of daily revenue at lags {1,2,3,7,14} — the
    canonical seasonality/persistence diagnostic (the weekly lag-7 spike
    is what ts_seasonal_decompose assumes; this measures it). Uses the
    statistical ACF normalization — FIXED full-series mean and variance —
    which ts_cross_correlation's per-lag Pearson deliberately does not.

    Scale shape: base relation C and its lag-moments stage; the lag
    self-join runs on the (days × lags)-sized relation. The
    mean-centered form is expanded so P_k, H_k, T_k, S, Q are exact
    DECIMAL(38,0) moments (headroom: n·X² at 100 TB daily cents ~2.5e15
    → n²·P ~1e41 would overflow, so the n² scaling happens in the final
    shared IEEE expression, never in decimal); r_k is that ONE
    expression on both engines."""
    # day domain, consumed by glob + both join sides
    daily = _daily_order_cents(spark).transform(pin, "reuse")
    glob, lagged = _order_lag_moments(daily, _ACF_LAGS)
    return (
        lagged.crossJoin(F.broadcast(glob))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_terms",
            _round_ieee(F.expr(_ACF_R), 6).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# mean reciprocal rank (retrieval-eval family, pairs ml_ndcg_at_k)
# ---------------------------------------------------------------------------


@query(
    "ml_mrr",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel
      FROM documents
    ), ranked AS (
      SELECT source, rel,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored
    ), firsts AS (
      SELECT source, CAST(min(rk) AS BIGINT) AS first_rel_rank
      FROM ranked WHERE rel = 1 GROUP BY source
    ), pergrp AS (
      SELECT s.source, f.first_rel_rank,
             CAST({_sql_round_ieee(
                 "CASE WHEN f.first_rel_rank IS NULL THEN 0.0"
                 " ELSE 1.0 / CAST(f.first_rel_rank AS DOUBLE) END", 9)}
                  AS DECIMAL(38,9)) AS rr
      FROM (SELECT DISTINCT source FROM scored) s
        LEFT JOIN firsts f USING (source)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(first_rel_rank) AS BIGINT) AS n_with_hit,
           {_sql_round_ieee(
               "CAST(sum(rr) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS mrr
    FROM pergrp
    """,
)
def ml_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank over per-source rankings: each source is a
    "query", its documents ranked by score (n_chars, ties by doc_id),
    relevance = lang='en'; RR = 1/rank of the first relevant document
    (0 when a source has none). The first-hit metric every search / RAG
    eval reports next to NDCG (ml_ndcg_at_k grades the whole top-k;
    MRR grades time-to-first-answer).

    Determinism: each source's single RR division is one IEEE op,
    rounded onto the 1e-9 grid and summed in DECIMAL (order-free, the
    per-term-rounding discipline); the final mean is one more shared
    IEEE division. Scale shape: rank-within-source is a PARTITIONED
    window; min(rk) over relevant rows is a source-bounded aggregate;
    the left join keeps no-hit sources honest (MRR over only-hit
    queries silently inflates)."""
    scored = spark.table("documents").select(
        "doc_id",
        "source",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("rel"),
    )
    wr = W.partitionBy("source").orderBy(F.desc("score"), "doc_id")
    ranked = scored.select("source", "rel", F.row_number().over(wr).alias("rk"))
    firsts = (
        ranked.where(F.col("rel") == 1)
        .groupBy("source")
        .agg(F.min("rk").cast("long").alias("first_rel_rank"))
    )
    pergrp = (
        scored.select("source")
        .distinct()
        .join(firsts, "source", "left")
        .select(
            "first_rel_rank",
            _round_ieee(
                F.when(F.col("first_rel_rank").isNull(), F.lit(0.0)).otherwise(
                    F.lit(1.0) / F.col("first_rel_rank").cast("double")
                ),
                9,
            )
            .cast("decimal(38,9)")
            .alias("rr"),
        )
    )
    return pergrp.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.count("first_rel_rank").cast("long").alias("n_with_hit"),
        _round_ieee(
            F.sum("rr").cast("double") / F.count("*").cast("double"), 6
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# best-F1 threshold sweep (decision-threshold tuning)
# ---------------------------------------------------------------------------

_F1_EXPR = _sql_round_ieee(
    "2.0 * CAST(tp AS DOUBLE)"
    " / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE))",
    6,
)


@query(
    "ml_best_f1_threshold",
    oracle=f"""
    WITH scored AS ({_SQL_SCORED}),
    dom AS (
      SELECT score, CAST(count(*) AS BIGINT) AS nt,
             CAST(count(*) FILTER (WHERE y) AS BIGINT) AS np
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT score, nt, np,
             CAST(sum(nt) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS nt_upto,
             CAST(sum(np) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS np_upto
      FROM dom
    ),
    tot AS (
      SELECT CAST(sum(nt) AS BIGINT) AS t, CAST(sum(np) AS BIGINT) AS p
      FROM dom
    ),
    conf AS (
      SELECT score AS threshold,
             p - np_upto + np AS tp,
             (t - nt_upto + nt) - (p - np_upto + np) AS fp,
             p - (p - np_upto + np) AS fn
      FROM cum CROSS JOIN tot
    )
    SELECT threshold, tp, fp, fn,
           {_sql_round_ieee(
               "CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))",
               6)} AS precision_,
           {_sql_round_ieee(
               "CAST(tp AS DOUBLE)"
               " / nullif(CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE), 0.0)",
               6)} AS recall_,
           {_F1_EXPR} AS f1
    FROM conf
    ORDER BY f1 DESC, threshold LIMIT 1
    """,
)
def ml_best_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold tuning: sweep every distinct score as the
    "predict positive when score ≥ t" cut, compute the exact confusion
    counts per cut from cumulative sums over the score domain, and
    return the F1-maximizing threshold (ties broken to the lowest
    threshold) — what a pipeline runs after ml_roc_auc says the ranking
    is good to pick the operating point.

    Scale shape: the sweep never touches facts per threshold — ONE
    groupBy compresses n rows onto the score domain, cumulative
    counts come from the DISTRIBUTED prefix-sum helper (every
    threshold's TP/FP/FN is suffix arithmetic on two prefix columns +
    two grand totals), and the argmax is a domain-sized top-1. All
    counts exact integers; the three ratios are fixed IEEE expressions,
    so the DESC order both engines sort by is bitwise identical."""
    from .prefix import attach_prefix_sums

    dom = _scored(spark).groupBy("score").agg(
        F.count("*").cast("long").alias("nt"),
        F.count(F.when(F.col("y"), 1)).cast("long").alias("np"),
    )
    cum = attach_prefix_sums(dom, ["score"], ["nt", "np"])
    tot = dom.agg(
        F.sum("nt").cast("long").alias("t"), F.sum("np").cast("long").alias("p")
    )
    tp = F.col("p") - F.col("np_upto") + F.col("np")
    fp = (F.col("t") - F.col("nt_upto") + F.col("nt")) - tp
    fn = F.col("p") - tp
    conf = cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
    )
    return (
        conf.select(
            "threshold",
            "tp",
            "fp",
            "fn",
            _round_ieee(
                F.col("tp").cast("double")
                / (F.col("tp").cast("double") + F.col("fp").cast("double")),
                6,
            ).alias("precision_"),
            # try_divide: tp+fn = P = 0 (no positives in the corpus)
            # makes recall undefined — NULL both engines (r9)
            _round_ieee(
                F.try_divide(
                    F.col("tp").cast("double"),
                    F.col("tp").cast("double") + F.col("fn").cast("double"),
                ),
                6,
            ).alias("recall_"),
            _round_ieee(
                2.0
                * F.col("tp").cast("double")
                / (
                    2.0 * F.col("tp").cast("double")
                    + F.col("fp").cast("double")
                    + F.col("fn").cast("double")
                ),
                6,
            ).alias("f1"),
        )
        .orderBy(F.desc("f1"), "threshold")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# per-slice freshness lag (data-quality / SLA audit)
# ---------------------------------------------------------------------------

_FRESHNESS_STALE_S = 86400  # stale when a slice trails the corpus by >1 day


SQL_FRESHNESS_LAG = f"""
    WITH per AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             max(ts) AS latest_ts
      FROM events GROUP BY event_type
    ), g AS (SELECT max(latest_ts) AS global_ts FROM per)
    SELECT event_type, n_rows, latest_ts,
           CAST(floor(epoch(global_ts)) - floor(epoch(latest_ts)) AS BIGINT)
             AS lag_seconds,
           (floor(epoch(global_ts)) - floor(epoch(latest_ts)))
             > {_FRESHNESS_STALE_S} AS is_stale
    FROM per CROSS JOIN g
    """


def _freshness_per(events: DataFrame) -> DataFrame:
    """``event_type, n_rows, latest_ts`` of an events relation."""
    return events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max("ts").alias("latest_ts"),
    )


def _freshness_lag(per: DataFrame) -> DataFrame:
    """Each slice's lag behind the newest slice and its staleness flag,
    from ``event_type, n_rows, latest_ts``."""
    g = per.agg(F.max("latest_ts").alias("global_ts"))
    lag = F.floor(F.col("global_ts").cast("timestamp").cast("double")) - F.floor(
        F.col("latest_ts").cast("timestamp").cast("double")
    )
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_rows",
        "latest_ts",
        lag.cast("long").alias("lag_seconds"),
        (lag > _FRESHNESS_STALE_S).alias("is_stale"),
    )


@query("dq_freshness_lag", oracle=SQL_FRESHNESS_LAG)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice freshness audit: each event_type's newest timestamp,
    its lag behind the corpus-wide newest, and a >1-day staleness flag —
    the "did a producer stop publishing?" check every ingest DQ suite
    runs (dq_profile sees value distributions; this sees TIME, the
    dimension that silently breaks downstream training-data cutoffs).

    Scale shape: one partial+final max/count aggregate onto the bounded
    event_type domain; the global max is a 1-row broadcast. Lag uses
    integer-second arithmetic (floor(epoch)) so the flag can never flip
    on a sub-second float ulp."""
    return _freshness_lag(_freshness_per(spark.table("events")))


# ---------------------------------------------------------------------------
# demographic-parity fairness audit (four-fifths rule)
# ---------------------------------------------------------------------------

_PARITY_THRESHOLD = 300  # predict positive when score (n_chars) >= this


@query(
    "ml_fairness_parity",
    oracle=f"""
    WITH scored AS (
      SELECT source, CASE WHEN n_chars >= {_PARITY_THRESHOLD} THEN 1 ELSE 0 END
               AS pred
      FROM documents
    ), per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pred) AS BIGINT) AS n_pos
      FROM scored GROUP BY source
    ), g AS (
      SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(n_pos) AS BIGINT) AS gp
      FROM per
    )
    SELECT source, n, n_pos,
           {_sql_round_ieee(
               "CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS pos_rate,
           {_sql_round_ieee(
               "(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
               " / nullif(CAST(gp AS DOUBLE) / CAST(gn AS DOUBLE), 0.0)",
               6)} AS di_ratio,
           (CAST(n_pos AS DECIMAL(19,0)) * 10 * gn)
             < (CAST(gp AS DECIMAL(19,0)) * 8 * n) AS flagged_four_fifths
    FROM per CROSS JOIN g
    """,
)
def ml_fairness_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demographic-parity audit of the length-threshold classifier per
    corpus slice: each source's positive-prediction rate, its disparate-
    impact ratio against the corpus-wide rate, and the FOUR-FIFTHS-RULE
    flag (slice rate < 80% of the global rate) — the fairness screen a
    data pipeline runs before a filter ships, because a quality filter
    that silently drops one source's documents at 3× the global rate IS
    a selection-bias bug (filter_c4_style / filter_quality_percentile
    decide what survives; this measures WHO pays).

    Exactness: the flag never divides — it cross-multiplies exact
    integer counts (n_pos·10·gn < gp·8·n in DECIMAL, headroom to
    n ~ 10¹⁸), so the 80% boundary cannot flip on a float ulp; the two
    reported ratios are fixed IEEE expressions. Scale shape: one
    partial+final count aggregate onto the source catalog; the global
    rate is a 1-row broadcast."""
    scored = spark.table("documents").select(
        "source",
        F.when(F.col("n_chars") >= _PARITY_THRESHOLD, 1).otherwise(0).alias("pred"),
    )
    per = scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pred").cast("long").alias("n_pos"),
    )
    g = per.agg(
        F.sum("n").cast("long").alias("gn"), F.sum("n_pos").cast("long").alias("gp")
    )
    d19 = "decimal(19,0)"
    return per.crossJoin(F.broadcast(g)).select(
        "source",
        "n",
        "n_pos",
        _round_ieee(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6)
        .alias("pos_rate"),
        # try_divide: a zero global positive rate makes the DI ratio
        # undefined — NULL on both engines, never an ANSI abort
        # (adversarial-fixture find, r9)
        _round_ieee(
            F.try_divide(
                F.col("n_pos").cast("double") / F.col("n").cast("double"),
                F.col("gp").cast("double") / F.col("gn").cast("double"),
            ),
            6,
        ).alias("di_ratio"),
        (
            F.col("n_pos").cast(d19) * 10 * F.col("gn")
            < F.col("gp").cast(d19) * 8 * F.col("n")
        ).alias("flagged_four_fifths"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test (is the daily series white noise?)
# ---------------------------------------------------------------------------

_LB_K = 7
_LB_LAGS = tuple(range(1, _LB_K + 1))

#: Per-lag Ljung-Box term: the exact-moment ACF (ts_acf's expanded form),
#: squared and weighted by 1/(n−k) — one shared IEEE expression, rounded
#: onto the 1e-9 grid before the cross-lag decimal sum.
_LB_TERM = (
    f"(({_ACF_R}) * ({_ACF_R})"
    " / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)))"
)


@query(
    "ts_ljung_box",
    oracle=f"""
    WITH {_sql_order_lag_moments(_LB_LAGS)}, terms AS (
      SELECT CAST({_sql_round_ieee(_LB_TERM, 9)} * 1000000000.0
                  AS DECIMAL(18,0)) AS nano
      FROM lagged, gmom
    )
    SELECT CAST((SELECT n FROM gmom) AS BIGINT) AS n_days,
           CAST({_LB_K} AS BIGINT) AS k_lags,
           {_sql_round_ieee(
               "CAST((SELECT n FROM gmom) AS DOUBLE)"
               " * (CAST((SELECT n FROM gmom) AS DOUBLE) + 2.0)"
               " * (CAST(sum(nano) AS DOUBLE) / 1000000000.0)", 6)} AS q_stat
    FROM terms
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily revenue: Q = n(n+2)·Σ_{k≤K}
    r_k²/(n−k) over the first {_LB_K} autocorrelations — the "is there
    ANY serial structure left?" gate (ts_acf shows the correlogram;
    this collapses it into the one statistic a forecasting pipeline
    checks on its RESIDUALS to decide whether ts_holt_linear_forecast /
    ts_snaive_backtest already captured the signal).

    Exactness: each r_k comes from ts_acf's expanded exact-moment form
    (the n² rescaling lives in IEEE, moments in DECIMAL(38,0)); each
    lag's term is ONE shared IEEE expression rounded onto the 1e-9
    grid, the cross-lag sum is decimal (order-free), and the final
    n(n+2) scaling is one more shared expression. Scale shape:
    identical to ts_acf."""
    daily = _daily_order_cents(spark).transform(pin, "reuse")
    gmom, lagged = _order_lag_moments(daily, _LB_LAGS)
    terms = lagged.crossJoin(F.broadcast(gmom)).select(
        (_round_ieee(F.expr(_LB_TERM), 9) * 1.0e9).cast("decimal(18,0)").alias("nano")
    )
    tsum = terms.agg(F.sum("nano").alias("nanos"))
    return tsum.crossJoin(F.broadcast(gmom)).select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(_LB_K).cast("long").alias("k_lags"),
        _round_ieee(
            F.col("n").cast("double")
            * (F.col("n").cast("double") + 2.0)
            * (F.col("nanos").cast("double") / 1.0e9),
            6,
        ).alias("q_stat"),
    )


# ---------------------------------------------------------------------------
# distribution-free exact median confidence interval (order statistics)
# ---------------------------------------------------------------------------

_MCI_Z = "1.959964"  # two-sided 95% normal quantile, shared literal

#: Order-statistic ranks for the 95% median CI — floor/ceil of the same
#: IEEE expression on both engines, so the ranks are identical integers.
_MCI_LO = f"CAST(floor((CAST(n AS DOUBLE) - {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)"
_MCI_HI = f"CAST(ceil((CAST(n AS DOUBLE) + {_MCI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0 + 1.0) AS BIGINT)"


@query(
    "stats_median_ci_exact",
    oracle=f"""
    WITH f AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      FROM lineitem
    ), dom AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY v
    ), cum AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cc
      FROM dom
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dom),
    ranks AS (
      SELECT n,
             greatest({_MCI_LO}, 1) AS lo_rank,
             least({_MCI_HI}, n) AS hi_rank,
             CAST((n + 1) // 2 AS BIGINT) AS med_rank
      FROM tot
    )
    SELECT n, lo_rank, hi_rank,
           CAST(min(CASE WHEN cc >= lo_rank THEN v END) AS DOUBLE) / 100.0
             AS ci_low,
           CAST(min(CASE WHEN cc >= med_rank THEN v END) AS DOUBLE) / 100.0
             AS median_,
           CAST(min(CASE WHEN cc >= hi_rank THEN v END) AS DOUBLE) / 100.0
             AS ci_high
    FROM cum CROSS JOIN ranks
    GROUP BY n, lo_rank, hi_rank
    """,
)
def stats_median_ci_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median of
    extended price, by ORDER STATISTICS: the CI endpoints are the
    ⌊(n−z√n)/2⌋-th and ⌈(n+z√n)/2+1⌉-th smallest values — no normality
    assumption, no resampling (the binomial-rank construction;
    stats_poisson_bootstrap_ci resamples the MEAN, this brackets the
    MEDIAN exactly). The uncertainty statement every "median latency /
    median price" dashboard should carry and almost never does.

    Scale shape: facts compress onto the 2dp price grid in one
    aggregate; cumulative counts come from the DISTRIBUTED prefix-sum
    helper; each rank lookup is a conditional-min over the domain —
    selection WITHOUT any global sort of facts. Ranks are floor/ceil
    of one shared IEEE expression on the exact integer n, so both
    engines select the identical order statistics."""
    from .prefix import attach_prefix_sums

    f = spark.table("lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("v")
    )
    # dom feeds the prefix-sum ranking AND the n/rank aggregate (r14);
    # the r15 audit measured eager CPU/wall-neutral here.
    dom = (
        f.groupBy("v")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(pin, "reuse")
    )
    cum = attach_prefix_sums(dom, ["v"], ["c"]).select(
        "v", F.col("c_upto").alias("cc")
    )
    ranks = (
        dom.agg(F.sum("c").cast("long").alias("n"))
        .select(
            "n",
            F.greatest(F.expr(_MCI_LO), F.lit(1)).alias("lo_rank"),
            F.least(F.expr(_MCI_HI), F.col("n")).alias("hi_rank"),
            ((F.col("n") + 1) / 2).cast("long").alias("med_rank"),
        )
    )
    sel = cum.crossJoin(F.broadcast(ranks))
    return sel.groupBy("n", "lo_rank", "hi_rank").agg(
        (F.min(F.when(F.col("cc") >= F.col("lo_rank"), F.col("v"))).cast("double")
         / 100.0).alias("ci_low"),
        (F.min(F.when(F.col("cc") >= F.col("med_rank"), F.col("v"))).cast("double")
         / 100.0).alias("median_"),
        (F.min(F.when(F.col("cc") >= F.col("hi_rank"), F.col("v"))).cast("double")
         / 100.0).alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# Tukey HSD post-hoc (which group pairs actually differ, after ANOVA)
# ---------------------------------------------------------------------------

#: Studentized-range critical value q(k=5, df=inf, alpha=.05) — shared
#: literal; the event-count df is ~1e4+ at sf0.01, so the asymptote is
#: the right table row at every SF.
_TUKEY_QCRIT = "3.858"

#: MSW = SSW/(N−k) from the ANOVA carriers; the pairwise studentized
#: statistic q_ab = |m_a − m_b| / sqrt(MSW/2 · (1/n_a + 1/n_b)) — one
#: shared IEEE expression over the pivoted exact moments.
_TUKEY_MSW = (
    f"({_ANOVA_SSW} / (CAST(n AS DOUBLE) - {float(len(_ANOVA_GROUPS))}))"
)
_TUKEY_Q = (
    "(abs(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    "     - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    f" / sqrt(({_TUKEY_MSW} / 2.0)"
    "        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))"
)


@query(
    "stats_tukey_hsd",
    oracle=f"""
    WITH v AS (
      SELECT event_type AS grp,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ), bygrp AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             sum(CAST(c AS DECIMAL(38,0))) AS s_g,
             sum(CAST(c AS DECIMAL(38,0)) * c) AS q_g
      FROM v GROUP BY grp
    ), one AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s, sum(q_g) AS q,
             {", ".join(
                 f"sum(n_g) FILTER (WHERE grp = '{g}') AS n_{g},"
                 f" sum(s_g) FILTER (WHERE grp = '{g}') AS s_{g}"
                 for g in _ANOVA_GROUPS
             )}
      FROM bygrp
    ), pairs AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b,
             a.n_g AS n_a, a.s_g AS s_a, b.n_g AS n_b, b.s_g AS s_b
      FROM bygrp a JOIN bygrp b ON a.grp < b.grp
    )
    SELECT grp_a, grp_b,
           {_sql_round_ieee(
               "(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
               " - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / 100.0", 6)}
             AS mean_diff,
           {_sql_round_ieee(_TUKEY_Q, 6)} AS q_stat,
           ({_sql_round_ieee(_TUKEY_Q, 6)}) > {_TUKEY_QCRIT} AS significant
    FROM pairs CROSS JOIN one
    ORDER BY grp_a, grp_b
    """,
)
def stats_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey honestly-significant-difference post-hoc: the 10 pairwise
    studentized-range comparisons that tell you WHICH event types'
    value distributions differ after stats_anova_oneway's F says "at
    least one does" — the step every ANOVA writeup needs next, with the
    family-wise error rate the naive 10 t-tests would blow.

    Exactness: the ANOVA pivot discipline — exact integer (n, Σc, Σc²)
    per group in DECIMAL, MSW and every q_ab ONE shared IEEE
    expression over the named carriers; the significance flag compares
    the ROUNDED statistic against the literal critical value, so both
    engines flip together. Scale shape: one fact aggregate onto the
    5-group domain, a 10-row pair join of that domain, the 1-row
    carrier broadcast — fact rows are touched exactly once."""
    v = spark.table("events").select(
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    c38 = F.col("c").cast("decimal(38,0)")
    bygrp = v.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(c38).alias("s_g"),
        F.sum(c38 * F.col("c")).alias("q_g"),
    ).transform(pin, "reuse")  # 5-row domain, consumed by pairs + carriers
    one = bygrp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        *[
            agg
            for g in _ANOVA_GROUPS
            for agg in (
                F.sum(F.when(F.col("grp") == g, F.col("n_g"))).alias(f"n_{g}"),
                F.sum(F.when(F.col("grp") == g, F.col("s_g"))).alias(f"s_{g}"),
            )
        ],
    )
    a = bygrp.select(
        F.col("grp").alias("grp_a"), F.col("n_g").alias("n_a"), F.col("s_g").alias("s_a")
    )
    b = bygrp.select(
        F.col("grp").alias("grp_b"), F.col("n_g").alias("n_b"), F.col("s_g").alias("s_b")
    )
    pairs = a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
    q6 = _round_ieee(F.expr(_TUKEY_Q), 6)
    return (
        pairs.crossJoin(F.broadcast(one))
        .select(
            "grp_a",
            "grp_b",
            _round_ieee(
                (
                    F.col("s_a").cast("double") / F.col("n_a").cast("double")
                    - F.col("s_b").cast("double") / F.col("n_b").cast("double")
                )
                / 100.0,
                6,
            ).alias("mean_diff"),
            q6.alias("q_stat"),
            (q6 > float(_TUKEY_QCRIT)).alias("significant"),
        )
        .orderBy("grp_a", "grp_b")
    )


# ---------------------------------------------------------------------------
# A/B sample-size planner (power analysis for two proportions)
# ---------------------------------------------------------------------------

_POWER_Z_A2 = "1.959964"  # alpha = .05 two-sided
_POWER_Z_B = "0.841621"   # power = .80
_POWER_MDE = "0.10"       # +10% relative lift to detect

#: nullif: a zero base rate (no purchases) makes the detectable lift
#: zero-width and n is undefined — NULL on both engines (r9).
_POWER_N = (
    f"ceil((({_POWER_Z_A2} + {_POWER_Z_B}) * ({_POWER_Z_A2} + {_POWER_Z_B}))"
    " * (p1 * (1.0 - p1) + p2 * (1.0 - p2))"
    " / nullif((p2 - p1) * (p2 - p1), 0.0))"
)


@query(
    "stats_power_analysis",
    oracle=f"""
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purch
      FROM events
    ), rates AS (
      SELECT n_events, n_purch,
             CAST(n_purch AS DOUBLE)
               / nullif(CAST(n_events AS DOUBLE), 0.0) AS p1,
             (CAST(n_purch AS DOUBLE)
               / nullif(CAST(n_events AS DOUBLE), 0.0))
               * (1.0 + {_POWER_MDE}) AS p2
      FROM base
    )
    SELECT n_events, n_purch,
           {_sql_round_ieee("p1", 6)} AS base_rate,
           {_sql_round_ieee("p2", 6)} AS target_rate,
           CAST({_POWER_N} AS BIGINT) AS n_per_arm
    FROM rates
    """,
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size planner: from the corpus's exact purchase base
    rate, the per-arm sample size needed to detect a +10% relative lift
    at α=.05 (two-sided) with 80% power — the question every
    experimentation review asks BEFORE launch (ab_test_proportions
    judges the experiment after; this says how long it must run).
    n = (z_{α/2}+z_β)²·(p₁(1−p₁)+p₂(1−p₂))/(p₂−p₁)², z's as shared
    literals.

    Scale shape: one conditional-count aggregate; base rate from exact
    integers; the ceil of one shared IEEE expression lands on the same
    integer on both engines."""
    base = spark.table("events").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("n_purch"),
    )
    # try_divide + oracle nullif: zero events (r10 empty corpus) → the
    # planner row survives with NULL rates on both engines, not an ANSI
    # abort (n_per_arm is a constant-expression plan input either way).
    p1 = F.try_divide(
        F.col("n_purch").cast("double"), F.col("n_events").cast("double")
    )
    rates = base.select(
        "n_events", "n_purch", p1.alias("p1"), (p1 * (1.0 + float(_POWER_MDE))).alias("p2")
    )
    return rates.select(
        "n_events",
        "n_purch",
        _round_ieee(F.col("p1"), 6).alias("base_rate"),
        _round_ieee(F.col("p2"), 6).alias("target_rate"),
        F.expr(_POWER_N).cast("long").alias("n_per_arm"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal forecast (period 7, alpha=beta=gamma=0.5)
# ---------------------------------------------------------------------------

_HW_H = 7


def _hw_sql() -> str:
    """Build the recursive-CTE oracle: state = (l, t, s0..s6); every
    reuse of l_new is INLINED textually (the ts_holt_linear lesson), so
    the float op sequence is pinned on both engines."""
    y = lambda k: f"(SELECT y FROM idx WHERE i = {k})"  # noqa: E731
    l0 = "(" + " + ".join(y(k) for k in range(1, 8)) + ") / 7.0"
    m2 = "(" + " + ".join(y(k) for k in range(8, 15)) + ") / 7.0"
    t0 = f"(({m2}) - ({l0})) / 7.0"
    seas_init = ", ".join(f"{y(k)} - ({l0}) AS s{k - 1}" for k in range(1, 8))
    sold = (
        "CASE (d.i - 1) % 7 "
        + " ".join(f"WHEN {j} THEN hw.s{j}" for j in range(7))
        + " END"
    )
    lnew = f"(0.5 * (d.y - ({sold})) + 0.5 * (hw.l + hw.t))"
    s_steps = ", ".join(
        f"CASE WHEN (d.i - 1) % 7 = {j}"
        f" THEN 0.5 * (d.y - {lnew}) + 0.5 * hw.s{j}"
        f" ELSE hw.s{j} END AS s{j}"
        for j in range(7)
    )
    s_fc = (
        "CASE (nn + h - 1) % 7 "
        + " ".join(f"WHEN {j} THEN s{j}" for j in range(7))
        + " END"
    )
    return f"""
    WITH RECURSIVE idx AS ({_sql_purchase_series()}
    ), hw AS (
      SELECT 7 AS i, {l0} AS l, {t0} AS t, {seas_init}
      UNION ALL
      SELECT d.i,
             {lnew} AS l,
             0.5 * ({lnew} - hw.l) + 0.5 * hw.t AS t,
             {s_steps}
      FROM hw JOIN idx d ON d.i = hw.i + 1
    ), fin AS (
      SELECT * FROM hw ORDER BY i DESC LIMIT 1
    ), meta AS (
      SELECT max(day) AS last_day, CAST(count(*) AS BIGINT) AS nn FROM idx
    )
    SELECT CAST(h AS BIGINT) AS h,
           last_day + CAST(h AS INTEGER) AS day,
           {_sql_round_ieee(f"l + CAST(h AS DOUBLE) * t + ({s_fc})", 6)}
             AS forecast
    FROM fin CROSS JOIN meta
    CROSS JOIN generate_series(1, {_HW_H}) AS g(h)
    WHERE nn >= 14
    ORDER BY h
    """


def _hw_spark_expr() -> str:
    """The same recurrence as ONE Spark SQL `aggregate` fold over the
    collected day series (bounded-domain rule); 0.5D literals keep the
    arithmetic in doubles, and l_new is inlined exactly as in the
    oracle."""
    e = lambda k: f"element_at(s, {k}).y"  # noqa: E731
    l0 = "(" + " + ".join(e(k) for k in range(1, 8)) + ") / 7.0D"
    m2 = "(" + " + ".join(e(k) for k in range(8, 15)) + ") / 7.0D"
    t0 = f"(({m2}) - ({l0})) / 7.0D"
    seas_init = "array(" + ", ".join(
        f"{e(k)} - ({l0})" for k in range(1, 8)
    ) + ")"
    sold = "element_at(acc.s, CAST((p.pos - 1) % 7 AS INT) + 1)"
    lnew = f"(0.5D * (p.y - {sold}) + 0.5D * (acc.l + acc.t))"
    return (
        "aggregate("
        "  transform(slice(s, 8, size(s) - 7),"
        "            (q, idx) -> named_struct('pos', idx + 8, 'y', q.y)),"
        f" named_struct('l', {l0}, 't', {t0}, 's', {seas_init}),"
        "  (acc, p) -> named_struct("
        f"   'l', {lnew},"
        f"   't', 0.5D * ({lnew} - acc.l) + 0.5D * acc.t,"
        "    's', transform(acc.s, (sv, j) ->"
        "           IF(j = CAST((p.pos - 1) % 7 AS INT),"
        f"             0.5D * (p.y - {lnew}) + 0.5D * sv, sv))))"
    )


@query("ts_holt_winters", oracle=_hw_sql())
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal forecasting (period 7,
    α=β=γ=0.5) over the daily purchase-revenue series: level + trend +
    a 7-slot seasonal state updated per observation, forecasting
    ŷ(h) = l + h·t + s[(n+h−1) mod 7] for h = 1..{_HW_H} — the
    production-standard seasonal forecaster one rung above
    ts_holt_linear_forecast (which a weekly-periodic series defeats;
    ts_acf's lag-7 spike is exactly the signal this model consumes).
    Seasonal slots are POSITIONAL (i mod 7 over observed days), the
    standard formulation for a gapless daily rollup.

    An inherently sequential 9-state recurrence, handled by the
    bounded-domain rule: the fold runs over base relation B's
    day-sorted series as one `aggregate` lambda whose l_new
    is textually INLINED in the trend and seasonal updates — the
    DuckDB oracle runs the IDENTICAL op sequence as a recursive CTE
    with the seasonal array unrolled into 7 columns, so all {_HW_H}
    forecasts compare bitwise."""
    series = _purchase_series(spark)
    # HW needs two full seasons (14 days) to initialize level/trend/
    # seasonals; on a shorter series the model is undefined, so BOTH
    # engines emit zero forecast rows instead of erroring (the Spark
    # slice would get a negative length — adversarial-fixture find, r9).
    fitted = series.where(F.size("s") >= 14).select(
        F.element_at("s", -1)["day"].alias("last_day"),
        F.size("s").alias("nn"),
        F.expr(_hw_spark_expr()).alias("st"),
    )
    fc = (
        "st.l + CAST(h AS DOUBLE) * st.t"
        " + element_at(st.s, CAST((nn + h - 1) % 7 AS INT) + 1)"
    )
    return (
        fitted.select(
            "last_day",
            "nn",
            "st",
            F.explode(F.sequence(F.lit(1), F.lit(_HW_H))).alias("h"),
        )
        .select(
            F.col("h").cast("long").alias("h"),
            F.date_add("last_day", F.col("h")).alias("day"),
            _round_ieee(F.expr(fc), 6).alias("forecast"),
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# maximum drawdown of cumulative revenue (peak-to-trough risk metric)
# ---------------------------------------------------------------------------


@query(
    "ts_max_drawdown",
    oracle=f"""
    WITH daily AS (
      SELECT day, CAST(cents AS DECIMAL(18,0)) AS rev
      FROM ({_sql_daily_order_cents()})
    ), cum AS (
      SELECT day, CAST(sum(rev) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DECIMAL(18,0)) AS c
      FROM daily
    ), dd AS (
      SELECT b.day AS trough_day,
             CAST(max(a.c) AS DECIMAL(18,0)) AS peak_c,
             CAST(max(b.c) AS DECIMAL(18,0)) AS trough_c
      FROM cum a JOIN cum b ON a.day <= b.day
      GROUP BY b.day
    )
    SELECT trough_day,
           CAST(peak_c - trough_c AS BIGINT) AS drawdown_cents,
           CAST(peak_c - trough_c AS DOUBLE) / 100.0 AS drawdown
    FROM dd
    ORDER BY peak_c - trough_c DESC, trough_day LIMIT 1
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily revenue curve — the
    deepest peak-to-trough fall, the risk metric that says how bad the
    worst historical slump was (ts_changepoint_cusum locates WHERE the
    level shifted; drawdown sizes the worst cumulative damage). Exact
    integer cents end to end; ties broken to the earliest trough.

    Scale shape: base relation C; the cumulative curve comes from the
    DISTRIBUTED prefix-sum helper; the running peak is a broadcast
    non-equi self-join of the ~2.4k-row domain (the Mann-Kendall pair
    shape — constant in corpus size, quadratic only in YEARS) aggregated
    per trough day; the final argmax is a domain-sized top-1."""
    from .prefix import attach_prefix_sums

    daily = _daily_order_cents(spark).select(
        "day", F.col("cents").cast("decimal(18,0)").alias("rev")
    )
    cum = attach_prefix_sums(daily, ["day"], ["rev"]).select(
        "day", F.col("rev_upto").cast("decimal(18,0)").alias("c")
    )
    a = cum.select(F.col("day").alias("day_a"), F.col("c").alias("c_a"))
    b = cum.select(F.col("day").alias("day_b"), F.col("c").alias("c_b"))
    dd = (
        a.join(F.broadcast(b), F.col("day_a") <= F.col("day_b"))
        .groupBy(F.col("day_b").alias("trough_day"))
        .agg(
            F.max("c_a").cast("decimal(18,0)").alias("peak_c"),
            F.max("c_b").cast("decimal(18,0)").alias("trough_c"),
        )
    )
    # Output column is BIGINT, not DECIMAL: the r9 driver red row taught
    # that DECIMAL-rendered output columns are a cross-engine exposure
    # surface — BIGINT holds the full cents range (< 9.2e18) anyway.
    draw = (F.col("peak_c") - F.col("trough_c")).cast("long")
    return (
        dd.select(
            "trough_day",
            draw.alias("drawdown_cents"),
            (draw.cast("double") / 100.0).alias("drawdown"),
        )
        .orderBy(F.desc("drawdown_cents"), "trough_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# seasonal-residual anomaly detection (decompose + robust MAD flagging)
# ---------------------------------------------------------------------------

#: Residual in exact integer MICROS: the decompose expression tree is
#: bit-reproducible (integer-cents inputs, shared shape), so rounding it
#: onto the 1e-6 grid yields the same integer on both engines, and the
#: median/MAD selection below runs on exact integers end to end.
_SRA_RESID = (
    "CAST(round((CAST(rev_c AS DOUBLE) / 100.0"
    " - CAST(s7 AS DOUBLE) / (100.0 * CAST(c7 AS DOUBLE))"
    " - (CAST(sd AS DOUBLE) / (100.0 * CAST(nd AS DOUBLE))"
    "    - CAST(st AS DOUBLE) / (100.0 * CAST(nt AS DOUBLE))))"
    " * 1000000.0) AS BIGINT)"
)


@query(
    "ts_anomaly_seasonal_mad",
    oracle=f"""
    WITH resid AS (
      SELECT day, rev_c, {_SRA_RESID} AS r
      FROM ({_sql_seasonal_components()})
    ), med AS (
      SELECT r AS med_r FROM (
        SELECT r, row_number() OVER (ORDER BY r) AS rk FROM resid
      ) WHERE rk = (SELECT (count(*) + 1) // 2 FROM resid)
    ), mad AS (
      SELECT dev AS mad_r FROM (
        SELECT abs(r - med_r) AS dev,
               row_number() OVER (ORDER BY abs(r - med_r)) AS rk
        FROM resid CROSS JOIN med
      ) WHERE rk = (SELECT (count(*) + 1) // 2 FROM resid)
    )
    SELECT day,
           round(rev_c / 100.0, 6) AS revenue,
           round(CAST(r AS DOUBLE) / 1000000.0, 6) AS residual,
           (r > med_r) AS is_high
    FROM resid CROSS JOIN med CROSS JOIN mad
    WHERE abs(r - med_r) > 3 * mad_r
    ORDER BY day
    """,
)
def ts_anomaly_seasonal_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly detection — the STL-style detector done
    right: decompose daily revenue (ts_seasonal_decompose's centered
    7-day trend + day-of-week seasonal), then flag days whose RESIDUAL
    deviates from the residual median by more than 3 robust MADs. The
    composition matters: a raw z-score detector (ts_anomaly_zscore)
    flags every healthy Sunday; removing trend and seasonality first
    means only genuinely unexplained days surface, and MAD (not σ)
    keeps the threshold itself immune to the anomalies it hunts.

    Exactness: residuals round onto the 1e-6 integer grid (the
    decompose tree is already bit-reproducible), and the median and
    MAD are ORDER-STATISTIC selections on those exact integers — the
    3-MAD flag is an integer comparison that cannot flip on a float
    ulp. Scale shape: base relation D; the two rank selections and the
    flag run on the day domain, the rank windows PARTITION-safe under
    the audit via the bounded-domain rule (row_number over the
    compressed domain inside the oracle; Spark side uses D's
    constant-key idiom)."""
    resid = (
        _seasonal_components(spark)
        .select("day", "rev_c", F.expr(_SRA_RESID).alias("r"))
        .transform(pin, "reuse")  # day-domain residuals, consumed by 3 passes
    )
    n1 = resid.agg(
        F.expr("CAST((count(*) + 1) div 2 AS BIGINT)").alias("med_rank")
    )
    # rank selection via the bounded-domain constant-key idiom (the
    # prefix.py exception: the window's input is the calendar-bounded
    # day domain, never fact-sized)
    ckey = F.pmod(F.unix_date(F.col("day")), F.lit(1))
    ranked = resid.crossJoin(F.broadcast(n1)).withColumn(
        "rk", F.row_number().over(W.partitionBy(ckey).orderBy("r", "day"))
    )
    med = ranked.where(F.col("rk") == F.col("med_rank")).select(
        F.col("r").alias("med_r")
    )
    devs = resid.crossJoin(F.broadcast(med)).select(
        "day", "rev_c", "r", "med_r", F.abs(F.col("r") - F.col("med_r")).alias("dev")
    )
    ranked2 = devs.crossJoin(F.broadcast(n1)).withColumn(
        "rk", F.row_number().over(W.partitionBy(ckey).orderBy("dev", "day"))
    )
    mad = ranked2.where(F.col("rk") == F.col("med_rank")).select(
        F.col("dev").alias("mad_r")
    )
    return (
        devs.crossJoin(F.broadcast(mad))
        .where(F.col("dev") > 3 * F.col("mad_r"))
        .select(
            "day",
            F.round(F.col("rev_c") / 100.0, 6).alias("revenue"),
            F.round(F.col("r").cast("double") / 1.0e6, 6).alias("residual"),
            (F.col("r") > F.col("med_r")).alias("is_high"),
        )
        .orderBy("day")
    )
