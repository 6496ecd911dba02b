"""Incremental-rollup and per-group governance operators: partial-
aggregate merge (the algebra behind incremental table builds), first-seen
cumulative growth curves, JVM-side grouped regression, and deterministic
per-group sampling caps.

Reference parity: shelf rebuilds derived tables from scratch when inputs
change (reference src/shelf/tables.py:62-99); the framework layer here
already rebuilds per-partition (fw/tables.py incremental builds), and
`incr_merge_partials` pins the algebraic property that makes that safe
for aggregates: decimal partial sums merge associatively, so
sum-of-shard-sums ≡ direct sum, bit-for-bit.

Scale notes (100 TB):
- Partial-merge is the map-side-combine story made explicit: each
  ingest batch reduces to O(groups) rows; the merge re-aggregates
  partials only — the historical fact data is never rescanned.
- The growth curve's global cumulative window runs over the aggregated
  per-day relation (bounded by calendar days), never the event stream.
- Grouped regression is one partial+final hash agg (five decimal moment
  sums per key) — contrast `udf_grouped_regression` (udfs.py), which
  computes the same fit in an Arrow-batched pandas UDF; this variant
  keeps the whole fit JVM-side for the 10-100× hot-path advantage.
- Per-group caps rank by a content hash inside each group — one shuffle
  on the group key, deterministic under retries/AQE like all sampling
  in sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .num import DEC, _round_ieee, _sql_round_ieee
from .pin import pin
from .registry import query

_DEC2 = "decimal(18,2)"


@query(
    "incr_merge_partials",
    oracle="""
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS DECIMAL(18,0))) AS DOUBLE) / 100.0 AS total_qty
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY ship_month, l_returnflag
    """,
)
def incr_merge_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: two ingest batches (odd/even order
    keys — any partition of the input) each reduce to per-(month, flag)
    partials; the merge re-aggregates ONLY the partials. Checked against
    the direct one-pass oracle — decimal sums make the two routes
    bitwise-identical, which is the property that lets a 100 TB pipeline
    fold a day's increment into a rollup without rescanning history."""
    li = spark.table("lineitem")

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"),
            "l_returnflag",
        ).agg(
            F.count("*").alias("p_n"),
            F.sum(
                F.floor(F.col("l_quantity") * 100.0 + F.lit(0.5)).cast("decimal(18,0)")
            ).alias("p_qty"),
        )

    batch1 = partial(li.filter(F.col("l_orderkey") % 2 == 0))
    batch2 = partial(li.filter(F.col("l_orderkey") % 2 == 1))
    return (
        batch1.unionByName(batch2)
        .groupBy("ship_month", "l_returnflag")
        .agg(
            F.sum("p_n").alias("n_items"),
            (F.sum("p_qty").cast("double") / 100.0).alias("total_qty"),
        )
        .orderBy("ship_month", "l_returnflag")
    )


@query(
    "events_new_users_daily",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM first_seen GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily
    ORDER BY day
    """,
)
def events_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User growth curve: first-seen day per user (one shuffle on
    user_id), daily new-user counts, and the cumulative total. The
    per-day domain grows with the calendar horizon (slowly, but
    unboundedly), so the cumulative sum is the DISTRIBUTED prefix sum
    (prefix.attach_prefix_sums) rather than a single-task
    ``Window.orderBy(day)``."""
    from .prefix import attach_prefix_sums

    e = spark.table("events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("first_day")
    )
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    return attach_prefix_sums(daily, ["day"], ["new_users"]).select(
        "day",
        "new_users",
        F.col("new_users_upto").cast("long").alias("cum_users"),
    ).orderBy("day")


@query(
    "agg_grouped_regr_jvm",
    oracle="""
    WITH m AS (
      SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(date_diff('day', DATE '2024-01-01', ts) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(date_diff('day', DATE '2024-01-01', ts) AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(date_diff('day', DATE '2024-01-01', ts) AS DECIMAL(18,2))
                      * CAST(date_diff('day', DATE '2024-01-01', ts) AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      FROM events
      GROUP BY user_id
      HAVING count(*) >= 20
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           {slope} AS trend_per_day
    FROM m
    WHERE ((n * sxx) - (sx * sx)) > 0
    ORDER BY user_id
    """.format(
        slope=_sql_round_ieee("((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))", 6)
    ),
)
def agg_grouped_regr_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value-vs-time trend (OLS slope per group) computed
    entirely JVM-side from five exact decimal moment sums — the zero-
    Python twin of `udf_grouped_regression` (udfs.py). x is integer days
    from a fixed epoch, so all moments are exact and the closed form is
    engine-deterministic. One partial+final hash agg; no UDF, no Arrow
    transfer, whole-stage codegen end to end."""
    e = spark.table("events")
    x = F.datediff(F.col("ts"), F.lit("2024-01-01").cast("date")).cast(_DEC2)
    y = F.col("value").cast(_DEC2)
    m = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * y).cast("double").alias("sxy"),
            F.sum(x * x).cast("double").alias("sxx"),
        )
        .filter(F.col("n") >= 20)
    )
    det = (F.col("n") * F.col("sxx")) - (F.col("sx") * F.col("sx"))
    slope = ((F.col("n") * F.col("sxy")) - (F.col("sx") * F.col("sy"))) / det
    return (
        m.filter(det > 0)
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_events"),
            _round_ieee(slope, 6).alias("trend_per_day"),
        )
        .orderBy("user_id")
    )


@query(
    "sample_cap_per_group",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 50
    ORDER BY source, doc_id
    """,
)
def sample_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source document cap (≤50 each): rank by content
    hash inside each group and keep the first k — the reproducible
    cap-the-overrepresented-source pass of dataset mixing. Like all
    sampling here (sampling.py), the selection is a pure function of the
    data: invariant under retries, partitioning, and AQE re-plans. One
    shuffle on the group key; top-k per group via rank filter."""
    d = spark.table("documents")
    w = W.partitionBy("source").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# r8d: mergeable quantile-histogram rollup
# ---------------------------------------------------------------------------

#: Histogram bin width in cents ($500): lineitem prices span ~$900–$105k,
#: so the bin domain is ~210 rows — bounded by the price domain, not data.
_QH_BIN_CENTS = 50_000
_QH_QUANTILES = (50, 95, 99)


@query(
    "rollup_quantile_histogram",
    oracle=f"""
    WITH b AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
                        / {_QH_BIN_CENTS}) AS BIGINT) AS bin
      FROM lineitem
    ),
    mh AS (SELECT month, bin, count(*) AS c FROM b GROUP BY 1, 2),
    mcum AS (
      SELECT month, bin,
             sum(c) OVER (PARTITION BY month ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY month) AS total
      FROM mh
    ),
    mq AS (
      SELECT 'month' AS grain, month,
             CAST(max(total) AS BIGINT) AS n_rows,
             {', '.join(
                 f"(min(CASE WHEN 100 * cum >= {q} * total THEN bin END) + 1)"
                 f" * {_QH_BIN_CENTS} / 100.0 AS p{q}_ub"
                 for q in _QH_QUANTILES)}
      FROM mcum GROUP BY month
    ),
    acum AS (
      SELECT bin,
             sum(c) OVER (ORDER BY bin) AS cum,
             sum(c) OVER () AS total
      FROM (SELECT bin, sum(c) AS c FROM mh GROUP BY bin) t
    ),
    aq AS (
      SELECT 'all' AS grain, CAST(NULL AS DATE) AS month,
             CAST(max(total) AS BIGINT) AS n_rows,
             {', '.join(
                 f"(min(CASE WHEN 100 * cum >= {q} * total THEN bin END) + 1)"
                 f" * {_QH_BIN_CENTS} / 100.0 AS p{q}_ub"
                 for q in _QH_QUANTILES)}
      FROM acum
    )
    SELECT * FROM mq UNION ALL SELECT * FROM aq
    ORDER BY grain, month
    """,
)
def rollup_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summaries: per-day price histograms on an exact
    integer-cents grid roll up day → month → ALL by summing bin counts
    — the mergeable-sketch pattern (KLL/t-digest's role) made exact by
    a domain-bounded bin vector, so a 100 TB lake maintains percentile
    rollups incrementally without ever rescanning history. Quantile
    read-out per grain: the smallest bin whose cumulative count covers
    q% (integer cross-multiply, no FP), reported as the bin's upper
    bound in dollars.

    The merged≡direct property IS the correctness check: Spark builds
    month from per-day partials and ALL from month partials, while the
    oracle computes every grain directly from the facts — the gate's
    value-hash match proves the merge is lossless (exact integer
    counts on a fixed bin grid commute with re-aggregation; the same
    algebra as `incr_merge_partials`, extended to a distribution
    summary).

    Scale shape: facts reduce map-side to (day, bin) counts (bin
    domain ~210 rows per day — bounded by the price domain); every
    later stage touches only partials. Cumulative read-out windows run
    per grain key over ≤210-row bin vectors (the ALL grain uses the
    constant-key idiom over one bounded vector)."""
    li = spark.table("lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    day = (
        li.select(
            F.to_date(F.date_trunc("day", "l_shipdate")).alias("day"),
            F.floor(cents / _QH_BIN_CENTS).cast("long").alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count("*").alias("c"))
    )
    month = (
        day.groupBy(
            F.to_date(F.date_trunc("month", "day")).alias("month"), "bin"
        ).agg(F.sum("c").alias("c"))
    )
    # ONE pass over the facts (r15, VERDICT ask #3): the mq-union-aq
    # epilogue consumes `month` on two concurrent branches, so the
    # unpinned relation evaluated the whole fact reduction once per
    # branch (before-plan: 2 lineitem scans). The pinned relation is
    # domain-bounded — months x ~210 price bins, regardless of corpus
    # size — so one coalesced partition is the right width at any scale
    # (the dbb2c4d markov-matrix precedent); everything after this line
    # touches only bounded partials.
    month = month.coalesce(1).transform(pin, "fanout")
    allg = month.groupBy("bin").agg(F.sum("c").alias("c"))

    def readout(hist: DataFrame, key, grain: str) -> DataFrame:
        part = [key] if key else [F.pmod(F.col("bin"), F.lit(1))]
        cum = F.sum("c").over(
            W.partitionBy(*part).orderBy("bin").rowsBetween(
                W.unboundedPreceding, 0
            )
        )
        total = F.sum("c").over(W.partitionBy(*part))
        rows = hist.select(
            *([key] if key else []),
            "bin",
            cum.alias("cum"),
            total.alias("total"),
        )
        aggs = [F.max("total").cast("long").alias("n_rows")] + [
            (
                (
                    F.min(
                        F.when(
                            F.lit(100) * F.col("cum") >= F.lit(q) * F.col("total"),
                            F.col("bin"),
                        )
                    )
                    + 1
                )
                * _QH_BIN_CENTS
                / 100.0
            ).alias(f"p{q}_ub")
            for q in _QH_QUANTILES
        ]
        if key:
            out = rows.groupBy(key).agg(*aggs)
        else:
            # global aggregate: exactly one output row even on an empty
            # corpus (the oracle's aq branch does the same) — do not
            # fold this into a groupBy(grain) which would emit zero
            out = rows.groupBy().agg(*aggs).withColumn(
                "month", F.lit(None).cast("date")
            )
        return out.select(
            F.lit(grain).alias("grain"),
            "month",
            "n_rows",
            *[f"p{q}_ub" for q in _QH_QUANTILES],
        )

    mq = readout(month, "month", "month")
    aq = readout(allg, None, "all")
    return mq.unionByName(aq).orderBy("grain", "month")


SQL_BITMAP_DISTINCT = """
    WITH perday AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events)
    SELECT day, n_distinct,
           (SELECT n FROM tot) AS merged_distinct_all
    FROM perday ORDER BY day
    """


def _bitmap_cells(events: DataFrame) -> DataFrame:
    """``day, bucket, bm``: the user-position bitmap of each (day,
    bitmap bucket) cell of an events relation."""
    ev = events.select(F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id")
    return ev.groupBy(
        "day", F.bitmap_bucket_number(F.col("user_id")).alias("bucket")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id"))).alias("bm")
    )


def _bitmap_distinct(cells: DataFrame) -> DataFrame:
    """``day, n_distinct, merged_distinct_all`` from (day, bucket, bm)
    cells: per-day distinct = Σ bitmap_count; OR-merging the SAME bucket
    across days gives the exact all-days distinct from the cells alone."""
    perday = cells.groupBy("day").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_distinct")
    )
    merged = (
        cells.groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("merged_distinct_all"))
    )
    return (
        perday.crossJoin(F.broadcast(merged))
        .select("day", "n_distinct", "merged_distinct_all")
        .orderBy("day")
    )


@query("rollup_bitmap_distinct", oracle=SQL_BITMAP_DISTINCT)
def rollup_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct users per day via Roaring-style BITMAP
    aggregation (Spark's bitmap_construct_agg family): each (day,
    bucket) cell holds a 32k-bit bitmap of user positions; per-day
    distinct = Σ bitmap_count, and OR-merging the SAME buckets across
    days yields the exact ALL-days distinct WITHOUT rescanning facts —
    the production pattern for exact incremental distinct rollups
    (rollup_hll_mergeable is the approximate sibling; this one is
    value-exact, which is why it has a full SQL oracle and HLL doesn't).

    Scale shape: one groupBy (day, bucket) with map-side combine —
    state is bitmap-bucket-bounded, not row-bounded (dense int keys
    pack 32,768 users per 4 KB bucket); the cross-day merge touches
    only the day×bucket grid. The oracle recomputes both levels with
    plain COUNT(DISTINCT) — same integers, different algorithm."""
    return _bitmap_distinct(_bitmap_cells(spark.table("events")))
