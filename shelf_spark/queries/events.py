"""Event-time operators over the `events` table (SURVEY.md §2.3).

The reference has no streaming layer (batch subprocess-per-step,
reference ``src/shelf/steps.py:67-94``), so these are the *extension*
surface: tumbling / sliding / session windows and an as-of join,
implemented batch-first (DuckDB-oracle-checkable). The same expressions
wire into Structured Streaming unchanged — see
:mod:`shelf_spark.streaming` for the `readStream` + watermark variants.

Scale notes:
- F.window() is a projection (no shuffle by itself); the groupBy shuffles
  on (window, key) which spreads with key cardinality.
- sessionization and the as-of join are single-shuffle designs: one
  repartition by user_id, then sort-within-partition window functions —
  no self-join, no range-join blowup.

Session relation. The session operators (``events_sessionize``,
``events_bounce_rate``, ``events_concurrent_sessions``,
``ranges.join_interval_overlap``) and ``stream_session_windows``' oracle
read one relation defined here, a Spark builder next to its DuckDB twin
(tests/test_session_relation.py holds them equal row for row):

- S ``_sessions``: ``user_id, session_id, s_start, s_end, n_events,
  session_value``, one row per session of a user.

Rules. A user's events are ordered by ``(ts, event_id)``; an event opens a
new session when it is the user's first or when it follows the previous
one by more than 30 minutes. The gap is measured in fractional seconds on
both engines: exactly 30 minutes stays in the session, 1800.5 s opens a
new one. ``session_id`` (BIGINT) numbers a user's sessions from 1;
``s_start`` and ``s_end`` are the first and last event's ``ts``,
``n_events`` the event count and ``session_value`` the exact ``value`` sum
(num.dsum_i). The builder returns an unpinned relation; each caller pins
at its call site and selects the columns it reads. The SQL twin takes the
events relation as ``src``, so a caller can filter events first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .num import (_round_ieee, davg_i, dsum_i, epoch_seconds_floor,
                  sql_davg_i, sql_dsum_i, sql_epoch_s)
from .registry import query

SQL_DSUM_VALUE = sql_dsum_i("value", 2)
SQL_DAVG_VALUE = sql_davg_i("value", 2)

# DuckDB-side 10-minute tumbling bucket, epoch-aligned like F.window.
_BUCKET_10M = (
    "date_trunc('hour', ts) + CAST(floor(extract(minute FROM ts) / 10) * 10 AS INTEGER)"
    " * INTERVAL 1 MINUTE"
)


def _sessions(spark: SparkSession) -> DataFrame:
    """S: ``user_id, session_id, s_start, s_end, n_events, session_value``."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # ts may arrive as TIMESTAMP_NTZ (µs parquet without a time zone): NTZ has no
    # direct numeric cast, so hop through TIMESTAMP first — the session tz
    # is pinned to UTC (session.py), making the hop value-identical.
    gap = (
        F.col("ts").cast("timestamp").cast("double")
        - prev_ts.cast("timestamp").cast("double")
    )
    is_new = F.when(prev_ts.isNull() | (gap > 30 * 60), 1).otherwise(0)
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        spark.table("events")
        .withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(run).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count("*").alias("n_events"),
            dsum_i(F.col("value"), 2).alias("session_value"),
        )
    )


def _sql_sessions(src: str = "events") -> str:
    return f"""
      WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM {src}
      ),
      numbered AS (
        SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged
      )
      SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end,
             count(*) AS n_events, {SQL_DSUM_VALUE} AS session_value
      FROM numbered GROUP BY user_id, session_id
    """


SQL_TUMBLING_WINDOW = f"""
    SELECT {_BUCKET_10M} AS w_start,
           event_type,
           count(*) AS n_events,
           {SQL_DSUM_VALUE} AS total_value
    FROM events
    GROUP BY 1, 2
    """


@query("events_tumbling_window", oracle=SQL_TUMBLING_WINDOW)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10-minute tumbling windows (F.window aligns to the 1970 epoch, same as
    # the truncation arithmetic in the oracle).
    e = spark.table("events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum_i(F.col("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sliding_window",
    oracle=f"""
    WITH slid AS (
      SELECT e.*,
             (date_trunc('hour', ts)
               + CAST(floor(extract(minute FROM ts) / 5) * 5 AS INTEGER) * INTERVAL 1 MINUTE)
               - (k.k * INTERVAL 5 MINUTE) AS w_start
      FROM events e
      CROSS JOIN (VALUES (0), (1)) k(k)
    )
    SELECT w_start, count(*) AS n_events, {SQL_DAVG_VALUE} AS avg_value
    FROM slid
    GROUP BY w_start
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10-minute windows sliding every 5 minutes: each event lands in exactly
    # two windows; F.window(ts, '10 minutes', '5 minutes') expands rows
    # map-side (narrow), then aggregates.
    e = spark.table("events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), davg_i(F.col("value"), 2).alias("avg_value"))
        .select(F.col("w.start").alias("w_start"), "n_events", "avg_value")
    )


@query(
    "events_sessionize",
    oracle=f"""
    SELECT user_id, session_id, s_start AS session_start, s_end AS session_end,
           n_events, session_value
    FROM ({_sql_sessions()})
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands sessionization (30-min inactivity gap) — relation S:
    # lag → flag → running sum → aggregate. One shuffle on user_id;
    # everything after is sort-within-partition. (Streaming twin:
    # F.session_window in shelf_spark.streaming.)
    return _sessions(spark).select(
        "user_id",
        "session_id",
        F.col("s_start").alias("session_start"),
        F.col("s_end").alias("session_end"),
        "n_events",
        "session_value",
    )


@query(
    "events_asof_join",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, ts, value,
             (event_type = 'click') AS is_click
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    enriched AS (
      SELECT *,
             last_value(CASE WHEN is_click THEN ts END IGNORE NULLS)
               OVER w AS last_click_ts,
             last_value(CASE WHEN is_click THEN event_id END IGNORE NULLS)
               OVER w AS last_click_id
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_click DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           floor(value * 100 + 0.5) / 100 AS purchase_value,
           last_click_ts, last_click_id
    FROM enriched
    WHERE NOT is_click
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # AS-OF join (DuckDB exposes ASOF JOIN; Spark lacks it — SURVEY §2.2 C):
    # for each purchase, the most recent click by the same user at/before
    # its timestamp. Implemented as union + last(ignorenulls) over an
    # event-time ordering — a single shuffle on user_id, linear in events,
    # vs. the naive time-range self-join which is quadratic per user. Clicks
    # sort before purchases at identical timestamps (is_click DESC).
    e = spark.table("events").filter(F.col("event_type").isin("click", "purchase"))
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("event_type") == "click").alias("is_click"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_click").desc(), F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("is_click"), F.col("ts"))
    click_id = F.when(F.col("is_click"), F.col("event_id"))
    enriched = tagged.select(
        "*",
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
    )
    return enriched.filter(~F.col("is_click")).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        # shared IEEE rounding, not F.round/round(): the engines'
        # native round() disagree on >2dp raw doubles (see
        # window_lag_lead's note; adversarial-fixture find, r9)
        _round_ieee(F.col("value"), 2).alias("purchase_value"),
        "last_click_ts",
        "last_click_id",
    )


@query(
    "events_rate_per_user",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           {SQL_DSUM_VALUE} AS total_value,
           min(ts) AS first_seen,
           max(ts) AS last_seen,
           round(count(*) / greatest(date_diff('second', min(ts), max(ts)) / 86400.0, 1.0), 4)
             AS events_per_day
    FROM events
    GROUP BY user_id
    """,
)
def events_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.table("events")
    # date_diff('second', a, b) counts second boundaries crossed =
    # unix_timestamp(b) - unix_timestamp(a) (both truncate sub-seconds).
    span_days_trunc = (
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).cast("double")
        / 86400.0
    )
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        dsum_i(F.col("value"), 2).alias("total_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.round(
            F.count("*") / F.greatest(span_days_trunc, F.lit(1.0)),
            4,
        ).alias("events_per_day"),
    )


#: As-of tolerance (seconds): a prior click older than this is no match.
ASOF_TOLERANCE_S = 600


@query(
    "events_asof_tolerance",
    oracle=f"""
    WITH tagged AS (
      SELECT event_id, user_id, ts,
             (event_type = 'click') AS is_click
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    enriched AS (
      SELECT *,
             last_value(CASE WHEN is_click THEN ts END IGNORE NULLS)
               OVER w AS last_click_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_click DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN last_click_ts IS NOT NULL
                 AND date_diff('second', last_click_ts, ts)
                     <= {ASOF_TOLERANCE_S}
                THEN last_click_ts END AS matched_click_ts,
           (last_click_ts IS NOT NULL
            AND date_diff('second', last_click_ts, ts)
                <= {ASOF_TOLERANCE_S}) AS within_tolerance
    FROM enriched
    WHERE NOT is_click
    ORDER BY purchase_id
    """,
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A LOOKBACK TOLERANCE: each purchase matches its
    user's most recent prior-or-simultaneous click only if that click is
    at most ASOF_TOLERANCE_S old — the feature-store join discipline
    (point-in-time correctness + staleness bound) that plain as-of
    (events_asof_join) lacks. Same single-shuffle shape: one hash
    partition on user_id, one ordered window pass carrying a running
    last(ignorenulls), then a map-side staleness predicate — the
    tolerance adds zero extra shuffles (vs a range-join formulation,
    which would bucket-explode; see join_range_bucketed for when the
    lookup side is a separate table)."""
    e = spark.table("events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", F.desc("is_click"), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_click = F.last(
        F.when(F.col("is_click"), F.col("ts")), ignorenulls=True
    ).over(w)
    fresh = last_click.isNotNull() & (
        F.unix_timestamp("ts") - F.unix_timestamp(last_click)
        <= ASOF_TOLERANCE_S
    )
    return (
        tagged.withColumn("last_click_ts", last_click)
        .withColumn("within_tolerance", fresh)
        .filter(~F.col("is_click"))
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(F.col("within_tolerance"), F.col("last_click_ts")).alias(
                "matched_click_ts"
            ),
            "within_tolerance",
        )
        .orderBy("purchase_id")
    )


SQL_ASOF_ORDERS = f"""
    WITH o AS (
      SELECT o_custkey AS user_id, o_orderdate AS o_ts,
             max(o_orderkey) AS o_key,
             max_by(o_totalprice, o_orderkey) AS o_price
      FROM orders GROUP BY 1, 2
    ),
    p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           o.o_key AS asof_orderkey,
           floor(o.o_price * 100 + 0.5) / 100 AS asof_totalprice,
           o.o_ts AS asof_orderdate,
           CAST(({sql_epoch_s('p.ts')} - {sql_epoch_s('o.o_ts')}) // 86400
                AS BIGINT)
             AS staleness_days
    FROM p ASOF LEFT JOIN o ON p.user_id = o.user_id AND p.ts >= o.o_ts
    ORDER BY purchase_id
    """


@query("events_asof_orders", oracle=SQL_ASOF_ORDERS)
def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-vs-TABLE as-of join (the feature-store point-in-time
    lookup): each purchase event is enriched with its user's most recent
    ORDER — a separate keyed relation — at or before the event
    timestamp, plus the match's staleness in whole days. This is the
    shape DuckDB exposes as ``ASOF JOIN`` (reference users reach it via
    SQL steps, reference src/shelf/tables.py:155-181) and pandas as
    ``merge_asof``; the oracle IS DuckDB's native ASOF JOIN, so the two
    engines verify each other with genuinely different algorithms.

    Spark plan: the UNION-TAG rewrite — collapse the right side to one
    row per (key, ts) with a deterministic tie-break (max orderkey; an
    as-of match must be unique to be well-defined), tag and union both
    relations, and carry the order attributes forward with running
    ``last(ignorenulls)`` over the per-user event-time order (right-side
    rows sort before left-side rows at identical timestamps, so a
    same-instant order counts as "at or before"). ONE hash shuffle on
    the key covers both tables; no range-join explode, no per-row
    probing — the same single-exchange discipline as the same-table
    as-of family above, now across two scale-growing inputs (both sides
    shuffle once on the join key, exactly like a sort-merge join, but
    the merge is a linear window pass). Timestamps hop through
    TIMESTAMP under the pinned-UTC session (NTZ-safe idiom, see
    events_sessionize); staleness uses integer-second arithmetic with
    integer ``div`` — exact at any magnitude."""
    purchases = spark.table("events").filter(
        F.col("event_type") == "purchase"
    )
    return asof_enrich_orders(purchases, spark.table("orders"))


def asof_enrich_orders(purchases: DataFrame, orders: DataFrame) -> DataFrame:
    """Core of ``events_asof_orders`` over any (event_id, user_id, ts)
    purchase relation and a TPC-H-shaped orders relation — factored out
    so the streaming twin (``stream_asof_enrich``) can run the identical
    enrichment per micro-batch against the static orders side (backward
    as-of against a static right side is batch-decomposable: each left
    row's match is independent of every other left row)."""
    o = (
        orders
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ots"),
        )
        .agg(
            F.max("o_orderkey").alias("okey"),
            F.max_by("o_totalprice", "o_orderkey").alias("oprice"),
        )
        .select(
            "user_id",
            F.col("ots").alias("t"),
            F.lit(True).alias("is_order"),
            F.lit(None).cast("long").alias("event_id"),
            "okey",
            "oprice",
            "ots",
        )
    )
    p = (
        purchases
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("t"),
            F.lit(False).alias("is_order"),
            "event_id",
            F.lit(None).cast("long").alias("okey"),
            F.lit(None).cast("double").alias("oprice"),
            F.lit(None).cast("timestamp").alias("ots"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", F.desc("is_order"), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carry = lambda c: F.last(  # noqa: E731
        F.when(F.col("is_order"), F.col(c)), ignorenulls=True
    ).over(w)
    enriched = o.unionByName(p).select(
        "*",
        carry("okey").alias("asof_orderkey"),
        carry("oprice").alias("asof_totalprice"),
        carry("ots").alias("asof_orderdate"),
    )
    # epoch_seconds_floor, not unix_timestamp: Spark truncates the
    # sub-second toward zero, which diverges from the oracle's exact
    # floor-to-seconds on pre-1970 fractional instants (r10 time
    # corpus). The day division floors via pmod. CAUTION before reusing
    # this idiom against a DuckDB `//` oracle: DuckDB `//` TRUNCATES
    # toward zero (-7 // 2 = -3), it does not floor — the two agree
    # ONLY because as-of staleness is guaranteed non-negative here. A
    # possibly-negative difference needs the oracle floored explicitly
    # (the sql_epoch_s pattern), not `//` (r10 ADVICE).
    stale_secs = epoch_seconds_floor(F.col("t")) - epoch_seconds_floor(
        F.col("asof_orderdate")
    )
    stale = (
        (stale_secs - F.pmod(stale_secs, F.lit(86400))) / F.lit(86400)
    ).cast("long")
    return (
        enriched.filter(~F.col("is_order"))
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("t").alias("purchase_ts"),
            "asof_orderkey",
            _round_ieee(F.col("asof_totalprice"), 2).alias("asof_totalprice"),
            "asof_orderdate",
            stale.cast("long").alias("staleness_days"),
        )
        .orderBy("purchase_id")
    )


@query(
    "events_asof_nearest",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, ts,
             (event_type = 'click') AS is_click
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    enriched AS (
      SELECT *,
             last_value(CASE WHEN is_click THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_click DESC, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_click_ts,
             first_value(CASE WHEN is_click THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_click DESC, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_click_ts
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE
             WHEN prev_click_ts IS NULL THEN next_click_ts
             WHEN next_click_ts IS NULL THEN prev_click_ts
             WHEN date_diff('microsecond', prev_click_ts, ts)
                  <= date_diff('microsecond', ts, next_click_ts)
               THEN prev_click_ts
             ELSE next_click_ts
           END AS nearest_click_ts
    FROM enriched
    WHERE NOT is_click
    ORDER BY purchase_id
    """,
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas ``merge_asof
    direction='nearest'`` semantics): each purchase matches its user's
    temporally closest click, looking BOTH ways — backward ties win.
    Backward-only as-of (events_asof_join) is one running ``last``;
    nearest needs the next-click timestamp too. That is NOT phrased as
    ``first(...)`` over a [current, unboundedFollowing] frame — Spark's
    UnboundedFollowingWindowFunctionFrame re-evaluates the aggregate per
    row (the O(partition²) trap join_interval_overlap documents), which
    a power-user key with millions of events would turn into a cliff.
    Instead the next-click is a running ``last`` over the REVERSED
    per-user ordering: same hash exchange, one extra in-partition sort,
    O(n log n) guaranteed at any key skew.

    Scale shape: one hash shuffle on user_id, two in-partition sorts
    (forward + reverse), two running accumulators; no self-join, no
    range explode."""
    e = spark.table("events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
    )
    w_fwd = W.partitionBy("user_id").orderBy(
        "ts", F.desc("is_click"), "event_id"
    )
    # Reversed total order: running-last here sees exactly the rows the
    # forward order places at/after the current row (same-ts clicks sort
    # before purchases forward, hence after them reversed — i.e. they
    # stay with the PRECEDING side, matching the oracle's frame).
    w_rev = W.partitionBy("user_id").orderBy(
        F.desc("ts"), F.asc("is_click"), F.desc("event_id")
    )
    click_ts = F.when(F.col("is_click"), F.col("ts"))
    prev_c = F.last(click_ts, ignorenulls=True).over(
        w_fwd.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    next_c = F.last(click_ts, ignorenulls=True).over(
        w_rev.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # NTZ-safe exact µs: unix_micros rejects TIMESTAMP_NTZ; the cast to
    # TIMESTAMP is value-identity under the pinned-UTC session tz (same
    # idiom as sessionize above), and integer µs keep the tie-break exact.
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    gap_back = us("ts") - us("prev_click_ts")
    gap_fwd = us("next_click_ts") - us("ts")
    nearest = (
        F.when(F.col("prev_click_ts").isNull(), F.col("next_click_ts"))
        .when(F.col("next_click_ts").isNull(), F.col("prev_click_ts"))
        .when(gap_back <= gap_fwd, F.col("prev_click_ts"))
        .otherwise(F.col("next_click_ts"))
    )
    return (
        tagged.withColumn("prev_click_ts", prev_c)
        .withColumn("next_click_ts", next_c)
        .filter(~F.col("is_click"))
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            nearest.alias("nearest_click_ts"),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# OHLC bars
# ---------------------------------------------------------------------------


#: Shared by the batch op and its streaming twin (stream_ohlc_daily):
#: an availableNow pass over the same events must produce the same bars.
SQL_OHLC_DAILY = f"""
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             ts, event_id, value
      FROM events
    ), r AS (
      SELECT day, event_type, value,
             row_number() OVER (PARTITION BY day, event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY day, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           {sql_dsum_i("value", 2)} AS volume
    FROM r GROUP BY day, event_type ORDER BY day, event_type
    """


@query("events_ohlc_daily", oracle=SQL_OHLC_DAILY)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type — the resample-to-bars pass every
    metering / market / telemetry pipeline runs before charting or
    anomaly models: open/close are the chronologically first/last values
    (ties broken by the unique event_id, so both engines pick the same
    row), high/low/volume the extrema and exact 2dp-grid sum.

    Scale shape: ONE hash exchange on the (day, event_type) bar key
    carries everything — both row_numbers are windows inside that
    exchange (second sort is partition-local, no new shuffle), and the
    final groupBy lands on the same partitioning, so Catalyst plans
    HashAggregate without another exchange. Bar-key cardinality grows
    with the calendar × type grid, not with events → partitions stay
    balanced at 100 TB; no min_by/max_by cross-engine tie hazard."""
    e = spark.table("events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    wp = W.partitionBy("day", "event_type")
    r = e.select(
        "day",
        "event_type",
        "value",
        F.row_number().over(wp.orderBy("ts", "event_id")).alias("rn_a"),
        F.row_number()
        .over(wp.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_d"),
    )
    return (
        r.groupBy("day", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            dsum_i(F.col("value"), 2).alias("volume"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# r8: inter-arrival statistics
# ---------------------------------------------------------------------------


@query(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           (floor(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1000000.0
                  * 1000.0 + 0.5) / 1000.0) AS avg_gap_s,
           CAST(min(gap_us) AS DOUBLE) / 1000000.0 AS min_gap_s,
           CAST(max(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival statistics: the gap between a
    user's consecutive events of the same type — the cadence profile
    behind rate-limiter tuning and bot detection ("purchases 10 ms
    apart are not a human"). Gaps are exact integer microseconds (ties
    broken by event_id, so the lag pairing is deterministic on both
    engines); min/max are exact-int picks and the mean is one
    fixed-shape IEEE division rounded to the ms grid.

    Scale shape: ONE hash exchange on (user_id, event_type), one
    in-partition sort, a running lag — then a map-side-combined
    aggregate onto the bounded event-type domain. No self-join; the
    per-user ordering shuffle is the information-theoretic floor for
    any consecutive-pair statistic."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = spark.table("events").select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    avg_s = F.floor(
        # decimal(38,0) accumulator: per-(user,type) gap sums telescope
        # to (last−first), but summed over ~1e9 users × multi-year
        # spans the per-type total passes 9.2e18 µs — Spark's non-ANSI
        # long sum would wrap silently; DuckDB's promotes to HUGEINT.
        F.sum(F.col("gap_us").cast("decimal(38,0)")).cast("double")
        / F.count("gap_us")
        / 1000000.0
        * 1000.0
        + F.lit(0.5)
    ) / 1000.0
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            avg_s.alias("avg_gap_s"),
            (F.min("gap_us").cast("double") / 1000000.0).alias("min_gap_s"),
            (F.max("gap_us").cast("double") / 1000000.0).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# r8d: window funnel (time-bounded funnel depth, ClickHouse windowFunnel)
# ---------------------------------------------------------------------------

_WF_STEPS = ("view", "click", "purchase")
_WF_HOURS = 24


@query(
    "events_window_funnel",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type FROM events
    ),
    nc AS (
      SELECT *,
             min(CASE WHEN event_type = '{_WF_STEPS[1]}' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_click
      FROM e
    ),
    np AS (
      SELECT user_id, ts AS click_ts,
             min(CASE WHEN event_type = '{_WF_STEPS[2]}' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase
      FROM e
      QUALIFY event_type = '{_WF_STEPS[1]}'
    ),
    lv AS (
      SELECT v.user_id,
             1
             + CASE WHEN v.next_click <= v.ts + INTERVAL {_WF_HOURS} HOUR
                    THEN 1 ELSE 0 END
             + CASE WHEN v.next_click <= v.ts + INTERVAL {_WF_HOURS} HOUR
                     AND p.next_purchase <= v.ts + INTERVAL {_WF_HOURS} HOUR
                    THEN 1 ELSE 0 END AS lvl
      FROM nc v
      LEFT JOIN np p
        ON p.user_id = v.user_id AND p.click_ts = v.next_click
      WHERE v.event_type = '{_WF_STEPS[0]}'
    ),
    best AS (SELECT user_id, max(lvl) AS lvl FROM lv GROUP BY user_id)
    SELECT u.user_id,
           CAST(coalesce(b.lvl, 0) AS BIGINT) AS funnel_level
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN best b ON b.user_id = u.user_id
    ORDER BY u.user_id
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel depth per user (ClickHouse `windowFunnel`
    semantics, {_WF_HOURS}h window): the deepest
    {_WF_STEPS} chain that starts at some view and
    completes within the window — unlike `events_funnel`, which chains
    each user's GLOBAL first events with no time bound, this scores
    every candidate chain start and takes the best, the form
    product-analytics stacks actually ship.

    Chain resolution without self-joins: each event's next-click is a
    strict-suffix min over the user's (ts, event_id)-ordered stream
    (one user-keyed window pass), each click's next-purchase likewise;
    a view then reaches its chain's purchase through ONE user+ts
    equi-join back to the click row (the timestamp IS the join key —
    the as-of rewrite idiom). Timestamps compare as raw instants
    (interval arithmetic, sub-second preserved), exact on both
    engines; levels are integers.

    Scale shape: two sort-within-partition window passes inside one
    user_id exchange + one user+ts equi-join + a user-keyed max —
    the sessionization cost envelope; skewed users split by AQE."""
    e = spark.table("events").select("user_id", "event_id", "ts", "event_type")
    suffix = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    nc = e.withColumn(
        "next_click",
        F.min(F.when(F.col("event_type") == _WF_STEPS[1], F.col("ts"))).over(
            suffix
        ),
    )
    np_ = (
        nc.withColumn(
            "next_purchase",
            F.min(
                F.when(F.col("event_type") == _WF_STEPS[2], F.col("ts"))
            ).over(suffix),
        )
        .filter(F.col("event_type") == _WF_STEPS[1])
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("click_ts"),
            "next_purchase",
        )
    )
    horizon = F.col("ts") + F.expr(f"INTERVAL {_WF_HOURS} HOURS")
    step2 = F.col("next_click") <= horizon
    step3 = step2 & (F.col("next_purchase") <= horizon)
    lv = (
        nc.filter(F.col("event_type") == _WF_STEPS[0])
        .join(
            np_,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("click_ts") == F.col("next_click")),
            "left",
        )
        .select(
            "user_id",
            (
                F.lit(1)
                + F.when(step2, 1).otherwise(0)
                + F.when(step3, 1).otherwise(0)
            ).alias("lvl"),
        )
    )
    best = lv.groupBy("user_id").agg(F.max("lvl").alias("lvl"))
    users = e.select("user_id").distinct()
    return (
        users.join(best, "user_id", "left")
        .select(
            "user_id",
            F.coalesce(F.col("lvl"), F.lit(0)).cast("long").alias("funnel_level"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# r8d: journey path n-grams (top trigram paths)
# ---------------------------------------------------------------------------

_PATH_TOP = 15


@query(
    "events_path_trigrams",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    tri AS (
      SELECT a.event_type AS s1, b.event_type AS s2, c.event_type AS s3
      FROM seq a
      JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      JOIN seq c ON c.user_id = a.user_id AND c.rn = a.rn + 2
    )
    SELECT s1 || '>' || s2 || '>' || s3 AS path,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(*) FILTER (WHERE s3 = 'purchase') AS BIGINT)
             AS n_converting
    FROM tri GROUP BY 1
    ORDER BY n_occurrences DESC, path NULLS LAST LIMIT {_PATH_TOP}
    """,
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PATH_TOP} user-journey trigrams with their conversion-ending
    counts — the path-mining artifact product analytics reads next to
    the first-order transition matrix (`events_transition_matrix` sees
    only bigram structure; trigrams expose the second-order patterns a
    Markov-1 model washes out, e.g. view>click>purchase vs
    error>click>purchase).

    Implementation is window-only: lead(1) and lead(2) inside ONE
    user-keyed exchange form the trigrams map-side — no self-join (the
    oracle's triple self-join is the naive formulation it value-checks
    against). Counting is a partial+final hash agg on the
    K³-bounded path domain; top-k is TakeOrderedAndProject."""
    seq_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Window-edge detection rides lead(event_id) — NEVER null for a row
    # that exists — not lead(event_type): an UNTYPED third event (null
    # event_type, r10 nulls corpus) is still a trigram position (the
    # oracle's rn-join keeps it; its path groups under NULL on both
    # engines), while s3 IS NULL would conflate it with "sequence ended".
    tri = (
        spark.table("events")
        .select(
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(seq_w).alias("s2"),
            F.lead("event_type", 2).over(seq_w).alias("s3"),
            F.lead("event_id", 2).over(seq_w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .drop("e3")
    )
    return (
        tri.groupBy(
            # concat (not concat_ws): null-in → null-out, matching the
            # oracle's `||`; concat_ws would silently SKIP a null stage
            # and diverge if event_type ever carried nulls
            F.concat(
                F.col("s1"), F.lit(">"), F.col("s2"), F.lit(">"), F.col("s3")
            ).alias("path")
        )
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count(F.when(F.col("s3") == "purchase", 1))
            .cast("long")
            .alias("n_converting"),
        )
        # asc_nulls_last + oracle NULLS LAST: the engines' default null
        # sort orders DIFFER (Spark first, DuckDB last) — the all-null
        # path group must not flip top-k membership on a count tie.
        .orderBy(F.desc("n_occurrences"), F.asc_nulls_last("path"))
        .limit(_PATH_TOP)
    )


@query(
    "events_bounce_rate",
    oracle=f"""
    WITH sessions AS (
      SELECT CAST(date_trunc('day', s_start) AS DATE) AS day, n_events
      FROM ({_sql_sessions()})
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
           (floor((CAST(count(*) FILTER (WHERE n_events = 1) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
             AS bounce_rate
    FROM sessions GROUP BY day ORDER BY day
    """,
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min-gap sessionization,
    identical to events_sessionize) containing exactly one event,
    attributed to the day the session STARTED — the engagement-health
    headline every product dashboard leads with.

    Scale shape: same single user_id exchange as events_sessionize
    (lag → flag → running sum are all sort-within-partition), then the
    session rollup and a calendar-bounded day rollup. Counts are exact
    integers; the rate is one IEEE division per day row."""
    sessions = _sessions(spark).select(
        F.to_date(F.date_trunc("day", "s_start")).alias("day"), "n_events"
    )
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return (
        sessions.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            bounce.cast("long").alias("n_bounces"),
            (
                F.floor(
                    (bounce.cast("double") / F.count("*").cast("double"))
                    * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH firstv AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), firstp AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN firstv f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= f.v_ts
      GROUP BY e.user_id
    ), lat AS (
      SELECT CAST(date_diff('second', f.v_ts, p.p_ts) AS BIGINT) AS sec
      FROM firstv f JOIN firstp p ON f.user_id = p.user_id
    ), dom AS (
      SELECT sec, CAST(count(*) AS BIGINT) AS cnt FROM lat GROUP BY sec
    ), cum AS (
      SELECT sec, cnt,
             sum(cnt) OVER (ORDER BY sec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM dom
    ), n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dom)
    SELECT (SELECT n FROM n) AS n_converters,
           (SELECT min(sec) FROM cum WHERE c >= ((SELECT n FROM n) + 1) // 2)
             AS p50_seconds,
           (SELECT min(sec) FROM cum
            WHERE c >= ((SELECT n FROM n) * 9 + 9) // 10) AS p90_seconds,
           (SELECT min(sec) FROM cum) IS NOT NULL AS has_data
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, the latency from FIRST view to FIRST
    subsequent purchase, summarized as exact p50/p90 — the funnel-speed
    number next to events_funnel's conversion RATE (how many convert vs
    how fast they do).

    Scale shape: two keyed min-aggregates and one user-keyed join build
    the latencies (facts touched twice, shuffled on user_id both
    times); the quantiles are EXACT on the compressed latency-seconds
    domain with a distributed prefix — the ⌈q·n⌉ cut is integer
    cross-multiplied, never a float percentile."""
    from .prefix import attach_prefix_sums

    ev = spark.table("events")
    firstv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    firstp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firstv, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"), F.min("v_ts").alias("v_ts"))
    )
    lat = firstp.select(
        (
            F.col("p_ts").cast("timestamp").cast("long")
            - F.col("v_ts").cast("timestamp").cast("long")
        ).alias("sec")
    )
    dom = lat.groupBy("sec").agg(F.count("*").cast("long").alias("cnt"))
    cum = attach_prefix_sums(dom, ["sec"], ["cnt"])
    nn = dom.agg(F.sum("cnt").cast("long").alias("n"))
    j = cum.crossJoin(F.broadcast(nn))
    p50 = j.filter(F.col("cnt_upto") >= F.expr("(n + 1) div 2")).agg(
        F.min("sec").alias("p50_seconds")
    )
    p90 = j.filter(F.col("cnt_upto") >= F.expr("(n * 9 + 9) div 10")).agg(
        F.min("sec").alias("p90_seconds")
    )
    return (
        nn.select(F.col("n").alias("n_converters"))
        .crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p90))
        .select(
            "n_converters",
            "p50_seconds",
            "p90_seconds",
            F.col("p50_seconds").isNotNull().alias("has_data"),
        )
    )


@query(
    "events_concurrent_sessions",
    oracle=f"""
    WITH sessions AS ({_sql_sessions()}),
    bounds AS (
      SELECT ts, k, CAST(sum(d) AS BIGINT) AS delta
      FROM (
        SELECT s_start AS ts, 0 AS k, 1 AS d FROM sessions
        UNION ALL
        SELECT s_end AS ts, 1 AS k, -1 AS d FROM sessions
      ) GROUP BY ts, k
    ), running AS (
      SELECT ts, k, delta,
             CAST(sum(delta) OVER (ORDER BY ts, k
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS conc
      FROM bounds
    )
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(max(conc) AS BIGINT) AS peak_concurrent,
           CAST(sum(CASE WHEN k = 0 THEN delta ELSE 0 END) AS BIGINT)
             AS n_session_starts
    FROM running GROUP BY 1
    """,
)
def events_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning sweep
    line. Sessionize (events_sessionize's 30-min gap), emit +1/-1
    boundary deltas at session start/end, take a GLOBAL running sum over
    (ts, kind) and the per-day max. Tie semantics: starts (k=0) order
    before ends (k=1) at the same timestamp, so a 1-event session peaks
    at 1 and end-meets-start counts as overlapping (inclusive ends).
    Peaks are observed AT boundary events — a day whose true peak is
    pure carry-over from the previous day reports its boundary-time max
    (documented, mirrored exactly by the oracle).

    Scale shape: sessionization is the standard one-shuffle
    gaps-and-islands; boundaries collapse by (ts, kind) onto a
    ~2·sessions-sized relation, and the global running concurrency uses
    the DISTRIBUTED prefix-sum helper (range-repartition + per-partition
    offsets) — no single-task window anywhere. The per-day max is one
    more bounded-domain aggregate."""
    from .prefix import attach_prefix_sums

    sessions = _sessions(spark)
    bounds = (
        sessions.select(
            F.col("s_start").alias("ts"), F.lit(0).alias("k"), F.lit(1).alias("d")
        )
        .unionAll(
            sessions.select(
                F.col("s_end").alias("ts"), F.lit(1).alias("k"), F.lit(-1).alias("d")
            )
        )
        .groupBy("ts", "k")
        .agg(F.sum("d").cast("long").alias("delta"))
    )
    running = attach_prefix_sums(bounds, ["ts", "k"], ["delta"])
    return (
        running.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.max("delta_upto").cast("long").alias("peak_concurrent"),
            F.sum(F.when(F.col("k") == 0, F.col("delta")).otherwise(0))
            .cast("long")
            .alias("n_session_starts"),
        )
    )
