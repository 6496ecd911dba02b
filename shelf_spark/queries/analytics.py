"""Event-analytics operator shapes: funnel conversion, retention cohorts,
and wide→long reshaping (unpivot).

These are the product-analytics queries an events warehouse runs daily;
each is a fixed number of user_id-keyed aggregations, so the scale story
is the same as sessionization: one hash shuffle on the user key per
stage, map-side combined, skew split by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .num import (_round_ieee, _sql_round_ieee, epoch_seconds_floor,
                  sane_ts, sql_sane_ts)
from .pin import pin
from .registry import query

# ---------------------------------------------------------------------------
# funnel conversion
# ---------------------------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")


@query(
    "events_funnel",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s1.t_view
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s2.t_click
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT '1_{_FUNNEL[0]}' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
      UNION ALL
      SELECT '2_{_FUNNEL[1]}', CAST(count(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT '3_{_FUNNEL[2]}', CAST(count(*) AS BIGINT) FROM s3
    ) ORDER BY stage
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: users who viewed, then clicked strictly
    after their first view, then purchased strictly after that first
    qualifying click. Each stage is one user_id-keyed aggregate over the
    events already filtered to that type, joined back on user_id — the
    event log is scanned per stage but never self-joined row-to-row.
    """
    e = spark.table("events")
    s1 = (
        e.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        e.filter(F.col("event_type") == _FUNNEL[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        e.filter(F.col("event_type") == _FUNNEL[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    rows = [
        s1.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(f"1_{_FUNNEL[0]}").alias("stage"), "n_users"
        ),
        s2.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(f"2_{_FUNNEL[1]}").alias("stage"), "n_users"
        ),
        s3.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(f"3_{_FUNNEL[2]}").alias("stage"), "n_users"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("stage")


# ---------------------------------------------------------------------------
# retention cohorts
# ---------------------------------------------------------------------------


def _retention(spark: SparkSession) -> DataFrame:
    """(user_id, cohort_week, weeks_later): each user's cohort week (the
    week of their first event) against every week they were active,
    ``weeks_later`` whole weeks after it."""
    e = spark.table("events")
    firsts = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("active_week")
    ).distinct()
    weeks_later = F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    return activity.join(firsts, "user_id").select(
        "user_id", "cohort_week", weeks_later.cast("long").alias("weeks_later")
    )


#: Twin of :func:`_retention`.
_SQL_RETENTION = """
      WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
      ),
      activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
      )
      SELECT user_id, cohort_week,
             CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT)
               AS weeks_later
      FROM activity JOIN firsts USING (user_id)"""


@query(
    "events_retention_cohorts",
    oracle=f"""
    SELECT cohort_week, weeks_later,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM ({_SQL_RETENTION})
    GROUP BY cohort_week, weeks_later
    ORDER BY cohort_week, weeks_later
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the week of their first
    event, counted as active for each later week they appear in. Two
    user_id-keyed aggregates plus one join — the activity relation is
    (user, week)-distinct, so its size is users × active-weeks, far below
    the raw event count. (Both engines truncate weeks to Monday, and the
    day-difference of two Monday-truncated weeks is an exact multiple of
    7, so the integer division is lossless.)
    """
    return (
        _retention(spark)
        .groupBy("cohort_week", "weeks_later")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .orderBy("cohort_week", "weeks_later")
    )


# ---------------------------------------------------------------------------
# wide → long reshape (unpivot / stack)
# ---------------------------------------------------------------------------


@query(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
             CAST(l_quantity AS DOUBLE) AS val
      FROM lineitem WHERE l_linenumber = 1
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice',
             CAST(l_extendedprice AS DOUBLE)
      FROM lineitem WHERE l_linenumber = 1
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', CAST(l_discount AS DOUBLE)
      FROM lineitem WHERE l_linenumber = 1
    )
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of agg_pivot): three measure columns
    melt into (measure, val) rows via the native unpivot operator — one
    map-only projection that multiplies rows by the measure count, no
    shuffle at all.
    """
    li = spark.table("lineitem").filter(F.col("l_linenumber") == 1)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("quantity"),
            F.col("l_extendedprice").cast("double").alias("extendedprice"),
            F.col("l_discount").cast("double").alias("discount"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "extendedprice", "discount"],
            "measure",
            "raw_val",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            F.round("raw_val", 2).alias("val"),
        )
    )


# ---------------------------------------------------------------------------
# SCD type-2 merge (warehouse dimension versioning)
# ---------------------------------------------------------------------------


@query(
    "scd2_merge_customers",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer
    ),
    updates AS (
      SELECT c_custkey, round(c_acctbal + 100, 2) AS new_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey, acctbal,
           DATE '2024-01-01' AS valid_from,
           CAST(NULL AS DATE) AS valid_to,
           true AS is_current
    FROM dim WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
    UNION ALL
    SELECT d.c_custkey, d.acctbal, DATE '2024-01-01', DATE '2024-06-01', false
    FROM dim d JOIN updates u USING (c_custkey)
    UNION ALL
    SELECT c_custkey, new_acctbal, DATE '2024-06-01', CAST(NULL AS DATE), true
    FROM updates
    """,
)
def scd2_merge_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge, expressed as pure DataFrame
    ops (no MERGE INTO — that needs a transactional table format; this is
    the same row-level math Delta's MERGE performs): updated keys close their
    current row (valid_to set, is_current false) and append a new current
    row; untouched keys pass through. The update set here is
    deterministic (custkey % 10) so the oracle can replay it.

    Scale shape: one broadcast-able join of dim × updates (updates ≪ dim
    in any real feed) plus an anti-join — zero fact-table involvement.
    """
    return _scd2_customer_dim(spark, "2024-06-01")


def _scd2_customer_dim(spark: SparkSession, eff_date: str) -> DataFrame:
    """SCD2 customer dimension with the update batch effective at
    ``eff_date`` — the core of ``scd2_merge_customers``, factored so
    ``join_scd2_pointintime`` can build a dim whose validity boundary
    falls INSIDE the events' time span."""
    eff = F.lit(eff_date).cast("date")
    start = F.lit("2024-01-01").cast("date")
    dim = spark.table("customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    updates = (
        spark.table("customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey", F.round(F.col("c_acctbal") + 100, 2).alias("new_acctbal")
        )
    )
    untouched = dim.join(updates, "c_custkey", "left_anti").select(
        "c_custkey",
        "acctbal",
        start.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = dim.join(F.broadcast(updates), "c_custkey").select(
        "c_custkey",
        "acctbal",
        start.alias("valid_from"),
        eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = updates.select(
        "c_custkey",
        F.col("new_acctbal").alias("acctbal"),
        eff.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return untouched.unionAll(closed).unionAll(opened)


# ---------------------------------------------------------------------------
# event-type transition matrix
# ---------------------------------------------------------------------------


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM pairs
    ORDER BY from_type, to_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user stream:
    lead() within each user's (ts, event_id)-ordered sequence, pair
    counts, row-normalized probabilities. One user-keyed shuffle for the
    window; the pairs relation is |types|² — trivially small — so the
    normalizing window runs on the aggregate, not the events.
    """
    from pyspark.sql.window import Window as W

    e = spark.table("events")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    pairs = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(W.partitionBy("from_type")), 6
        ).alias("p"),
    ).orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# histogram binning
# ---------------------------------------------------------------------------

_BIN_WIDTH = 50_000


@query(
    "agg_histogram",
    oracle=f"""
    SELECT bin, CAST(bin * {_BIN_WIDTH} AS BIGINT) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM (SELECT CAST(floor(o_totalprice / {_BIN_WIDTH}) AS BIGINT) AS bin FROM orders)
    GROUP BY bin
    ORDER BY bin
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bin assignment is a map-side
    expression, so the whole histogram is one partial+final aggregate on
    ~|range/width| keys — the cheapest possible distribution profile (the
    pattern behind every data-profiling dashboard)."""
    o = spark.table("orders")
    bin_col = F.floor(F.col("o_totalprice") / _BIN_WIDTH).cast("long")
    return (
        o.groupBy(bin_col.alias("bin"))
        .agg(F.count("*").cast("long").alias("n"))
        .select("bin", (F.col("bin") * _BIN_WIDTH).cast("long").alias("bin_lo"), "n")
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# entity resolution: blocked fuzzy name matching
# ---------------------------------------------------------------------------


@query(
    "er_fuzzy_name_match",
    oracle="""
    WITH names AS (SELECT s_suppkey, s_name FROM supplier),
    pairs AS (
      SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
             CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
      FROM names a JOIN names b
        ON substr(a.s_name, 1, length(a.s_name) - 1)
           = substr(b.s_name, 1, length(b.s_name) - 1)
       AND a.s_suppkey < b.s_suppkey
    )
    SELECT key_a, key_b, dist FROM pairs WHERE dist <= 3
    ORDER BY key_a, key_b
    """,
)
def er_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy matching: candidate pairs come
    from a cheap blocking key (name minus its final character — ~10-name
    blocks on this data), then edit distance (JVM levenshtein) filters
    within blocks — the standard two-tier ER shape where pair cost is
    Σ|block|², never |corpus|², at the usual recall cost (cross-block
    near-matches are unseen). At real scale the blocking key is the
    tuning knob (phonetic codes, q-gram buckets); the join/verify shape
    stays identical."""
    s = spark.table("supplier").select("s_suppkey", "s_name")
    block = lambda c: F.expr(f"substring({c}, 1, length({c}) - 1)")  # noqa: E731
    a = s.select(F.col("s_suppkey").alias("key_a"), F.col("s_name").alias("name_a"))
    b = s.select(F.col("s_suppkey").alias("key_b"), F.col("s_name").alias("name_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long")
    return (
        a.join(
            b,
            (block("name_a") == block("name_b")) & (F.col("key_a") < F.col("key_b")),
        )
        .select("key_a", "key_b", dist.alias("dist"))
        .filter(F.col("dist") <= 3)
        .orderBy("key_a", "key_b")
    )


# ---------------------------------------------------------------------------
# time-series gap filling (calendar resampling)
# ---------------------------------------------------------------------------


@query(
    "events_daily_gapfill",
    oracle="""
    WITH span AS (
      SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
    ),
    calendar AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
      FROM events GROUP BY day, event_type
    )
    SELECT c.day, t.event_type,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
           (a.n IS NULL) AS is_gap
    FROM calendar c CROSS JOIN types t
    LEFT JOIN actual a ON a.day = c.day AND a.event_type = t.event_type
    ORDER BY c.day, t.event_type
    """,
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-filling (resample-to-daily): build the full day ×
    event-type grid over the observed span and left-join actual counts,
    zero-filling missing cells — the dense series every downstream
    charting/forecasting step expects.

    Scale shape: the grid is |days| × |types| (tiny — it grows with time,
    not with data) built from one min/max scalar agg; the only fact-sized
    work is the daily count agg. Grid and counts join broadcast-side.
    """
    e = spark.table("events")
    span = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    calendar = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    types = e.select("event_type").distinct()
    actual = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    return (
        calendar.crossJoin(types)
        .join(F.broadcast(actual), ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# CDC changelog apply (collapse a change stream to final state)
# ---------------------------------------------------------------------------

#: DuckDB twin of :func:`cdc_seq_key` — keep the two byte-identical.
SQL_CDC_SEQ_KEY = (
    "strftime(ts, '%Y-%m-%d %H:%M:%S.%f')"
    " || lpad(CAST(event_id AS VARCHAR), 20, '0')"
)


def cdc_seq_key():
    """Unique, fixed-width, lexicographically-chronological CDC sequence
    key: ISO-µs timestamp + zero-padded event_id tie-break. The id pad is
    20 digits — one more than int64's 19-digit max, because ``lpad``
    TRUNCATES an over-long input on both engines, which would silently
    collapse distinct ids at ~10^12 rows (the 100 TB design point).
    Shared by the batch collapse, the streaming foreachBatch merge, and
    the convergence test — the three must stay byte-identical."""
    return F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )


@query(
    "cdc_apply_changes",
    oracle="""
    WITH seq AS (
      SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                || lpad(CAST(event_id AS VARCHAR), 20, '0') AS sk
      FROM events
    ), collapsed AS (
      -- struct_pack: DuckDB's bare arg_max(col, sk) SKIPS rows whose
      -- col is NULL (returning an older non-null value), while the CDC
      -- contract is "the last row-image, null fields preserved" —
      -- wrapping in a struct (never NULL as a whole) pins last-row
      -- semantics, matching Spark's max_by (r10 nulls-corpus find).
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_changes,
             (arg_max(struct_pack(t := event_type, v := value, s := ts),
                      sk)).t AS last_type,
             (arg_max(struct_pack(t := event_type, v := value, s := ts),
                      sk)).v AS last_value,
             (arg_max(struct_pack(t := event_type, v := value, s := ts),
                      sk)).s AS last_ts
      FROM seq GROUP BY user_id
    )
    SELECT user_id, n_changes, last_type, last_value, last_ts
    FROM collapsed WHERE last_type IS DISTINCT FROM 'error'
    ORDER BY user_id
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse a CDC changelog to the post-apply state: the event stream is
    read as a change feed keyed by ``user_id`` (sequence = ``(ts,
    event_id)``; an ``error`` event is the tombstone/delete op), and the
    surviving final row per key is the merged table — the MERGE-INTO /
    ``APPLY CHANGES`` semantics a lakehouse ingest runs per micro-batch.

    Scale shape: one ``max_by``-style aggregate with map-side combine —
    per-key state is a single (seq, row) pair, so the shuffle carries one
    candidate row per key per map partition, NOT the full changelog (the
    window-sort formulation would shuffle and sort every change). Deletes
    filter post-aggregate. Determinism: the sequence key is unique
    (event_id tie-break), so ``max_by`` picks one exact row; it is a
    fixed-width string (ISO-µs timestamp + zero-padded id) because that is
    the one ordering-key encoding both engines' arg-max accept (see
    :func:`cdc_seq_key` for the width contract)."""
    e = spark.table("events")
    seq = cdc_seq_key()
    collapsed = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_changes"),
        F.max_by("event_type", seq).alias("last_type"),
        F.max_by("value", seq).alias("last_value"),
        F.max_by("ts", seq).alias("last_ts"),
    )
    # Null-safe tombstone test: an untyped last change is NOT a delete
    # (plain <> would silently drop the key on both engines).
    return collapsed.filter(
        ~F.col("last_type").eqNullSafe(F.lit("error"))
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# marketing attribution (last touch before conversion)
# ---------------------------------------------------------------------------


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT coalesce(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           (CAST(sum(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(18,0)))
                 AS DOUBLE) / 100.0) AS attributed_value
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to the
    user's most recent preceding touch event (view/click), or ``direct``
    when none precedes it; revenue rolls up per channel.

    Scale shape: one window pass over the per-user event sequence (hash
    shuffle on user_id + in-partition sort — the same shape as
    sessionization) carrying a single running ``last(ignorenulls)`` value,
    then a tiny channel-sized aggregate. The attributed sum rides the
    integer grid (see num.py) for cross-engine exactness."""
    from pyspark.sql import Window

    from .num import dsum_i

    e = spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type").isin("view", "click"), F.col("event_type"))
    touched = e.withColumn("channel", F.last(touch, ignorenulls=True).over(w))
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            dsum_i(F.col("value")).alias("attributed_value"),
        )
        .orderBy("channel")
    )


@query(
    "events_conversion_paths",
    oracle=f"""
    WITH seg AS (
      SELECT event_id, user_id, ts, event_type,
             {SQL_CDC_SEQ_KEY} AS sk,
             coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM events
    ),
    touches AS (
      SELECT user_id, s,
             count(*) AS n_touches,
             arg_min(event_type, sk) AS first_channel,
             arg_max(event_type, sk) AS last_channel,
             min(ts) AS first_touch_ts
      FROM seg WHERE event_type IN ('view', 'click')
      GROUP BY 1, 2
    ),
    purch AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, s
      FROM seg WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           CAST(coalesce(t.n_touches, 0) AS BIGINT) AS n_touches,
           t.first_channel, t.last_channel,
           CAST(CAST(floor(epoch(p.purchase_ts)) AS BIGINT)
                - CAST(floor(epoch(t.first_touch_ts)) AS BIGINT)
                AS BIGINT) AS secs_to_convert
    FROM purch p LEFT JOIN touches t USING (user_id, s)
    ORDER BY purchase_id
    """,
)
def events_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-path summary (the multi-touch attribution input):
    each purchase is paired with the touch events (view/click) since the
    user's PREVIOUS purchase — first/last channel, touch count, and
    seconds from first touch to conversion. Unlike fractional credit
    schemes (U-shaped 40/20/40, linear 1/n), every output here is an
    integer/string — fully exact across engines, and any credit scheme
    is a trivial map over these rows downstream.

    Scale shape: segment ids come from ONE running count over the
    per-user event order (purchases strictly before the row — so a
    purchase closes its own segment); touches aggregate per
    (user, segment) with min_by/max_by on the fixed-width chronological
    sequence key (cdc_seq_key — no second sort), and the purchase join
    shares the (user, segment) hash partitioning. Two key exchanges
    total, each carrying the events once; no self-join over touch
    windows."""
    from pyspark.sql import Window

    e = spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(w),
        F.lit(0),
    )
    seg = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        cdc_seq_key().alias("sk"),
        s.alias("s"),
    )
    touches = (
        seg.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "s")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.min_by("event_type", "sk").alias("first_channel"),
            F.max_by("event_type", "sk").alias("last_channel"),
            F.min("ts").alias("first_touch_ts"),
        )
    )
    purch = seg.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "s",
    )
    return (
        purch.join(touches, ["user_id", "s"], "left")
        .select(
            "purchase_id",
            "user_id",
            F.coalesce("n_touches", F.lit(0)).cast("long").alias("n_touches"),
            "first_channel",
            "last_channel",
            # epoch_seconds_floor, not unix_timestamp: Spark truncates
            # sub-seconds toward zero vs the oracle's floor(epoch())
            # — divergent on pre-1970 fractional instants (r10 time
            # corpus).
            (
                epoch_seconds_floor(F.col("purchase_ts"))
                - epoch_seconds_floor(F.col("first_touch_ts"))
            )
            .cast("long")
            .alias("secs_to_convert"),
        )
        .orderBy("purchase_id")
    )


@query(
    "join_scd2_pointintime",
    oracle="""
    WITH dim0 AS (
      SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer
    ),
    updates AS (
      SELECT c_custkey, round(c_acctbal + 100, 2) AS new_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    dim AS (
      SELECT c_custkey, acctbal,
             DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      FROM dim0 WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
      UNION ALL
      SELECT d.c_custkey, d.acctbal, DATE '2024-01-01', DATE '2024-01-15'
      FROM dim0 d JOIN updates u USING (c_custkey)
      UNION ALL
      SELECT c_custkey, new_acctbal, DATE '2024-01-15', CAST(NULL AS DATE)
      FROM updates
    )
    SELECT e.event_id, e.user_id,
           d.acctbal AS acctbal_at_event,
           d.valid_from AS version_valid_from
    FROM events e JOIN dim d
      ON e.user_id = d.c_custkey
     AND e.ts >= CAST(d.valid_from AS TIMESTAMP)
     AND (d.valid_to IS NULL OR e.ts < CAST(d.valid_to AS TIMESTAMP))
    ORDER BY e.event_id
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join of facts against an SCD2 dimension: each event
    picks the customer-dimension VERSION whose validity interval
    contains the event timestamp — the warehouse-side point-in-time
    correctness discipline (no future leakage, no stale overwrite) that
    complements the as-of family: there the right side is an event
    timeline, here it is materialized validity intervals. The dim's
    update batch is effective mid-span (2024-01-15), so events genuinely
    split across versions and the check is non-vacuous.

    Scale shape: an EQUI-join on the dimension key with the validity
    predicate as a post-join filter — at most #versions-per-key
    (typically single digits) candidate rows per fact, so the join is
    output-bounded and hash-partitions on the key like any fact-dim
    join; never a range-join explode (the interval side is keyed, unlike
    join_range_bucketed's keyless promo windows). SCD2 versions come
    from the factored scd2_merge_customers math."""
    dim = _scd2_customer_dim(spark, "2024-01-15").select(
        "c_custkey", "acctbal", "valid_from", "valid_to"
    )
    e = spark.table("events")
    valid = (F.col("ts") >= F.col("valid_from").cast("timestamp")) & (
        F.col("valid_to").isNull()
        | (F.col("ts") < F.col("valid_to").cast("timestamp"))
    )
    return (
        e.join(dim, e.user_id == dim.c_custkey)
        .filter(valid)
        .select(
            "event_id",
            "user_id",
            F.col("acctbal").alias("acctbal_at_event"),
            F.col("valid_from").alias("version_valid_from"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution (power iteration)
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 3

#: One power-iteration product term: π(i)·p(i→j), with p an exact-int
#: ratio evaluated in a fixed op order, rounded onto the 12dp grid
#: BEFORE the cross-state sum (which runs in DECIMAL — exact and
#: order-independent, the house float discipline).
_SQL_MARKOV_TERM = (
    "CAST(round(pi * (CAST(n AS DOUBLE) / CAST(nf AS DOUBLE)), 12)"
    " AS DECIMAL(24,12))"
)


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    ), m AS (
      SELECT from_type, to_type, n, sum(n) OVER (PARTITION BY from_type) AS nf
      FROM pairs
    ), states AS (
      SELECT DISTINCT from_type AS state FROM pairs
    ), n_states AS (SELECT count(*) AS k FROM states),
    pi0 AS (
      SELECT state, round(1.0 / k, 12) AS pi FROM states CROSS JOIN n_states
    ),
    pi1 AS (
      SELECT to_type AS state, CAST(sum({_SQL_MARKOV_TERM}) AS DOUBLE) AS pi
      FROM m JOIN pi0 ON pi0.state = m.from_type GROUP BY to_type
    ),
    pi2 AS (
      SELECT to_type AS state, CAST(sum({_SQL_MARKOV_TERM}) AS DOUBLE) AS pi
      FROM m JOIN pi1 ON pi1.state = m.from_type GROUP BY to_type
    ),
    pi3 AS (
      SELECT to_type AS state, CAST(sum({_SQL_MARKOV_TERM}) AS DOUBLE) AS pi
      FROM m JOIN pi2 ON pi2.state = m.from_type GROUP BY to_type
    )
    SELECT state AS event_type, round(pi, 9) AS pi
    FROM pi3 ORDER BY event_type
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain:
    {_MARKOV_ITERS} synchronous power iterations of π·P from a uniform
    start over the event-type transition matrix — the steady-state
    page/state importance the transition matrix alone doesn't show
    (same algorithmic family as PageRank, over the bounded state
    catalog). Each iteration's products round onto the 12dp grid before
    a DECIMAL sum, so the trajectory is bit-identical across engines.

    Scale shape: the chain collapse (lead + pair counts) is the
    transition-matrix single-shuffle pass over the facts; everything
    after runs on the K²-sized matrix relation (K = type catalog,
    bounded) with broadcast π each round — iterations never touch the
    fact table again. For an unbounded state space this becomes
    PageRank's checkpointed-loop shape (graph.py)."""
    seq_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        spark.table("events")
        .select(
            "event_type",
            F.lead("event_type").over(seq_w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    m = pairs.withColumn(
        "nf", F.sum("n").over(W.partitionBy("from_type"))
    # K²-sized; the states distinct + driver count + iterations all read it
    # (r15: wall 2.2-4.8 s lazy vs 1.3-1.5 s)
    ).transform(pin, "fanout")
    states = m.select(F.col("from_type").alias("state")).distinct()
    k = states.count()  # bounded type catalog (driver-side by design)
    if k == 0:
        # no observed transitions (e.g. every user has a single event):
        # the chain is undefined — zero rows, matching the oracle's
        # empty join, instead of a 1.0/0 ANSI abort (r9 sparse find).
        return spark.createDataFrame([], "event_type string, pi double")
    pi = states.select(
        "state", F.round(F.lit(1.0) / F.lit(k), 12).alias("pi")
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            m.join(F.broadcast(pi), m.from_type == pi.state)
            .groupBy("to_type")
            .agg(F.sum(F.expr(_SQL_MARKOV_TERM)).cast("double").alias("pi"))
            .select(F.col("to_type").alias("state"), "pi")
        )
    return pi.select(
        F.col("state").alias("event_type"), F.round("pi", 9).alias("pi")
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

_RFM_ANCHOR = "2024-04-01"  # fixed as-of date just past the event horizon
_RFM_K = 5


def _sql_rfm_bounds(metric: str) -> str:
    """Quintile boundaries as the exact discrete ranks ceil(i·n/K) over
    the compressed value domain (integer arithmetic — the
    ml_quantile_bins formulation)."""
    return ", ".join(
        f"min(CASE WHEN c >= (({i} * n + {_RFM_K - 1}) // {_RFM_K})"
        f" THEN {metric} END) AS {metric}_b{i}"
        for i in range(1, _RFM_K)
    )


def _sql_rfm_score(metric: str) -> str:
    return "CAST(1 " + "".join(
        f" + (CASE WHEN {metric} > {metric}_b{i} THEN 1 ELSE 0 END)"
        for i in range(1, _RFM_K)
    ) + " AS BIGINT)"


@query(
    "events_rfm_segments",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             date_diff('day', CAST(max(ts) AS DATE), DATE '{_RFM_ANCHOR}')
               AS r,
             count(*) AS f,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS m
      FROM events GROUP BY user_id
    ), n AS (SELECT count(*) AS n FROM u),
    rb AS (
      SELECT {_sql_rfm_bounds('r')} FROM (
        SELECT r, sum(count(*)) OVER (ORDER BY r) AS c FROM u GROUP BY r
      ) CROSS JOIN n
    ),
    fb AS (
      SELECT {_sql_rfm_bounds('f')} FROM (
        SELECT f, sum(count(*)) OVER (ORDER BY f) AS c FROM u GROUP BY f
      ) CROSS JOIN n
    ),
    mb AS (
      SELECT {_sql_rfm_bounds('m')} FROM (
        SELECT m, sum(count(*)) OVER (ORDER BY m) AS c FROM u GROUP BY m
      ) CROSS JOIN n
    ),
    scored AS (
      SELECT {_sql_rfm_score('r')} AS r_score,
             {_sql_rfm_score('f')} AS f_score,
             {_sql_rfm_score('m')} AS m_score
      FROM u CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb
    )
    SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_users
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, recency (days to the {_RFM_ANCHOR}
    as-of), frequency, and 2dp-grid monetary sum; each dimension scored
    into exact discrete quintiles (score = 1 + boundaries strictly
    below, ascending-value convention) and users counted per
    (R, F, M) cell — the 125-cell customer-value grid a lifecycle
    campaign targets. Boundaries are percentile-disc values from integer
    ranks, so every score and count is engine-exact.

    Scale shape: ONE user-keyed shuffle builds the metrics relation;
    each quintile pass runs over that metric's COMPRESSED value domain
    (distributed prefix counts via prefix.attach_prefix_sums — recency
    and frequency domains are day-/count-grid bounded, the monetary
    domain grows with users and range-partitions), and the three 4-value
    boundary rows broadcast back for a map-only score; the final cell
    aggregate is 125-row bounded. Users never sort globally — the
    ntile-over-everything formulation this replaces would single-task
    the user table."""
    from .prefix import attach_prefix_sums

    e = spark.table("events")
    u = e.groupBy("user_id").agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"), F.max("ts").cast("date")
        ).alias("r"),
        F.count("*").alias("f"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("m"),
    ).transform(pin, "reuse")  # feeds three domain aggs + the score pass
    n = u.agg(F.count("*").alias("n"))

    def bounds(metric: str):
        dom = u.groupBy(metric).agg(F.count("*").alias("cnt"))
        cum = attach_prefix_sums(dom, [metric], ["cnt"]).select(
            metric, F.col("cnt_upto").alias("c")
        )
        return cum.crossJoin(F.broadcast(n)).agg(
            *[
                F.min(
                    F.when(
                        F.col("c")
                        >= F.expr(f"({i} * n + {_RFM_K - 1}) div {_RFM_K}"),
                        F.col(metric),
                    )
                ).alias(f"{metric}_b{i}")
                for i in range(1, _RFM_K)
            ]
        )

    scored = (
        u.crossJoin(F.broadcast(bounds("r")))
        .crossJoin(F.broadcast(bounds("f")))
        .crossJoin(F.broadcast(bounds("m")))
    )

    def score(metric: str):
        expr = F.lit(1)
        for i in range(1, _RFM_K):
            expr = expr + F.when(
                F.col(metric) > F.col(f"{metric}_b{i}"), 1
            ).otherwise(0)
        return expr.cast("long")

    return (
        scored.select(
            score("r").alias("r_score"),
            score("f").alias("f_score"),
            score("m").alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) classification
# ---------------------------------------------------------------------------

#: Cumulative-revenue-share class cuts (A: ≤80%, B: ≤95%, C: rest),
#: compared cross-multiplied on exact int64 revenue — no FP share math.
_ABC_CUTS = (80, 95)


@query(
    "agg_abc_classification",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT))
               AS r
      FROM lineitem GROUP BY l_partkey
    ), cum AS (
      SELECT l_partkey, r,
             sum(r) OVER (ORDER BY r DESC, l_partkey) AS c,
             sum(r) OVER () AS total
      FROM rev
    ), classed AS (
      SELECT CASE WHEN c * 100 <= total * {_ABC_CUTS[0]} THEN 'A'
                  WHEN c * 100 <= total * {_ABC_CUTS[1]} THEN 'B'
                  ELSE 'C' END AS cls,
             r, total
      FROM cum
    )
    SELECT cls,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(r) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
             AS revenue_share
    FROM classed GROUP BY cls ORDER BY cls
    """,
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by discounted
    revenue, classed A/B/C at the {_ABC_CUTS} percent
    cumulative-share cuts — the working-capital prioritization every
    supply-chain review starts from. Revenue rides the 4dp integer grid
    (product of two scaled ints, exact), the class cut is a decimal(38,0)
    cross-multiplication (c·100 ≤ total·cut — no FP share on the
    decision path, no int64 overflow at the ~2B-part design point),
    and only the reported share is a final rounded division.

    Scale shape: one part-keyed map-side-combined revenue agg, then the
    cumulative ranking runs as a DISTRIBUTED prefix sum over the
    parts-revenue relation ordered (revenue desc, partkey) — via
    prefix.attach_prefix_sums on the negated-revenue key, so the
    parts table (200k×SF — ~2B at the design point) never single-tasks
    through a global window; the grand total is a 1-row broadcast. The
    class aggregate is 3-row bounded."""
    from .prefix import attach_prefix_sums

    li = spark.table("lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            * F.floor((1 - F.col("l_discount")) * 100 + F.lit(0.5)).cast(
                "long"
            )
        ).alias("r")
    ).withColumn("neg_r", -F.col("r"))
    cum = attach_prefix_sums(rev, ["neg_r", "l_partkey"], ["r"]).select(
        "l_partkey", "r", F.col("r_upto").alias("c")
    )
    total = rev.agg(F.sum("r").alias("total"))
    # The cross-multiplication runs in decimal(38,0): at the ~2B-part
    # design point the 4dp-grid revenue total approaches 1e18, so c*100
    # would overflow int64 (silent wrap in non-ANSI Spark) while DuckDB
    # promotes BIGINT sums to HUGEINT — decimal keeps both engines exact.
    d38 = "decimal(38,0)"
    c_d, total_d = F.col("c").cast(d38), F.col("total").cast(d38)
    cls = (
        F.when(c_d * 100 <= total_d * _ABC_CUTS[0], "A")
        .when(c_d * 100 <= total_d * _ABC_CUTS[1], "B")
        .otherwise("C")
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .select(cls.alias("cls"), "r", "total")
        .groupBy("cls")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(
                F.sum("r").cast("double") / F.max("total").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# cohort revenue (LTV input)
# ---------------------------------------------------------------------------


@query(
    "orders_cohort_revenue",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort
      FROM orders GROUP BY o_custkey
    ), facts AS (
      SELECT f.cohort,
             date_diff('month', f.cohort,
                       CAST(date_trunc('month', o.o_orderdate) AS DATE))
               AS age_months,
             o.o_custkey,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT cohort, CAST(age_months AS BIGINT) AS age_months,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(CAST(sum(cents) AS DOUBLE) / 100.0 AS DOUBLE) AS revenue
    FROM facts GROUP BY cohort, age_months ORDER BY cohort, age_months
    """,
)
def orders_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-age revenue matrix: customers grouped by first-order month,
    revenue accumulated per months-since-acquisition — the LTV-curve
    input every growth model fits. Month arithmetic is calendar-exact on
    both engines (trunc-to-month then whole-month difference) and
    revenue rides the 2dp grid.

    Scale shape: one customer-keyed min-aggregate (map-side combined)
    for the cohort map, joined back on the same key (AQE broadcasts it
    while it fits, hash-joins at scale — no hint, the
    no-broadcast-hints-on-unbounded-tables rule), then one
    (cohort × age)-bounded aggregate. The distinct-customer count
    shuffles (cohort, age, customer) partials — bounded by active
    customers, the same cardinality the join already carried."""
    o = spark.table("orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort")
    )
    facts = o.join(firsts, "o_custkey").select(
        "cohort",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")), F.col("cohort")
        )
        .cast("long")
        .alias("age_months"),
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return (
        facts.groupBy("cohort", "age_months")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            (F.sum("cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("cohort", "age_months")
    )


# ---------------------------------------------------------------------------
# r8d: Bradley–Terry preference strengths (MM algorithm, Hunter 2004)
# ---------------------------------------------------------------------------

_BT_ITERS = 3


def _sql_bt_iter(k: int) -> str:
    """One unrolled Bradley–Terry MM update in DuckDB SQL: per-item
    denominator Σⱼ nᵢⱼ/(pᵢ+pⱼ) with 9dp-rounded terms summed in DECIMAL
    (order-free), then pᵢ ← round(Wᵢ/denᵢ, 9) — the PCA
    unrolled-iteration discipline. Normalization happens ONCE after the
    last iteration (BT is scale-invariant, so skipping the per-round
    renormalization changes only the running scale, deterministically
    on both engines). Each round reads the last one twice, and DuckDB
    inlines a plain CTE, so unmaterialized rounds re-evaluate ``duel``
    2^k times (past 9 GB on sf0.1)."""
    return f"""
    p{k} AS MATERIALIZED (
      SELECT m.i AS brand,
             round(w.wins /
                   CAST(sum(CAST(round(m.n / (pi.p + pj.p), 9)
                                 AS DECIMAL(28,9))) AS DOUBLE), 9) AS p
      FROM m
        JOIN p{k - 1} pi ON pi.brand = m.i
        JOIN p{k - 1} pj ON pj.brand = m.j
        JOIN wtot w ON w.brand = m.i
      GROUP BY m.i, w.wins
    )"""


@query(
    "pref_bradley_terry",
    oracle=f"""
    WITH per_order AS (
      SELECT l_orderkey, p_brand,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) AS q
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    duel AS (
      SELECT a.p_brand AS wb, b.p_brand AS lb
      FROM per_order a
      JOIN per_order b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
      WHERE a.q > b.q
    ),
    wmat AS (SELECT wb, lb, count(*) AS w FROM duel GROUP BY 1, 2),
    m AS MATERIALIZED (
      SELECT i, j, CAST(sum(n) AS DOUBLE) AS n FROM (
        SELECT wb AS i, lb AS j, w AS n FROM wmat
        UNION ALL
        SELECT lb AS i, wb AS j, w AS n FROM wmat
      ) GROUP BY 1, 2
    ),
    wtot AS MATERIALIZED (
      SELECT i AS brand, CAST(coalesce(sum(w), 0) AS DOUBLE) AS wins
      FROM m LEFT JOIN wmat ON wmat.wb = m.i AND wmat.lb = m.j
      GROUP BY 1
    ),
    p0 AS (SELECT brand, 1.0 AS p FROM wtot),
    {",".join(_sql_bt_iter(k) for k in range(1, _BT_ITERS + 1))},
    s AS (
      SELECT CAST(sum(CAST(round(p, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s
      FROM p{_BT_ITERS}
    )
    SELECT p.brand,
           CAST(w.wins AS BIGINT) AS wins,
           round(round(p.p / s.s, 9), 6) AS strength,
           CAST(row_number() OVER (ORDER BY p.p DESC, p.brand) AS BIGINT)
             AS rnk
    FROM p{_BT_ITERS} p
    JOIN wtot w ON w.brand = p.brand
    CROSS JOIN s
    ORDER BY rnk
    """,
)
def pref_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference strengths from pairwise duels via
    {_BT_ITERS} MM iterations (Hunter, "MM algorithms for generalized
    Bradley-Terry models", Ann. Statist. 2004) — the aggregation step
    every preference-data / RLHF pipeline runs to turn noisy pairwise
    comparisons into a consistent item ranking. Duels here: within an
    order, brand A beats brand B when A's total quantity (integer-grid
    exact) is strictly larger — ~25 brands, dense comparison matrix.

    Engine-exact iteration trajectory: each MM denominator
    Σⱼ nᵢⱼ/(pᵢ+pⱼ) rounds its terms to a 9dp grid and sums in
    DECIMAL(28,9) (order-free), and the update is a single 9dp-rounded
    division. BT is scale-invariant, so the Σp=1 normalization runs
    ONCE after the last round (same grid) instead of per round —
    DuckDB replays the identical unrolled updates and the value-hash
    matches bitwise (the PCA/k-means discipline applied to an MM
    fixed-point loop).

    Scale shape: facts reduce to the per-(order, brand) quantity table
    (one map-side-combined agg), duels to the brand×brand win matrix
    (≤K² rows for K items — domain-bounded, like the Markov transition
    matrix); each MM iteration is then ONE K-keyed aggregate over that
    matrix (per-item wins ride along as a broadcast literal map — the
    Markov driver-side-by-design precedent for domain-bounded state).
    Fact data is scanned once; iterations touch only K²-bounded state.
    At RLHF scale (K ~ 10⁴ models/responses, 10⁹ comparisons) the same
    shape holds: one reduce to the win matrix, then K²-bounded
    iterations (a K ≫ map-literal catalog keeps wins as a broadcast
    join instead)."""
    li = spark.table("lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    pt = spark.table("part").select("p_partkey", "p_brand")
    # The one FACT-sized pin here; both duel sides read it (r14: ~11-14 s
    # executor CPU lazy vs ~5.6-6 s).
    per_order = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("l_orderkey", "p_brand")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q")
        )
        .transform(pin, "fanout")
    )
    a, b = per_order.alias("a"), per_order.alias("b")
    duel = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.p_brand") != F.col("b.p_brand"))
        & (F.col("a.q") > F.col("b.q")),
    ).select(F.col("a.p_brand").alias("wb"), F.col("b.p_brand").alias("lb"))
    # wmat is read THREE times (both branches of m's union + wtot's join);
    # unpinned, each re-ran the O(B²·orders) duel self-join (r14).
    wmat = (
        duel.groupBy("wb", "lb")
        .agg(F.count("*").alias("w"))
        # coalesce(1) (r14): K²-bounded (≤625 rows) pinned as 32 mostly
        # empty partitions otherwise — every MM-round stage then
        # schedules 32 near-empty tasks.
        .coalesce(1)
        .transform(pin, "fanout")
    )
    m = (
        wmat.select(F.col("wb").alias("i"), F.col("lb").alias("j"), F.col("w").alias("n"))
        .unionAll(
            wmat.select(
                F.col("lb").alias("i"), F.col("wb").alias("j"), F.col("w").alias("n")
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("n").cast("double").alias("n"))
        .coalesce(1)
        .transform(pin, "reuse")
    )
    wtot = (
        m.join(
            wmat,
            (F.col("wb") == F.col("i")) & (F.col("lb") == F.col("j")),
            "left",
        )
        .groupBy(F.col("i").alias("brand"))
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("double").alias("wins"))
        .coalesce(1)
        .transform(pin, "reuse")
    )
    # wins is K-bounded (≤25 brands) — collect once into a literal map so
    # each MM round is ONE K-keyed aggregate (the Markov `states.count()`
    # driver-side-by-design precedent; K² facts never leave executors).
    wins_rows = wtot.collect()
    if not wins_rows:
        # no duels at all (e.g. single-line orders only): no ranking
        # exists — zero rows matching the oracle's empty duel join; an
        # argless F.create_map would type as map<void,void> and fail
        # analysis (r9 sparse-fixture find).
        return spark.createDataFrame(
            [], "brand string, wins bigint, strength double, rnk bigint"
        )
    wins_map = F.create_map(
        *[F.lit(x) for r in wins_rows for x in (r["brand"], r["wins"])]
    )
    p = wtot.select("brand", F.lit(1.0).alias("p"))
    for _ in range(_BT_ITERS):
        p = (
            m.join(
                F.broadcast(p.select(F.col("brand").alias("i"), F.col("p").alias("pi"))),
                "i",
            )
            .join(
                F.broadcast(p.select(F.col("brand").alias("j"), F.col("p").alias("pj"))),
                "j",
            )
            .groupBy(F.col("i").alias("brand"))
            .agg(
                F.sum(
                    F.round(F.col("n") / (F.col("pi") + F.col("pj")), 9).cast(
                        "decimal(28,9)"
                    )
                )
                .cast("double")
                .alias("den")
            )
            .select(
                "brand",
                F.round(wins_map[F.col("brand")] / F.col("den"), 9).alias("p"),
            )
            # NOT pinned per round (r14): p does feed the next round
            # twice (pi + pj) so the K-row round subtree appears 2^3·2
            # times in the plan — but every copy is a tiny K-row
            # broadcast build that the runtime dedups, and a per-round
            # localCheckpoint measured SLOWER (3.43 → 3.86 s median):
            # the pin barrier costs more than the duplicated K-row
            # work. Contrast events_markov_attribution, where the
            # duplicated subtree held K²-sized aggregates and pinning
            # won.
        )
    s = p.agg(
        F.sum(F.round("p", 9).cast("decimal(28,9)")).cast("double").alias("s")
    )
    p = p.crossJoin(F.broadcast(s)).select(
        "brand", F.round(F.col("p") / F.col("s"), 9).alias("pn"), F.col("p")
    )
    # K-bounded domain (≤25 brands): constant-key window (prefix.py idiom).
    w_rank = W.partitionBy(F.pmod(F.col("wins").cast("long"), F.lit(1))).orderBy(
        F.desc("p"), "brand"
    )
    return (
        p.join(wtot, "brand")
        .select(
            "brand",
            F.col("wins").cast("long").alias("wins"),
            F.round("pn", 6).alias("strength"),
            F.row_number().over(w_rank).cast("long").alias("rnk"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# r8d: Markov removal-effect attribution
# ---------------------------------------------------------------------------

_MRA_HOPS = 8
_MRA_START, _MRA_CONV, _MRA_NULL = "__START__", "__CONV__", "__NULL__"


def _sql_mra_iter(h: int) -> str:
    """One value-iteration hop for ALL chain variants at once:
    v_h(s) = Σ_t p(s,t)·v_{h-1}(t), 12dp-grid terms summed in DECIMAL;
    the absorbing CONV row (v = 1) is re-seeded per variant. Materialized,
    like the ``edges_all`` and ``variants`` it reads: DuckDB inlines a
    plain CTE, so every hop would re-derive them from ``events``."""
    return f"""
    v{h} AS MATERIALIZED (
      SELECT e.variant, e.src AS state,
             CAST(sum(CAST(round(e.p * v.v, 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS v
      FROM edges_all e
        JOIN v{h - 1} v ON v.variant = e.variant AND v.state = e.dst
      GROUP BY 1, 2
      UNION ALL
      SELECT variant, '{_MRA_CONV}', 1.0 FROM variants
    )"""


@query(
    "events_markov_attribution",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    conv AS (
      SELECT user_id, min(rn) AS rp FROM seq
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    states AS (
      SELECT s.user_id, s.rn, c.rp,
             CASE WHEN s.event_type = 'purchase'
                  THEN '{_MRA_CONV}' ELSE s.event_type END AS st
      FROM seq s LEFT JOIN conv c USING (user_id)
      WHERE c.rp IS NULL OR s.rn <= c.rp
    ),
    hop AS (
      SELECT *,
             lead(st) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
      FROM states
    ),
    trans AS (
      SELECT '{_MRA_START}' AS src, st AS dst FROM hop WHERE rn = 1
      UNION ALL
      SELECT st, nxt FROM hop WHERE nxt IS NOT NULL
      UNION ALL
      SELECT st, '{_MRA_NULL}' FROM hop WHERE nxt IS NULL AND rp IS NULL
    ),
    cnt AS (SELECT src, dst, count(*) AS n FROM trans GROUP BY 1, 2),
    probs AS (
      SELECT src, dst,
             round(CAST(n AS DOUBLE)
                   / sum(n) OVER (PARTITION BY src), 12) AS p
      FROM cnt
    ),
    channels AS (
      SELECT DISTINCT src AS ch FROM probs WHERE src <> '{_MRA_START}'
    ),
    variants AS MATERIALIZED (
      SELECT '__FULL__' AS variant
      UNION ALL SELECT ch FROM channels
    ),
    edges_all AS MATERIALIZED (
      SELECT v.variant, p.src, p.dst, p.p
      FROM probs p CROSS JOIN variants v
      WHERE v.variant = '__FULL__'
         OR (p.src <> v.variant AND p.dst <> v.variant)
    ),
    v0 AS (SELECT variant, '{_MRA_CONV}' AS state, 1.0 AS v FROM variants),
    {",".join(_sql_mra_iter(h) for h in range(1, _MRA_HOPS + 1))},
    pf AS (
      SELECT v FROM v{_MRA_HOPS}
      WHERE variant = '__FULL__' AND state = '{_MRA_START}'
    ),
    res AS (
      -- ch, not variant: on the null-extended side of this LEFT JOIN a
      -- channel disconnected from START within the horizon would get a
      -- NULL name while Spark keeps the real one
      SELECT ch AS channel, coalesce(v, 0.0) AS conv_without
      FROM channels
      LEFT JOIN v{_MRA_HOPS}
        ON variant = ch AND state = '{_MRA_START}'
    ),
    re AS (
      -- nullif mirrors Spark's try_divide: a chain with no conversion
      -- reachable within the horizon nulls out on both engines
      SELECT channel, conv_without,
             round(1.0 - conv_without / nullif(pf.v, 0), 9)
               AS removal_effect
      FROM res CROSS JOIN pf
    ),
    tot AS (
      SELECT CAST(sum(CAST(round(removal_effect, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS t
      FROM re
    )
    SELECT re.channel,
           round((SELECT v FROM pf), 6) AS conv_prob_full,
           round(conv_without, 6) AS conv_prob_without,
           round(removal_effect, 6) AS removal_effect,
           round(CASE WHEN tot.t = 0 THEN 0.0
                      ELSE removal_effect / tot.t END, 6)
             AS attribution_share
    FROM re CROSS JOIN tot
    ORDER BY re.channel
    """,
)
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al., "Mapping
    the customer journey", IJRM 2016): each user's journey — event
    types up to the first purchase (CONV) or its unconverted end
    (NULL) — feeds a first-order transition matrix; a channel's credit
    is its REMOVAL EFFECT, 1 − P(conversion | chain with that channel
    deleted)/P(conversion | full chain), normalized into attribution
    shares. The principled upgrade over `events_attribution_last_touch`
    heuristics, and the model marketing-mix stacks actually run.

    Conversion probabilities are {_MRA_HOPS}-hop value iterations
    v_h(s) = Σ p(s,t)·v_{h-1}(t) from START with CONV absorbing at 1
    — i.e. P(convert within {_MRA_HOPS} transitions), a fixed horizon
    both engines execute identically (12dp-grid terms, DECIMAL sums;
    transition probs are exact integer ratios on the 12dp grid).

    Scale shape: ONE user-keyed window pass builds transitions (the
    sessionization envelope); everything after runs on the K²-bounded
    matrix. All K+1 chain variants (full + each removal) evaluate in
    ONE variant-tagged relation — (K+1)·K² rows — so the {_MRA_HOPS}
    hops cost {_MRA_HOPS} joined aggregates total, not per variant.
    At a 10²-channel stack that relation is ~10⁶ rows; facts are
    never rescanned."""
    seq = spark.table("events").select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    conv = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("rp"))
    )
    states = (
        seq.join(conv, "user_id", "left")
        .filter(F.col("rp").isNull() | (F.col("rn") <= F.col("rp")))
        .select(
            "user_id",
            "rn",
            "rp",
            F.when(F.col("event_type") == "purchase", _MRA_CONV)
            .otherwise(F.col("event_type"))
            .alias("st"),
        )
    )
    hop = states.withColumn(
        "nxt", F.lead("st").over(W.partitionBy("user_id").orderBy("rn"))
    )
    trans = (
        hop.filter(F.col("rn") == 1).select(
            F.lit(_MRA_START).alias("src"), F.col("st").alias("dst")
        )
        .unionAll(
            hop.filter(F.col("nxt").isNotNull()).select(
                F.col("st").alias("src"), F.col("nxt").alias("dst")
            )
        )
        .unionAll(
            hop.filter(F.col("nxt").isNull() & F.col("rp").isNull()).select(
                F.col("st").alias("src"), F.lit(_MRA_NULL).alias("dst")
            )
        )
    )
    probs = (
        trans.groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "p",
            F.round(
                F.col("n").cast("double")
                / F.sum("n").over(W.partitionBy("src")),
                12,
            ),
        )
        .select("src", "dst", "p")
        # coalesce(1) (r14): the window exchange above leaves 32 mostly
        # empty partitions; pinned that way, every hop stage below
        # schedules 32 near-empty tasks (330 tasks/run measured). The
        # relation is K²-bounded by the state domain, so one partition
        # is the scale-correct layout at any corpus size.
        .coalesce(1)
        .transform(pin, "reuse")  # K²-bounded; every variant/hop reads this
    )
    channels = probs.filter(F.col("src") != _MRA_START).select(
        F.col("src").alias("ch")
    ).distinct()
    variants = (
        spark.range(1)
        .select(F.lit("__FULL__").alias("variant"))
        .unionAll(channels.select(F.col("ch").alias("variant")))
        .coalesce(1)
        .transform(pin, "reuse")
    )
    edges_all = (
        probs.crossJoin(F.broadcast(variants))
        .filter(
            (F.col("variant") == "__FULL__")
            | ((F.col("src") != F.col("variant")) & (F.col("dst") != F.col("variant")))
        )
        .select("variant", "src", "dst", "p")
        # coalesce(1) (r14): K²·K-bounded rows; see probs above.
        .coalesce(1)
        .transform(pin, "reuse")
    )
    conv_rows = variants.select(
        "variant", F.lit(_MRA_CONV).alias("state"), F.lit(1.0).alias("v")
    )
    v = conv_rows
    for _ in range(_MRA_HOPS):
        v = (
            edges_all.join(
                F.broadcast(v.withColumnRenamed("state", "dst")),
                ["variant", "dst"],
            )
            .groupBy("variant", F.col("src").alias("state"))
            .agg(
                F.sum(F.round(F.col("p") * F.col("v"), 12).cast("decimal(28,12)"))
                .cast("double")
                .alias("v")
            )
            .unionAll(conv_rows)
        )
    # Pin the end of the 8-hop chain (r14): `starts` and `res` are each
    # read twice; unpinned, the plan held the hop lineage 4x (38 Exchange).
    starts = v.filter(F.col("state") == _MRA_START).transform(pin, "reuse")
    pf = starts.filter(F.col("variant") == "__FULL__").select(
        F.col("v").alias("pfull")
    )
    res = (
        channels.join(
            starts.select(F.col("variant").alias("ch"), "v"), "ch", "left"
        )
        .select(
            F.col("ch").alias("channel"),
            F.coalesce(F.col("v"), F.lit(0.0)).alias("conv_without"),
        )
        .crossJoin(F.broadcast(pf))
        .withColumn(
            "removal_effect",
            F.round(
                1.0 - F.try_divide(F.col("conv_without"), F.col("pfull")), 9
            ),
        )
        .transform(pin, "reuse")
    )
    tot = res.agg(
        F.sum(F.round("removal_effect", 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("t")
    )
    return (
        res.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            F.round("pfull", 6).alias("conv_prob_full"),
            F.round("conv_without", 6).alias("conv_prob_without"),
            F.round("removal_effect", 6).alias("removal_effect"),
            F.round(
                F.when(F.col("t") == 0, 0.0).otherwise(
                    F.col("removal_effect") / F.col("t")
                ),
                6,
            ).alias("attribution_share"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# r8d: retention decay fit (churn half-life)
# ---------------------------------------------------------------------------


@query(
    "events_retention_halflife",
    oracle=f"""
    WITH offs AS (
      SELECT weeks_later AS w, count(DISTINCT user_id) AS n_w
      FROM ({_SQL_RETENTION})
      GROUP BY 1
    ),
    base AS (SELECT n_w AS n0 FROM offs WHERE w = 0),
    pts AS (
      SELECT w,
             round(ln(CAST(n_w AS DOUBLE) / n0), 12) AS lr
      FROM offs CROSS JOIN base
    ),
    moms AS (
      SELECT count(*) AS n,
             sum(w) AS sw,
             sum(w * w) AS sww,
             CAST(sum(CAST(round(lr, 12) AS DECIMAL(28,12))) AS DOUBLE) AS slr,
             CAST(sum(CAST(round(w * lr, 12) AS DECIMAL(28,12))) AS DOUBLE)
               AS swlr
      FROM pts
    ),
    fit AS (
      -- nullif mirrors Spark's non-ANSI divide-by-zero → NULL (DuckDB's
      -- raw IEEE division would return inf/nan on a 1-point curve)
      SELECT n,
             (n * swlr - sw * slr) / nullif(n * sww - sw * sw, 0) AS b,
             (slr - (n * swlr - sw * slr) / nullif(n * sww - sw * sw, 0)
                    * sw) / n AS a
      FROM moms
    )
    SELECT CAST(f.n AS BIGINT) AS n_points,
           CAST(b0.n0 AS BIGINT) AS cohort_users,
           round(f.b, 6) AS slope,
           round(f.a, 6) AS intercept,
           round(-ln(2.0) / nullif(f.b, 0), 6) AS half_life_weeks
    FROM fit f CROSS JOIN base b0
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn half-life from the aggregate retention curve: weekly
    retention rates r_w (distinct users active w weeks after their
    cohort week, over the week-0 base) fit to an exponential decay by
    log-linear OLS — the one-number churn summary (weeks to lose half
    the actives) a growth team tracks on top of the full
    `events_retention_cohorts` triangle.

    Exactness: retention counts are integers; each ln(r_w) rounds onto
    the 12dp grid, the OLS moments sum those grid terms in
    DECIMAL(28,12) (w is an exact small integer, so w-weighted terms
    re-round onto the grid), and slope/intercept/half-life are fixed
    expression trees on those exact-derived doubles — identical IEEE
    results on both engines.

    Scale shape: the cohort/activity join is `_retention`, the
    user-keyed relation `events_retention_cohorts` reads; everything
    after runs on the week-offset
    domain (a handful of rows at any horizon — calendar-bounded)."""
    offs = (
        _retention(spark)
        .groupBy(F.col("weeks_later").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_w"))
    )
    base = offs.filter(F.col("w") == 0).select(F.col("n_w").alias("n0"))
    pts = offs.crossJoin(F.broadcast(base)).select(
        "w",
        "n0",
        F.round(F.log(F.col("n_w").cast("double") / F.col("n0")), 12).alias(
            "lr"
        ),
    )
    moms = pts.agg(
        F.count("*").alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum(F.round("lr", 12).cast("decimal(28,12)")).cast("double").alias("slr"),
        F.sum(F.round(F.col("w") * F.col("lr"), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("swlr"),
        F.max("n0").alias("n0"),
    )
    # try_divide mirrors the oracle's nullif guards: a 1-point curve
    # (or flat slope) yields NULL on both engines instead of an ANSI
    # divide-by-zero error here vs an IEEE inf there.
    b = F.try_divide(
        F.col("n") * F.col("swlr") - F.col("sw") * F.col("slr"),
        F.col("n") * F.col("sww") - F.col("sw") * F.col("sw"),
    )
    a = (F.col("slr") - b * F.col("sw")) / F.col("n")
    return moms.select(
        F.col("n").cast("long").alias("n_points"),
        F.col("n0").cast("long").alias("cohort_users"),
        F.round(b, 6).alias("slope"),
        F.round(a, 6).alias("intercept"),
        F.round(F.try_divide(-F.log(F.lit(2.0)), b), 6).alias(
            "half_life_weeks"
        ),
        # Zero events (r10 empty corpus): the oracle's CROSS JOIN base
        # yields no rows, while the global agg here yields one all-NULL
        # row — pin the "no cohort base → no fit" convention (n ≥ 1
        # whenever any event exists, since week 0 always has its cohort).
    ).where(F.col("n_points") > 0)


@query(
    "orders_open_backlog_daily",
    oracle=f"""
    WITH span AS (
      -- date sanity window (r10 time corpus): a 9999 sentinel interval
      -- end makes the +1-day close boundary uncomputable (Python
      -- datetime dies at year 10000 when Spark collects) — sentinel
      -- dates are corrupt rows, excluded deterministically both sides
      SELECT o.o_orderkey,
             CAST(date_trunc('day', o.o_orderdate) AS DATE) AS d0,
             CAST(date_trunc('day', max(l.l_shipdate)) AS DATE) AS d1
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE {sql_sane_ts('o.o_orderdate')} AND {sql_sane_ts('l.l_shipdate')}
      GROUP BY o.o_orderkey, o.o_orderdate
    ), deltas AS (
      SELECT d0 AS day, CAST(count(*) AS BIGINT) AS delta FROM span GROUP BY d0
      UNION ALL
      SELECT CAST(d1 + INTERVAL 1 DAY AS DATE), -CAST(count(*) AS BIGINT) FROM span GROUP BY d1
    ), dom AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM deltas GROUP BY day
    )
    SELECT day,
           CAST(sum(delta) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM dom ORDER BY day
    """,
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time by SWEEP-LINE: each order is an
    interval [orderdate, last shipment]; +1/−1 boundary deltas collapse
    onto the day domain and a running sum yields the exact count of
    simultaneously-open orders at every boundary day — the
    inventory/WIP curve, computed without ever joining orders to a
    calendar.

    Scale shape: one orders⋈lineitem join (both shuffle on orderkey —
    co-partitioned) + one rollup builds the intervals; the sweep is two
    map-side-combined delta rollups onto the CALENDAR-BOUNDED day
    domain and a DISTRIBUTED prefix sum (attach_prefix_sums) over it.
    The naive day-grid×orders range join this replaces is
    days·orders-sized; the sweep is orders + days."""
    from .prefix import attach_prefix_sums

    span = (
        spark.table("orders")
        .filter(sane_ts(F.col("o_orderdate")))  # see oracle note
        .join(
            spark.table("lineitem")
            .filter(sane_ts(F.col("l_shipdate")))
            .select(F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"),
            "o_orderkey",
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("d0"),
            F.to_date(F.date_trunc("day", "ship_end")).alias("d1"),
        )
    )
    deltas = (
        span.groupBy(F.col("d0").alias("day"))
        .agg(F.count("*").cast("long").alias("delta"))
        .unionAll(
            span.groupBy(F.date_add("d1", 1).alias("day")).agg(
                (-F.count("*")).cast("long").alias("delta")
            )
        )
    )
    dom = deltas.groupBy("day").agg(F.sum("delta").cast("long").alias("delta"))
    cum = attach_prefix_sums(dom, ["day"], ["delta"])
    return cum.select(
        "day", F.col("delta_upto").cast("long").alias("open_orders")
    ).orderBy("day")


_SN_WINDOW = 3    # sorted-neighborhood width w: compare with next w-1
_SN_EPS_CENTS = 100   # match if balances within 1.00
_SN_TOP = 50


@query(
    "er_sorted_neighborhood",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer
    ), r AS (
      SELECT c_custkey, c_nationkey, cents,
             row_number() OVER (ORDER BY cents, c_custkey) AS rk
      FROM c
    ), cand AS (
      SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
             abs(a.cents - b.cents) AS dist_cents
      FROM r a JOIN r b
        ON b.rk > a.rk AND b.rk <= a.rk + {_SN_WINDOW - 1}
      WHERE a.c_nationkey <> b.c_nationkey
        AND abs(a.cents - b.cents) <= {_SN_EPS_CENTS}
    )
    SELECT key_a, key_b, dist_cents FROM cand
    ORDER BY dist_cents, key_a, key_b LIMIT {_SN_TOP}
    """,
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernández–Stolfo
    merge/purge): order records by the match attribute (account
    balance), slide a width-3 window over the sorted order, and emit
    cross-nation pairs within 1.00 of each other — the classic
    linear-candidate alternative to er_fuzzy_name_match's equality
    blocking when the key is continuous.

    Scale shape — the global sort the algorithm nominally needs never
    happens: ranks come from the COMPRESSED cents domain (one groupBy +
    distributed prefix gives each cell its base rank; a window
    PARTITIONED by cell orders only the ties inside one cell), and the
    w−1 neighbor lookups are plain EQUI-joins on rank+k — so candidates
    are O(n·w) with no single-task window and no theta join. The
    oracle's row_number-over-everything is the shape this avoids."""
    from .prefix import attach_prefix_sums

    c = spark.table("customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    dom = c.groupBy("cents").agg(F.count("*").cast("long").alias("t"))
    cum = attach_prefix_sums(dom, ["cents"], ["t"])
    base = cum.select(
        "cents", (F.col("t_upto") - F.col("t")).alias("base")
    )
    wtie = W.partitionBy("cents").orderBy("c_custkey")
    r = (
        c.join(base, "cents")
        .withColumn("rk", F.col("base") + F.row_number().over(wtie))
        .select("c_custkey", "c_nationkey", "cents", "rk")
        # the window-pair probe reads this on several branches
        # (r15: wall 1.9-2.5 s lazy vs 1.6-1.8 s)
        .transform(pin, "fanout")
    )
    probe = r.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("cents").alias("cents_a"),
        F.explode(
            F.array(*[F.col("rk") + k for k in range(1, _SN_WINDOW)])
        ).alias("rk"),
    )
    cand = (
        probe.join(r, "rk")
        .filter(
            (F.col("nat_a") != F.col("c_nationkey"))
            & (F.abs(F.col("cents_a") - F.col("cents")) <= _SN_EPS_CENTS)
        )
        .select(
            "key_a",
            F.col("c_custkey").alias("key_b"),
            F.abs(F.col("cents_a") - F.col("cents")).alias("dist_cents"),
        )
    )
    return cand.orderBy("dist_cents", "key_a", "key_b").limit(_SN_TOP)


_GINI = (
    "((2.0 * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))"
    " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))"
)


@query(
    "events_user_lifetime_gini",
    oracle=f"""
    WITH peruser AS (
      SELECT user_id,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), dom AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM peruser GROUP BY cents
    ), cum AS (
      SELECT cents, cnt,
             sum(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS base
      FROM dom
    ), mom AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             sum(CAST(cents AS DECIMAL(38,0)) * cnt) AS t,
             sum(CAST(cents AS DECIMAL(38,0))
                 * (cnt * CAST(base AS DECIMAL(38,0))
                    + CAST(cnt AS DECIMAL(38,0)) * (cnt + 1) / 2)) AS s
      FROM cum
    )
    SELECT n AS n_users,
           CAST(t AS DOUBLE) / 100.0 AS total_revenue,
           {_sql_round_ieee(_GINI, 6)} AS gini
    FROM mom
    """,
)
def events_user_lifetime_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user lifetime purchase revenue — the
    whale-concentration number behind every "top X% of users drive Y%
    of revenue" statement (the continuous complement of the discrete
    agg_abc_classification cut).

    Exactness: G = 2·Σrankᵢxᵢ/(nT) − (n+1)/n needs every user's rank,
    but tied revenues occupy CONSECUTIVE ranks whose sum is closed-form
    (cnt·base + cnt(cnt+1)/2), so the whole rank-weighted sum collapses
    onto the COMPRESSED revenue domain — exact DECIMAL carriers, one
    prefix pass, one fixed IEEE expression. (cnt·(cnt+1)/2 is always an
    integer, so the decimal division by 2 is exact.)

    Scale shape: one per-user rollup (the only fact-sized exchange),
    one domain groupBy, one distributed prefix — users are never
    globally sorted."""
    from .prefix import attach_prefix_sums

    peruser = (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    dom = peruser.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    cum = attach_prefix_sums(dom, ["cents"], ["cnt"]).withColumn(
        "base", F.col("cnt_upto") - F.col("cnt")
    )
    c38 = F.col("cents").cast("decimal(38,0)")
    mom = cum.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(c38 * F.col("cnt")).alias("t"),
        F.sum(
            c38
            * (
                F.col("cnt") * F.col("base").cast("decimal(38,0)")
                + F.col("cnt").cast("decimal(38,0)") * (F.col("cnt") + 1) / 2
            )
        ).alias("s"),
    )
    return mom.select(
        F.col("n").alias("n_users"),
        (F.col("t").cast("double") / 100.0).alias("total_revenue"),
        _round_ieee(F.expr(_GINI), 6).alias("gini"),
    )


@query(
    "cdc_diff_snapshots",
    oracle="""
    WITH old_snap AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
      FROM orders WHERE o_orderkey % 4 <> 1
    ), new_snap AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 4 = 3 THEN 100 ELSE 0 END AS price_c
      FROM orders WHERE o_orderkey % 4 <> 2
    )
    SELECT CASE WHEN o.k IS NULL THEN 'insert'
                WHEN n.k IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           coalesce(o.k, n.k) AS o_orderkey,
           CAST(o.price_c AS DOUBLE) / 100.0 AS old_price,
           CAST(n.price_c AS DOUBLE) / 100.0 AS new_price
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.k = n.k
    WHERE o.k IS NULL OR n.k IS NULL OR o.price_c <> n.price_c
    """,
)
def cdc_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF — the generator direction of CDC (cdc_apply_changes
    consumes a change feed; this PRODUCES one): full-outer-join two
    versions of the same logical table on the key and classify each row
    insert / update / delete, emitting old and new values. What an
    ingest runs when the upstream can only hand over full snapshots and
    downstream wants a changelog (the standard snapshot-to-CDC bridge).
    Snapshots are carved deterministically from orders: keys ≡1 (mod 4)
    exist only in NEW (inserts), ≡2 only in OLD (deletes), ≡3 get a
    +1.00 price change (updates), ≡0 are unchanged and excluded.

    Exactness: change detection compares exact integer CENTS, never
    float equality; the emitted prices are one IEEE division each.
    Scale shape: ONE full-outer hash join on the key (both sides
    shuffle once on the same key — at 100 TB this is the minimal-
    movement plan for an unordered snapshot pair) and the unchanged
    majority is filtered before any further movement."""
    o = spark.table("orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    old_snap = o.where(F.col("o_orderkey") % 4 != 1).select(
        F.col("o_orderkey").alias("k"), cents.alias("price_c")
    )
    new_snap = o.where(F.col("o_orderkey") % 4 != 2).select(
        F.col("o_orderkey").alias("kn"),
        (
            cents
            + F.when(F.col("o_orderkey") % 4 == 3, F.lit(100)).otherwise(F.lit(0))
        ).alias("price_cn"),
    )
    j = old_snap.join(new_snap, F.col("k") == F.col("kn"), "full_outer")
    return j.where(
        F.col("k").isNull()
        | F.col("kn").isNull()
        | (F.col("price_c") != F.col("price_cn"))
    ).select(
        F.when(F.col("k").isNull(), F.lit("insert"))
        .when(F.col("kn").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.coalesce(F.col("k"), F.col("kn")).alias("o_orderkey"),
        (F.col("price_c").cast("double") / 100.0).alias("old_price"),
        (F.col("price_cn").cast("double") / 100.0).alias("new_price"),
    )


@query(
    "er_golden_record",
    oracle="""
    WITH blocked AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
      FROM customer
    ), segcnt AS (
      SELECT c_nationkey, bal_band, c_mktsegment,
             CAST(count(*) AS BIGINT) AS c
      FROM blocked GROUP BY 1, 2, 3
    ), segpick AS (
      SELECT c_nationkey, bal_band, c_mktsegment AS seg_mode
      FROM (
        SELECT *, row_number() OVER (PARTITION BY c_nationkey, bal_band
                   ORDER BY c DESC, c_mktsegment) AS rk
        FROM segcnt
      ) WHERE rk = 1
    ), clusters AS (
      SELECT c_nationkey, bal_band,
             CAST(count(*) AS BIGINT) AS n_dupes,
             CAST(min(c_custkey) AS BIGINT) AS master_id,
             arg_max(c_name, c_custkey) AS latest_name,
             round(max(c_acctbal), 2) AS best_acctbal
      FROM blocked GROUP BY 1, 2
    )
    SELECT c.c_nationkey AS nationkey, c.bal_band, c.n_dupes, c.master_id,
           c.latest_name, c.best_acctbal, s.seg_mode
    FROM clusters c JOIN segpick s USING (c_nationkey, bal_band)
    WHERE c.n_dupes >= 2
    """,
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the MERGE step of entity resolution
    (er_sorted_neighborhood / er_fuzzy_name_match FIND duplicate pairs;
    MDM then has to emit ONE master row per cluster). Customers are
    blocked on (nationkey, acctbal-thousand band) as the duplicate key;
    each cluster survives as: master_id = lowest key (stable identity),
    latest_name = arg_max by custkey (most-recent-writer wins),
    best_acctbal = max, segment = MODE with deterministic (count DESC,
    segment) tie-break — one field-level survivorship rule of each
    standard kind (stable / recency / max / consensus).

    Scale shape: survivorship is ONE map-side-combinable aggregate per
    cluster (min/max/arg_max carry a single candidate per key per map
    partition); the mode needs one more (cluster, segment)-keyed count
    pass and a PARTITIONED top-1 window over the aggregated counts —
    never over base rows. Both engines break arg_max ties on the
    unique custkey, so every surviving field is deterministic."""
    blocked = spark.table("customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    segcnt = blocked.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count("*").cast("long").alias("c")
    )
    wr = W.partitionBy("c_nationkey", "bal_band").orderBy(
        F.desc("c"), "c_mktsegment"
    )
    segpick = (
        segcnt.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("c_nationkey", "bal_band", F.col("c_mktsegment").alias("seg_mode"))
    )
    clusters = blocked.groupBy("c_nationkey", "bal_band").agg(
        F.count("*").cast("long").alias("n_dupes"),
        F.min("c_custkey").cast("long").alias("master_id"),
        F.expr("max_by(c_name, c_custkey)").alias("latest_name"),
        F.round(F.max("c_acctbal"), 2).alias("best_acctbal"),
    )
    return (
        clusters.join(segpick, ["c_nationkey", "bal_band"])
        .where(F.col("n_dupes") >= 2)
        .select(
            F.col("c_nationkey").alias("nationkey"),
            "bal_band",
            "n_dupes",
            "master_id",
            "latest_name",
            "best_acctbal",
            "seg_mode",
        )
    )


@query(
    "dq_referential_integrity",
    oracle="""
    WITH par AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 5 <> 0
    ), rel1 AS (
      SELECT 'orders->customer_degraded' AS relation,
             CAST(count(*) AS BIGINT) AS n_child,
             CAST(count(*) FILTER (WHERE par.c_custkey IS NULL) AS BIGINT)
               AS n_orphans
      FROM orders LEFT JOIN par ON o_custkey = par.c_custkey
    ), rel2 AS (
      SELECT 'lineitem->orders' AS relation,
             CAST(count(*) AS BIGINT) AS n_child,
             CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
               AS n_orphans
      FROM lineitem LEFT JOIN orders o ON l_orderkey = o.o_orderkey
    ), u AS (SELECT * FROM rel1 UNION ALL SELECT * FROM rel2)
    SELECT relation, n_child, n_orphans,
           round(CAST(n_orphans AS DOUBLE)
                 / nullif(CAST(n_child AS DOUBLE), 0.0), 6) AS orphan_rate,
           (n_orphans = 0) AS passed
    FROM u
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-foreign-key counts per
    relation — lineitem→orders against the REAL parent (clean, proves
    the zero case) and orders→customer against a deterministically
    degraded parent (custkeys ≡0 mod 5 removed, simulating a lost
    parent shard — guaranteed orphans, so the detector is proved
    non-vacuously; the join_anti 0-vs-0 lesson applied at birth). The
    first integrity check any warehouse DQ suite runs after a load.

    Scale shape: each relation is one LEFT join + conditional count —
    at 100 TB the orders→customer probe broadcasts or co-shuffles on
    the same key every downstream join uses anyway; counts fold
    map-side, no orphan ROWS move, only per-partition counters."""
    par = spark.table("customer").where(F.col("c_custkey") % 5 != 0).select(
        "c_custkey"
    )
    o = spark.table("orders")
    li = spark.table("lineitem")
    rel1 = (
        o.join(par, o.o_custkey == par.c_custkey, "left")
        .agg(
            F.count("*").cast("long").alias("n_child"),
            F.count(F.when(F.col("c_custkey").isNull(), 1))
            .cast("long")
            .alias("n_orphans"),
        )
        .select(F.lit("orders->customer_degraded").alias("relation"), "n_child", "n_orphans")
    )
    ok = o.select("o_orderkey")
    rel2 = (
        li.join(ok, li.l_orderkey == ok.o_orderkey, "left")
        .agg(
            F.count("*").cast("long").alias("n_child"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1))
            .cast("long")
            .alias("n_orphans"),
        )
        .select(F.lit("lineitem->orders").alias("relation"), "n_child", "n_orphans")
    )
    u = rel1.unionAll(rel2)
    return u.select(
        "relation",
        "n_child",
        "n_orphans",
        # try_divide + oracle nullif: an empty child table (r10 empty
        # corpus) is a legitimate audit input — the relation row stays
        # (n_child=0, passed=true), the rate is NULL on both engines.
        F.round(
            F.try_divide(
                F.col("n_orphans").cast("double"),
                F.col("n_child").cast("double"),
            ),
            6,
        ).alias("orphan_rate"),
        (F.col("n_orphans") == 0).alias("passed"),
    )


@query(
    "pipeline_entity_resolution_e2e",
    oracle="""
    WITH RECURSIVE r AS (
      SELECT c_custkey AS k, c_nationkey AS nat,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
      FROM customer
    ), rk AS (
      SELECT *, row_number() OVER (PARTITION BY nat ORDER BY bal, k) AS rnk
      FROM r
    ), pairs AS (
      SELECT a.k AS ka, b.k AS kb
      FROM rk a JOIN rk b
        ON a.nat = b.nat AND b.rnk = a.rnk + 1 AND b.bal - a.bal <= 500
    ), edges AS (
      SELECT ka AS src, kb AS dst FROM pairs
      UNION SELECT kb, ka FROM pairs
    ), walk(k, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.k, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ), comp AS (
      SELECT k, CAST(min(reach) AS BIGINT) AS cid FROM walk GROUP BY k
    ), labeled AS (
      SELECT r.nat, r.k, coalesce(c.cid, r.k) AS cid,
             (c.k IS NOT NULL) AS inc
      FROM r LEFT JOIN comp c USING (k)
    )
    SELECT CAST(nat AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(count(*) FILTER (WHERE inc) AS BIGINT) AS n_in_clusters,
           CAST(count(DISTINCT CASE WHEN inc THEN cid END) AS BIGINT)
             AS n_clusters,
           CAST(count(*) FILTER (WHERE inc)
                - count(DISTINCT CASE WHEN inc THEN cid END) AS BIGINT)
             AS n_merged_away
    FROM labeled GROUP BY nat ORDER BY nationkey
    """,
)
def pipeline_entity_resolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END-TO-END as one plan: sorted-neighborhood
    blocking (rank by balance within nation, compare rank-adjacent
    records on exact integer cents, ≤ 5.00 apart = candidate pair) →
    TRANSITIVE closure into entity clusters (star contraction — the
    step that turns pairwise matches into entities: A≈B and B≈C merge
    all three even when A and C never matched directly) → the per-
    nation merge ledger (records, clustered, surviving masters, rows
    merged away). Composes er_sorted_neighborhood's blocking,
    dedup_near_dup_clusters' contraction, and er_golden_record's
    survivorship INTO the MDM job a warehouse actually runs; the
    oracle replays the whole chain including the recursive-CTE
    closure, so the merge decisions are value-checked end-to-end
    through the transitivity.

    Scale shape: blocking is a PARTITIONED window (one nation-keyed
    exchange, neighbors compared without any n² within-block join);
    components come from sampling.star_components; the ledger is one
    bounded rollup. Chains are guaranteed non-vacuous:
    consecutive balances within 5.00 occur in every nation at sf0.01."""
    from .sampling import star_components

    r = spark.table("customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal"),
    )
    wr = W.partitionBy("nat").orderBy("bal", "k")
    # Rank-adjacent comparison via lead() in the SAME window pass (r14):
    # the successor at rnk+1 within a nation is BY DEFINITION the next
    # row of this window's ordering, so the former rank self-join
    # (second evaluation of the window subtree + a join exchange) is
    # exactly lead(k)/lead(bal) over the one nation-keyed sort already
    # paid for — guide §2.4. lead() is NULL at each partition's last
    # row, so end-of-block rows drop in the filter just as they found
    # no rnk+1 partner before. Measured 4.5 → 3.7 s at sf0.1 (the
    # star-contraction tail dominates what remains); pairs-subtree
    # plan: 3 Exchange / 1 SortMergeJoin → 1 / 0 (the full-query
    # explain truncates at star_components' checkpoints, so the
    # committed evidence is plans/r14/…_pairs_{before,after}.txt).
    pairs = (
        r.select(
            F.col("k").alias("ka"),
            F.lead("k").over(wr).alias("kb"),
            F.col("bal").alias("bal_a"),
            F.lead("bal").over(wr).alias("bal_b"),
        )
        .filter(
            F.col("kb").isNotNull()
            & (F.col("bal_b") - F.col("bal_a") <= 500)
        )
        .select("ka", "kb")
    )
    comp = star_components(pairs, "ka", "kb").select(
        F.col("node").alias("k"), F.col("component").alias("cid")
    )
    labeled = r.join(comp, "k", "left").select(
        "nat",
        "k",
        F.coalesce("cid", F.col("k")).alias("cid"),
        F.col("cid").isNotNull().alias("inc"),
    )
    return (
        labeled.groupBy(F.col("nat").cast("long").alias("nationkey"))
        .agg(
            F.count("*").cast("long").alias("n_records"),
            F.count(F.when(F.col("inc"), 1)).cast("long").alias("n_in_clusters"),
            F.countDistinct(F.when(F.col("inc"), F.col("cid")))
            .cast("long")
            .alias("n_clusters"),
            (
                F.count(F.when(F.col("inc"), 1))
                - F.countDistinct(F.when(F.col("inc"), F.col("cid")))
            )
            .cast("long")
            .alias("n_merged_away"),
        )
        .orderBy("nationkey")
    )
