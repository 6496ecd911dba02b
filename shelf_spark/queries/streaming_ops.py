"""Structured Streaming operators surfaced through the driver contract.

Each entry runs a real ``readStream`` plan over the events parquet with an
availableNow trigger (process everything, then stop) and returns the
result as a batch DataFrame. In a single pass watermarks drop nothing, so
``stream_tumbling_window`` is exactly the batch tumbling query — it gets
the same DuckDB oracle (full value-hash check, not rows-only).

The stateful `applyInPandasWithState` running totals are value-checked
too (r11): the update-mode emissions reduce to the final per-user state
snapshot, which has an exact SQL equivalent now that state accumulates
on the dsum_i integer grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import (SQL_ASOF_ORDERS, SQL_DSUM_VALUE, SQL_OHLC_DAILY,
                     SQL_TUMBLING_WINDOW, _sql_sessions)
from .num import sql_stream_sane_ts, stream_sane_ts
from .registry import query

#: Shared oracle-side event-time sanity predicate for WATERMARKED
#: streaming ops (see num.TS_STREAM_SANE_MIN: Spark's initial watermark
#: is epoch zero, so pre-1970 instants are born late).
SQL_SANE_TS = sql_stream_sane_ts()


def _events_path(sf_dir: str) -> str:
    import os

    return os.path.join(sf_dir, "events.parquet")


@query("stream_tumbling_window", oracle=SQL_TUMBLING_WINDOW)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as S

    stream = S.events_stream(spark, _events_path(sf_dir))
    return S.run_available_now(
        S.tumbling_counts(stream), "q_stream_tumbling", output_mode="complete"
    )


@query(
    "stream_user_running_totals",
    # the state operator sums FINITE values only (pandas dropna drops
    # NaN too; see streaming.user_running_totals) — the oracle carries
    # the matching isfinite filter inside the sum so a NaN/inf value
    # diverges on neither side (r12, r11 ADVICE)
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           coalesce((CAST(sum(CASE WHEN isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS DECIMAL(18,0))
                  END) AS DOUBLE) / 100.0), 0.0) AS total_value
    FROM events WHERE {SQL_SANE_TS}
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful running totals (``applyInPandasWithState``),
    value-exact (r11, VERDICT r10 ask #5 — formerly the last
    rows-only-without-a-twin entry): the raw update-mode emissions are
    reduced to each user's LAST emission (``max_by`` on the strictly
    increasing running count), i.e. the final state snapshot, which IS
    SQL-expressible. The state machinery stays fully exercised — counts
    and sums accumulate across micro-batches inside the operator — and
    became oracle-checkable because the state now sums on the dsum_i
    integer grid (see streaming.user_running_totals), so the total is
    independent of batch boundaries and accumulation order."""
    from .. import streaming as S

    # Sanity window: the state rows cross the Arrow/pandas bridge, whose
    # ns-epoch timestamps die at year 2262 — a 9999 sentinel kills the
    # whole stateful job (r10 time corpus; num.TS_STREAM_SANE_MIN).
    stream = S.events_stream(spark, _events_path(sf_dir)).filter(
        stream_sane_ts(F.col("ts"))
    )
    raw = S.run_available_now(
        S.user_running_totals(stream), "q_stream_user_totals", output_mode="update"
    )
    return (
        raw.groupBy("user_id")
        .agg(
            F.max("n_events").cast("bigint").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_sliding_window",
    oracle=f"""
    WITH slid AS (
      SELECT e.*,
             (date_trunc('hour', ts)
               + CAST(floor(extract(minute FROM ts) / 5) * 5 AS INTEGER) * INTERVAL 1 MINUTE)
               - (k.k * INTERVAL 5 MINUTE) AS w_start
      FROM events e
      CROSS JOIN (VALUES (0), (1)) k(k)
    )
    SELECT w_start, count(*) AS n_events, {SQL_DSUM_VALUE} AS total_value
    FROM slid
    GROUP BY w_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows through a real readStream plan (availableNow pass):
    each event expands into its two overlapping 10/5-minute windows
    map-side, then one (window) groupBy with exact-decimal sums — the
    streaming state twin of batch ``events_sliding_window``."""
    from .. import streaming as S

    stream = S.events_stream(spark, _events_path(sf_dir))
    return S.run_available_now(
        S.sliding_totals(stream), "q_stream_sliding", output_mode="complete"
    )


@query(
    "stream_session_windows",
    oracle=f"""
    SELECT s_start AS session_start,
           s_end + INTERVAL 30 MINUTE AS session_end,
           user_id, n_events, session_value
    FROM ({_sql_sessions(f"(SELECT * FROM events WHERE {SQL_SANE_TS})")})
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (``F.session_window`` merge-state,
    no self-join) fed the full input in one availableNow pass — value-
    exact against the gaps-and-islands SQL oracle, with the session_window
    convention session_end = last event + gap. State at scale is O(open
    sessions) bounded by the watermark, not O(history)."""
    from .. import streaming as S

    # Event-time sanity window (num.TS_SANE_*): session ends past
    # 9999-12-31 are uncollectable (Python datetime), and session STATE
    # keyed on sentinel instants never closes — out-of-window rows are
    # excluded deterministically on both engines (r10 time corpus).
    stream = S.events_stream(spark, _events_path(sf_dir)).filter(
        stream_sane_ts(F.col("ts"))
    )
    return S.run_available_now(
        S.session_windows(stream), "q_stream_session", output_mode="complete"
    )


@query(
    "stream_dedup",
    oracle=f"""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events WHERE {SQL_SANE_TS}
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup surfaced as first-seen (user, type,
    day) keys — the exactly-once activity feed. State is the key set
    within the watermark horizon, which must cover the key's validity
    window (a day-grained key needs ~25h in steady state; here the whole
    synthetic span so the single availableNow pass drops nothing and the
    output is value-exact against SELECT DISTINCT). Append-mode
    `dropDuplicatesWithinWatermark` is the real production operator:
    bounded state, late duplicates beyond the horizon age out."""
    from pyspark.sql import functions as F

    from .. import streaming as S

    # Sanity window: a far-future sentinel would slam the watermark to
    # year 9999 and silently drop the whole backlog — by BATCH ORDER,
    # i.e. nondeterministically. Out-of-window rows are excluded
    # deterministically instead (r10 time corpus; num.TS_SANE_*).
    stream = S.events_stream(spark, _events_path(sf_dir)).filter(
        stream_sane_ts(F.col("ts"))
    )
    keyed = stream.select(
        "user_id",
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "ts",
    )
    deduped = (
        keyed.withWatermark("ts", "35 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    return S.run_available_now(deduped, "q_stream_dedup", output_mode="append")


@query(
    "stream_dedup_against_corpus",
    oracle="""
    SELECT doc_id, source, n_chars FROM documents
    WHERE sha256(text) NOT IN (
      SELECT sha256(text) FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
    )
    ORDER BY doc_id
    """,
)
def stream_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup against a STATIC corpus: incoming document
    shards (file stream) drop any doc whose SHA-256 fingerprint already
    exists in the ingested corpus (here: the 'src0'–'src4' slice). The
    stream side is stateless — no watermark, no state store — because
    the corpus carries the history; the corpus collapses to its distinct
    32-byte digests and is broadcast per micro-batch, so a corpus
    growing underneath the stream is picked up without restarts. This is
    the streaming face of the batch dedup ladder (dedup_exact), and the
    single availableNow pass makes it exactly the batch anti-join the
    oracle encodes."""
    import os

    from pyspark.sql import functions as F

    from .. import streaming as S

    corpus = spark.table("documents").filter(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    stream = S.documents_stream(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    fresh = S.dedup_against_corpus(stream, corpus).select(
        "doc_id", "source", "n_chars"
    )
    return S.run_available_now(
        fresh, "q_stream_corpus_dedup", output_mode="append"
    ).orderBy("doc_id")


@query(
    "stream_static_enrich",
    oracle=f"""
    WITH dim AS (
      SELECT user_id, count(*) AS n_lifetime FROM events GROUP BY user_id
    ), tiers AS (
      SELECT user_id,
             CASE WHEN n_lifetime >= 75 THEN 'heavy'
                  WHEN n_lifetime >= 60 THEN 'mid'
                  ELSE 'light' END AS tier
      FROM dim
    )
    SELECT event_type, tier,
           count(*) AS n_events,
           {SQL_DSUM_VALUE} AS total_value
    FROM events JOIN tiers USING (user_id)
    GROUP BY event_type, tier
    ORDER BY event_type, tier
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: each streamed event joins a BATCH
    per-user dimension (lifetime activity tier) via a broadcast hash
    join — stateless for the stream, re-read per micro-batch so a
    slowly-changing dim picks up updates without restarts — then rolls
    up per (event_type, tier). The rollup value sum rides the integer
    grid (num.dsum_i), so the single availableNow pass is value-exact
    against the batch join+rollup the oracle encodes."""
    from pyspark.sql import functions as F

    from .. import streaming as S
    from .num import dsum_i

    events = spark.table("events")
    dim = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_lifetime"))
        .select(
            "user_id",
            F.when(F.col("n_lifetime") >= 75, "heavy")
            .when(F.col("n_lifetime") >= 60, "mid")
            .otherwise("light")
            .alias("tier"),
        )
    )
    stream = S.events_stream(spark, _events_path(sf_dir))
    enriched = S.enrich_with_static(stream, dim, "user_id", how="inner")
    rolled = enriched.groupBy("event_type", "tier").agg(
        F.count("*").alias("n_events"), dsum_i(F.col("value"), 2).alias("total_value")
    )
    return S.run_available_now(
        rolled, "q_stream_enrich", output_mode="complete"
    ).orderBy("event_type", "tier")


@query(
    "stream_stream_conversions",
    oracle="""
    SELECT a.user_id,
           a.event_id AS first_event_id,
           b.event_id AS then_event_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    ORDER BY a.user_id, first_event_id, then_event_id
    """,
)
def stream_stream_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (conversion attribution): every
    'view' matched to the same user's 'purchase' events within the next
    30 minutes. Both sides carry watermarks and the join bounds
    event-time distance, so state expires once rows fall behind the
    horizon — O(events in horizon), the requirement for an unbounded
    run. The inner join emits each match exactly once, so the single
    availableNow pass equals the batch theta join the oracle encodes."""
    from pyspark.sql import functions as F

    from .. import streaming as S

    stream = S.events_stream(spark, _events_path(sf_dir))
    matched = S.stream_stream_correlate(
        stream, first_type="view", then_type="purchase", within="30 minutes"
    )
    out = matched.select(
        "user_id",
        "first_event_id",
        "then_event_id",
        (F.unix_micros("then_ts") - F.unix_micros("first_ts")).alias("gap_us"),
    )
    return S.run_available_now(
        out, "q_stream_conversions", output_mode="append"
    ).orderBy("user_id", "first_event_id", "then_event_id")


@query("stream_asof_enrich", oracle=SQL_ASOF_ORDERS)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING point-in-time enrichment: purchase events arriving on a
    file stream are as-of joined (backward) against the static orders
    relation per micro-batch via ``foreachBatch`` — the online
    feature-store materialization loop. Backward as-of against a STATIC
    right side is batch-decomposable (each left row's match is
    independent), so any micro-batch split yields exactly the batch
    result and the entry shares ``events_asof_orders``' DuckDB
    ASOF-JOIN oracle — a full value-hash check on a streaming loop.
    Each batch's enrichment is its ledger (streaming.run_ledger). Per
    batch the plan is the union-tag single-key-shuffle as-of; the
    collapsed orders side would be checkpointed once in a long-running
    job."""
    from .. import streaming as S
    from .events import asof_enrich_orders

    orders = spark.table("orders")
    stream = S.events_stream(spark, _events_path(sf_dir)).filter(
        F.col("event_type") == "purchase"
    )
    return S.run_ledger(
        stream, lambda batch: asof_enrich_orders(batch, orders)
    ).orderBy("purchase_id")


@query(
    "stream_cdc_upsert",
    oracle="""
    WITH seq AS (
      SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                || lpad(CAST(event_id AS VARCHAR), 20, '0') AS sk
      FROM events
    ), collapsed AS (
      -- struct_pack arg_max + IS DISTINCT FROM: last-row-image
      -- semantics with null fields preserved — see cdc_apply_changes
      -- (r10 nulls-corpus find; the two CDC twins share the contract).
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
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming APPLY CHANGES (foreachBatch MERGE into a versioned
    parquet state table — see streaming.run_cdc_upsert): the final state
    after consuming the whole changelog must equal the batch CDC
    collapse (cdc_apply_changes), so it shares that oracle — a full
    value-hash check on a foreachBatch maintenance loop. Multi-batch
    convergence (splits + out-of-order arrival) is pytest-covered in
    tests/test_streaming.py."""
    from .. import streaming as S

    stream = S.events_stream(spark, _events_path(sf_dir))
    final = S.run_cdc_upsert(spark, stream, S.scratch_dir("cdc-state"))
    # Null-safe tombstone test (see cdc_apply_changes).
    return (
        final.filter(~F.col("last_type").eqNullSafe(F.lit("error")))
        .select("user_id", "n_changes", "last_type", "last_value", "last_ts")
        .orderBy("user_id")
    )


@query("stream_ohlc_daily", oracle=SQL_OHLC_DAILY)
def stream_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_ohlc_daily, sharing its oracle verbatim:
    daily OHLC bars maintained as a watermarked streaming aggregate —
    open/close are min_by/max_by on the (ts, event_id) struct, a
    MERGEABLE formulation whose per-bar state is one (value, key) pair
    per side, so a live feed updates bars incrementally instead of
    re-sorting windows. The availableNow pass over the full parquet
    changelog must reproduce the batch bars bit-exactly (volume on the
    integer grid) — cross-algorithm evidence: streaming min_by/max_by
    merge trees vs the batch row_number window vs DuckDB's window SQL,
    three formulations, one value-hash."""
    from .. import streaming as S

    stream = S.events_stream(spark, _events_path(sf_dir))
    return S.run_available_now(
        S.daily_ohlc(stream), "q_stream_ohlc", output_mode="complete"
    )


#: Streaming DQ rules over events: mixed pass/fail on the fixture
#: (23 values ≥ 300 at sf0.01), so both ledger branches carry evidence.
_SDQ_RULES = (
    ("value_not_null", "value IS NULL"),
    ("value_non_negative", "value < 0"),
    (
        "type_in_catalog",
        "event_type NOT IN ('view', 'click', 'purchase', 'signup', 'error')",
    ),
    ("value_under_300", "value >= 300"),
)


@query(
    "stream_dq_expectations",
    oracle=f"""
    WITH agg AS (
      SELECT count(*) AS n_checked,
             {", ".join(
                 f"count(*) FILTER (WHERE {pred}) AS v{i}"
                 for i, (_, pred) in enumerate(_SDQ_RULES))}
      FROM events
    )
    {" UNION ALL ".join(
        f'''SELECT '{name}' AS rule, CAST(n_checked AS BIGINT) AS n_checked,
                   CAST(v{i} AS BIGINT) AS n_violations,
                   round(CAST(v{i} AS DOUBLE) / nullif(n_checked, 0), 6)
                     AS violation_rate,
                   (v{i} = 0) AS passed
            FROM agg'''
        for i, (name, _) in enumerate(_SDQ_RULES))}
    ORDER BY rule
    """,
)
def stream_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING data-quality gate: every micro-batch of the event
    stream is scored against the expectation catalog via
    ``foreachBatch``, committing an idempotent per-batch ledger
    (rule, checked, violations) to its own ``b{batch_id}`` directory
    — the continuous-ingest twin of `dq_expectation_suite`, i.e. the
    circuit-breaker a streaming pipeline consults before publishing a
    batch downstream. Violation counts are ADDITIVE, so the summed
    ledger equals the batch computation for ANY micro-batch split —
    which is exactly what the full DuckDB value-hash oracle checks.

    Scale shape: per batch, one conditional-count aggregate (a rule =
    one counter, never a second scan); the cross-batch merge sums
    R-row ledgers. Long-running jobs keep the same loop with a real
    trigger; streaming.run_ledger's per-batch overwrite makes
    at-least-once replay safe. One zero row per rule joins the ledgers
    before the sum, so a stream in which no micro-batch ran still
    reports every rule at zero checked and zero violations, like the
    batch twin: a circuit breaker that vanishes when the stream is
    silent would read as "all checks missing" downstream."""
    from .. import streaming as S
    from .stats import dq_ledger_rows

    def score_batch(batch_df: DataFrame) -> DataFrame:
        agg = batch_df.agg(
            F.count("*").alias("n_checked"),
            *[
                F.count(F.when(F.expr(pred), 1)).alias(f"v{i}")
                for i, (_, pred) in enumerate(_SDQ_RULES)
            ],
        )
        return dq_ledger_rows(agg, _SDQ_RULES)

    stream = S.events_stream(spark, _events_path(sf_dir))
    zeros = spark.createDataFrame(
        [(name, 0, 0) for name, _ in _SDQ_RULES],
        "rule string, n_checked bigint, n_violations bigint",
    )
    merged = (
        S.run_ledger(stream, score_batch)
        .unionByName(zeros)
        .groupBy("rule")
        .agg(
            F.sum("n_checked").cast("long").alias("n_checked"),
            F.sum("n_violations").cast("long").alias("n_violations"),
        )
    )
    return (
        merged.select(
            "rule",
            "n_checked",
            "n_violations",
            # try_divide + oracle nullif: 0-checked rules carry a NULL
            # rate on both engines, never an ANSI abort.
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
# r8e: streaming Count-Min sketch (mergeable frequency state, live)
# ---------------------------------------------------------------------------


def _cms_oracle() -> str:
    """stream_cms_frequencies' oracle: rollup_cms_frequencies' sketch
    over the events' user ids. A callable, rendered once every operator
    module is imported, because sketches.py registers after this one."""
    from .sketches import _CMS_D, _CMS_DUCK_BUCKET, _CMS_TOP

    return f"""
    WITH keyed AS (
      SELECT user_id AS key FROM events
    ), cells AS (
      SELECT j, {_CMS_DUCK_BUCKET} AS bucket, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT j, sha256(CAST(key AS VARCHAR)) AS h
            FROM keyed CROSS JOIN generate_series(0, {_CMS_D - 1}) AS g(j)) t
      GROUP BY 1, 2
    ), tops AS (
      SELECT key, CAST(count(*) AS BIGINT) AS true_cnt
      FROM keyed GROUP BY key
      ORDER BY true_cnt DESC, key LIMIT {_CMS_TOP}
    ), est AS (
      SELECT t.key, t.true_cnt, min(m.c) AS est_cnt
      FROM (SELECT key, true_cnt, j, {_CMS_DUCK_BUCKET} AS bucket
            FROM (SELECT key, true_cnt, j, sha256(CAST(key AS VARCHAR)) AS h
                  FROM tops
                  CROSS JOIN generate_series(0, {_CMS_D - 1}) AS g(j)) q) t
      JOIN cells m ON m.j = t.j AND m.bucket = t.bucket
      GROUP BY 1, 2
    )
    SELECT key AS user_id, true_cnt, est_cnt,
           (est_cnt >= true_cnt) AS never_undercounts
    FROM est ORDER BY true_cnt DESC, user_id
    """


@query("stream_cms_frequencies", oracle=_cms_oracle)
def stream_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of `rollup_cms_frequencies`: each micro-batch of
    the event stream builds its own d×w Count-Min grid of user-id
    frequencies as its ledger (streaming.run_ledger); the merged sketch
    is the cell-wise SUM of the ledgers — additive, so the merged state
    equals the batch-built sketch for ANY batch split, which is exactly
    what the full DuckDB value oracle checks (the same property
    stream_dq_expectations proves for counters, here proven for sketch
    STATE). This is the live shape: a feed maintains bounded frequency
    state (1,024 cells) forever, no key cardinality growth, heavy-key
    queries answered from state without rescanning history.

    The point-query side (the true top users + the one-sided-error
    witness) reads the static table — the stream owns the sketch, the
    batch side owns the ground truth it is checked against. Cells,
    top keys and estimates are sketches.py's builders."""
    from .. import streaming as S
    from .sketches import _cms_cells, _cms_estimates, _cms_tops

    def keyed(events: DataFrame) -> DataFrame:
        return events.select(F.col("user_id").alias("key"))

    stream = S.events_stream(spark, _events_path(sf_dir))
    merged = (
        S.run_ledger(stream, lambda batch: _cms_cells(keyed(batch)))
        .groupBy("j", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    tops = _cms_tops(keyed(spark.table("events")))
    return (
        _cms_estimates(tops, merged)
        .withColumnRenamed("key", "user_id")
        .orderBy(F.desc("true_cnt"), "user_id")
    )


def _bitmap_oracle() -> str:
    """rollup_bitmap_distinct's oracle, which registers after this module."""
    from .rollups import SQL_BITMAP_DISTINCT

    return SQL_BITMAP_DISTINCT


@query("stream_bitmap_distinct", oracle=_bitmap_oracle)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of `rollup_bitmap_distinct`: each micro-batch's
    (day, bucket) bitmap cells are its ledger (streaming.run_ledger);
    the live state is the bitmap_or_agg of the ledgers — OR is
    idempotent AND commutative, so the merged state equals the
    batch-built bitmaps for ANY batch split AND under replayed batches
    (a strictly stronger invariance than the CMS's additive merge,
    which replay would double-count). The full value oracle (plain
    COUNT DISTINCT at both grains) checks exactly that, making this
    the EXACT live distinct-user feed the HLL tier approximates. Cells
    and readout are rollups.py's builders."""
    from .. import streaming as S
    from .rollups import _bitmap_cells, _bitmap_distinct

    stream = S.events_stream(spark, _events_path(sf_dir))
    cells = (
        S.run_ledger(stream, _bitmap_cells)
        .groupBy("day", "bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
    )
    return _bitmap_distinct(cells)


# ---------------------------------------------------------------------------
# streaming freshness monitor (mergeable MAX state, live)
# ---------------------------------------------------------------------------


def _freshness_oracle() -> str:
    """dq_freshness_lag's oracle, which registers after this module."""
    from .stats import SQL_FRESHNESS_LAG

    return SQL_FRESHNESS_LAG


@query("stream_freshness_lag", oracle=_freshness_oracle)
def stream_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING freshness monitor — the continuous twin of
    dq_freshness_lag: every micro-batch's (event_type, count, max ts) is
    its ledger (streaming.run_ledger); the merged view takes max-of-maxes
    and sum-of-counts, both MERGEABLE for any micro-batch split, which
    is exactly what the shared batch oracle's value hash proves. This is
    the live "did a producer stop publishing?" alarm — the one DQ check
    that only makes sense streaming, because staleness is a property of
    NOW.

    Scale shape: per batch one count/max aggregate onto the bounded
    event_type domain (map-side combine; state = one timestamp + one
    counter per type per batch); the cross-batch merge reads R-row
    ledgers. The per-slice aggregate and the lag finish are stats.py's
    builders."""
    from .. import streaming as S
    from .stats import _freshness_lag, _freshness_per

    stream = S.events_stream(spark, _events_path(sf_dir))
    per = (
        S.run_ledger(stream, _freshness_per)
        .groupBy("event_type")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.max("latest_ts").alias("latest_ts"),
        )
    )
    return _freshness_lag(per)
