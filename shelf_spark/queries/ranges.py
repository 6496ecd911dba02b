"""Interval-join and language-model scoring operators.

`join_range_bucketed` is the canonical Spark answer to the range-join
problem: a point-in-interval join expressed as BETWEEN alone plans as a
nested-loop/cartesian (O(n·m) — the scale killer); bucketing the time
axis turns it into an equi-join on the bucket key plus a cheap refine
predicate. `text_lm_score` is the perplexity-filtering stage of an LLM
data pipeline with the LM reduced to a corpus unigram model so the whole
thing stays oracle-checkable.

Reference parity: shelf delegates both to SQL steps (reference
src/shelf/tables.py:155-181) — the bucketed rewrite is exactly what a
user would need once the naive BETWEEN step stopped scaling.

Scale notes (100 TB):
- Bucketed interval join: intervals explode into their covered buckets
  (≤⌈len/bucket⌉+1 rows each — bounded for bounded intervals); the join
  is then hash-partitioned on the bucket key like any equi-join, and the
  BETWEEN refine runs post-match. No cartesian anywhere (plan-pinned).
- A point matches in exactly one bucket (its own), so no post-join
  dedup is needed — the bucket-cover explode is on the interval side
  only.
- Unigram LM scoring: the vocab→logprob table is vocabulary-sized (AQE
  broadcasts while small); per-token logs are quantized to a 6-decimal
  grid then summed exactly in DECIMAL per doc — order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import _sessions, _sql_sessions
from .num import _round_ieee, _sql_round_ieee
from .pin import pin
from .registry import query
from .text import _doc_words, _sql_doc_words, _sql_word_counts, _word_counts

#: Bucket width for the interval join: one week of seconds.
_BUCKET_S = 7 * 86400

#: Promo windows: every 97th order opens a 7-day window from its date.
_SQL_INTERVALS = """
      SELECT o_orderkey AS promo_id,
             o_orderdate AS w_start,
             o_orderdate + INTERVAL 7 DAY AS w_end
      FROM orders WHERE o_orderkey % 97 = 0
"""


@query(
    "join_range_bucketed",
    oracle=f"""
    WITH intervals AS ({_SQL_INTERVALS})
    SELECT promo_id,
           CAST(count(*) AS BIGINT) AS n_shipped,
           CAST(sum(CAST(floor(l_quantity + 0.5) AS DECIMAL(18,0))) AS BIGINT) AS total_qty
    FROM intervals
    JOIN lineitem ON l_shipdate >= w_start AND l_shipdate < w_end
    GROUP BY promo_id
    ORDER BY promo_id
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (lineitems shipped inside each promo
    window) via time-bucketing: intervals explode into their covered
    week buckets, points join their single bucket equi-wise, BETWEEN
    refines. Planwise this is a hash join on the bucket key — the naive
    BETWEEN-only formulation is a nested-loop over every (interval,
    point) pair and dies at scale. Quantities are integral → exact.

    The point side is COMPRESSED before the join: points pre-aggregate
    to (timestamp, count, qty-sum) at their native granularity, so the
    join fans out over distinct timestamps × intervals instead of raw
    points × intervals. Exact because the interval aggregate is
    decomposable (sums of per-timestamp partials); this is what keeps
    join volume linear in intervals when interval density grows with
    the corpus on a fixed time axis (the 10× smoke's 11×-wall shape
    without it — every extra data copy multiplied BOTH join sides per
    bucket). Worst case — all-distinct timestamps — the pre-aggregate
    is a map-side-combined near-no-op and the plan degrades to the
    plain bucketed join, never below it."""
    orders = spark.table("orders")
    li = spark.table("lineitem")
    intervals = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("promo_id"),
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("w_end"),
    )
    # interval side: one row per covered bucket (7-day windows span ≤2)
    b_start = F.floor(F.col("w_start").cast("timestamp").cast("long") / _BUCKET_S)
    b_end = F.floor(F.col("w_end").cast("timestamp").cast("long") / _BUCKET_S)
    ivb = intervals.select(
        "*", F.explode(F.sequence(b_start, b_end)).alias("bucket")
    )
    # point side: weighted-point compression, then exactly one bucket per
    # row — no dedup needed after the join
    pts = (
        li.groupBy(F.col("l_shipdate").alias("p_ts"))
        .agg(
            F.count("*").alias("n_pts"),
            F.sum(
                F.floor(F.col("l_quantity") + F.lit(0.5)).cast("decimal(18,0)")
            ).alias("qty"),
        )
        .withColumn(
            "bucket",
            F.floor(F.col("p_ts").cast("timestamp").cast("long") / _BUCKET_S),
        )
    )
    return (
        pts.join(ivb, "bucket")
        .filter((F.col("p_ts") >= F.col("w_start")) & (F.col("p_ts") < F.col("w_end")))
        .groupBy("promo_id")
        .agg(
            F.sum("n_pts").alias("n_shipped"),
            F.sum("qty").cast("long").alias("total_qty"),
        )
        .orderBy("promo_id")
    )


@query(
    "text_lm_score",
    oracle="""
    WITH tok AS ({tok}
    ), vocab AS ({vocab}
    ), total AS (
      SELECT sum(c) AS n_total FROM vocab
    ), scored AS (
      SELECT doc_id,
             {lp} AS lp
      FROM tok JOIN vocab USING (word) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {mean} AS mean_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """.format(
        tok=_sql_doc_words(),
        vocab=_sql_word_counts(),
        lp=_sql_round_ieee("ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))", 6),
        mean=_sql_round_ieee(
            "CAST(sum(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / count(*)", 6
        ),
    ),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring (the oracle-checkable skeleton of
    perplexity filtering): corpus token frequencies → per-token log
    probabilities → mean log-prob per document. The vocab table is the
    only join input (AQE-sized); per-token logs land on a 6-decimal grid
    before the exact DECIMAL per-doc sum, so the mean is one IEEE
    division of identical values. A real neural LM would replace the
    vocab join with an Arrow-batched pandas UDF (udfs.py tier) — the
    pipeline shape is identical."""
    tok = _doc_words(spark)
    vocab = _word_counts(spark)
    total = vocab.agg(F.sum("c").alias("n_total"))
    lp = _round_ieee(
        F.log(F.col("c").cast("double") / F.col("n_total").cast("double")), 6
    )
    scored = tok.join(vocab, "word").crossJoin(F.broadcast(total)).select(
        "doc_id", lp.alias("lp")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            _round_ieee(
                F.sum(F.col("lp").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH sessions AS ({_sql_sessions()}),
    ov AS (
      SELECT a.user_id, a.session_id, count(*) AS n
      FROM sessions a JOIN sessions b
        ON a.s_start <= b.s_end AND b.s_start <= a.s_end
       AND NOT (a.user_id = b.user_id AND a.session_id = b.session_id)
      GROUP BY a.user_id, a.session_id
    )
    SELECT s.user_id, s.session_id,
           CAST(coalesce(ov.n, 0) AS BIGINT) AS n_concurrent
    FROM sessions s LEFT JOIN ov USING (user_id, session_id)
    ORDER BY s.user_id, s.session_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap concurrency: for every user session, how many
    OTHER sessions (any user) were concurrent with it. The oracle is the
    naive theta self-join (a.start <= b.end AND b.start <= a.end) —
    quadratic, nested-loop, the scale killer.

    The Spark plan is a SWEEP-LINE RANK rewrite, not a pair join: two
    intervals are disjoint iff one ends strictly before the other starts,
    and the two disjointness cases are mutually exclusive, so

        n_concurrent(a) = N - 1 - #(s_end < a.s_start)
                                - #(s_start > a.s_end).

    equivalently  n_concurrent(a) = #(s_start <= a.s_end)
                                  - #(s_end < a.s_start) - 1.

    Both counts are rank lookups against the distinct-time domain: one
    groupBy builds (t, starts_at, ends_at), two RUNNING-PREFIX sums over
    that domain table rank every boundary, and two hash equi-joins (on
    s_start and s_end — every session boundary IS a domain point) attach
    the ranks. Only [unboundedPreceding, …] frames are used — Spark
    computes those with a single running accumulator, whereas a
    [k, unboundedFollowing] suffix frame falls into
    UnboundedFollowingWindowFunctionFrame, which RECOMPUTES the
    aggregate per row (O(domain²): the first draft of this rewrite hung
    exactly there; suffix counts must be phrased as total − prefix).
    Total work is O(n) past the domain sort — the earlier hour-bucket
    pair join did Σ per-bucket-concurrency² work (3.4 s at sf0.1,
    degrading toward n² on dense-overlap workloads); this plan is 1.3 s
    (sessionization dominates) and volume-proportional at any overlap
    density. The prefix sums are DISTRIBUTED (prefix.attach_prefix_sums:
    range-partition the boundary domain, local running sums, broadcast
    per-partition offsets) — the domain grows linearly with raw events,
    so the single-task ``Window.orderBy(t)`` formulation would be a
    serial wall at 100 TB, not a tail. When the downstream needs the
    overlapping PAIRS rather than counts, the bucket-explode equi-join
    (join_range_bucketed) remains the shape — pair enumeration cannot
    beat its own output size."""
    sessions = (
        _sessions(spark)
        .select("user_id", "session_id", "s_start", "s_end")
        # feeds the domain agg and both rank lookups (r15, sf0.1: lazy 142
        # tasks / 6.2-6.9 s CPU vs 76 tasks / 3.3-4.2 s, same 95,465 rows)
        .transform(pin, "fanout")
    )
    # Distinct-time domain with per-time boundary multiplicities, from
    # ONE scan of the pinned sessions (the _directed_edges idiom): the
    # former two-branch union read the checkpoint blocks twice and was
    # the first racing consumer pre-r15.
    domain = (
        sessions.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("s_start").alias("t"),
                        F.lit(1).alias("ns"),
                        F.lit(0).alias("ne"),
                    ),
                    F.struct(
                        F.col("s_end").alias("t"),
                        F.lit(0).alias("ns"),
                        F.lit(1).alias("ne"),
                    ),
                )
            ).alias("b")
        )
        .select("b.t", "b.ns", "b.ne")
        .groupBy("t")
        .agg(F.sum("ns").alias("starts_at"), F.sum("ne").alias("ends_at"))
    )
    from .prefix import attach_prefix_sums

    # Distributed prefix sums over the boundary domain: inclusive running
    # counts per boundary; the exclusive "ends strictly before" rank is
    # the inclusive rank minus the row's own multiplicity (one row per
    # distinct t, so no intra-tie ambiguity).
    # Both lookup joins read ranked in one job; the accepted race is
    # bounded: it recomputes only the domain-sized prefix chain over the
    # cached sessions (r15: 76 tasks / ~3.7 s CPU lazy vs 77 / ~5.1 s).
    ranked = attach_prefix_sums(
        domain, ["t"], ["starts_at", "ends_at"]
    ).select(
        "t",
        (F.col("ends_at_upto") - F.col("ends_at")).alias("ends_before"),
        F.col("starts_at_upto").alias("starts_upto"),
    ).transform(pin, "reuse")
    return (
        sessions.join(
            ranked.select(F.col("t").alias("s_start"), "ends_before"), "s_start"
        )
        .join(ranked.select(F.col("t").alias("s_end"), "starts_upto"), "s_end")
        .select(
            "user_id",
            "session_id",
            (F.col("starts_upto") - F.col("ends_before") - 1)
            .cast("bigint")
            .alias("n_concurrent"),
        )
        .orderBy("user_id", "session_id")
    )
