"""Query-layer tests: registry integrity, smoke, and golden results at
sf0.001 (the driver's DuckDB-oracle harness is replicated in full by
tools/check_correctness.py; these are the fast always-run subset)."""

from __future__ import annotations

import duckdb
import pytest

from conftest import BOUNDS, SF_SMALL, runs_in_one_task

from shelf_spark.data import TABLES, table_path
from shelf_spark.queries import ORACLES, QUERIES, sampling


def test_registry_integrity():
    assert QUERIES, "registry must not be empty"
    for name in ORACLES:
        assert name in QUERIES, f"oracle without query: {name}"
    # every query callable takes (spark, sf_dir)
    for fn in QUERIES.values():
        assert callable(fn)


def test_docstrings_have_no_placeholders():
    """``{_NAME}`` in an operator docstring is filled from its module at
    registration, so none may survive in the registered functions."""
    from shelf_spark.queries.registry import _PLACEHOLDER

    left = {n: _PLACEHOLDER.findall(fn.__doc__) for n, fn in QUERIES.items() if fn.__doc__}
    assert not {n: names for n, names in left.items() if names}


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_driver_window_discipline():
    """Window hygiene, mechanized (r8 verdict asks #1/#6): the driver's
    50-slot correctness window must contain 50 unique names, every one
    with a SQL oracle (a rows-only slot produces a guaranteed
    `err: no_oracle` row — a wasted slot), and — while a never-checked
    queue exists — only names WITHOUT a prior driver row from rounds
    before the window's own round."""
    import glob
    import json
    import re

    import __spark_entry__ as entry_mod

    window = list(entry_mod.queries())[:50]
    assert len(set(window)) == 50
    assert all(n in ORACLES for n in window), [
        n for n in window if n not in ORACLES
    ]
    window_round = max(
        int(m.group(1))
        for v in vars(entry_mod)
        if (m := re.match(r"_DRIVER_WINDOW_R(\d+)$", v))
    )
    seen: set[str] = set()
    for path in glob.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        if rnd < window_round:
            with open(path) as fh:
                seen |= set(json.load(fh))
    # Fix-driven re-proofs are the sanctioned exception: a query whose
    # expression changed after its last driver row may re-enter the
    # window if the entry module lists it explicitly.
    reproof = set(getattr(entry_mod, "_DRIVER_WINDOW_REPROOF", ()))
    if any(n not in seen for n in ORACLES):
        # never-checked queue still open: every non-reproof slot must be
        # a first-ever row
        already = [n for n in window if n in seen and n not in reproof]
        assert not already, f"window wastes slots on already-checked: {already}"
    else:
        # queue CLOSED (r11): belt-and-braces rotation regime — every
        # non-reproof slot must go to the OLDEST rows: no non-window
        # oracled query may have an older latest-row than any windowed
        # belt-and-braces entry
        latest: dict[str, int] = {}
        for path in sorted(glob.glob("CORRECTNESS_r*.json")):
            rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
            if rnd >= window_round:
                continue
            with open(path) as fh:
                for name in json.load(fh):
                    latest[name] = rnd
        windowed = max(latest[n] for n in window if n not in reproof)
        skipped = min(
            latest[n] for n in ORACLES if n not in window and n in latest
        )
        assert windowed <= skipped, (
            f"belt-and-braces slots skip older rows: newest windowed row "
            f"r{windowed} > oldest skipped row r{skipped}"
        )


def test_q1_golden_vs_duckdb(spark):
    """One full oracle comparison inline (the rest run via tools/)."""
    sdf = QUERIES["q1_pricing_summary"](spark, SF_SMALL)
    srows = sorted(tuple(r) for r in sdf.collect())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_SMALL, t)}')"
        )
    drows = sorted(tuple(r) for r in con.execute(ORACLES["q1_pricing_summary"]).fetchall())
    assert srows == drows


@pytest.mark.parametrize("name", ["join_semi", "window_rank", "events_asof_join"])
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF_SMALL)
    assert df.count() >= 0


def test_hash_sample_invariant_to_partitioning(spark):
    """The kept-row set of content-hash sampling must depend only on row
    content — never on partition layout. (df.sample would fail this.)"""
    from shelf_spark.data import register_views

    register_views(spark, SF_SMALL)
    base = QUERIES["sample_bernoulli_hash"](spark, SF_SMALL)
    ids = sorted(r.doc_id for r in base.select("doc_id").collect())
    assert ids, "sample should be non-empty"

    d = spark.table("documents").repartition(13, "lang")
    d.createOrReplaceTempView("documents")
    try:
        reshuffled = QUERIES["sample_bernoulli_hash"](spark, SF_SMALL)
        ids2 = sorted(r.doc_id for r in reshuffled.select("doc_id").collect())
    finally:
        register_views(spark, SF_SMALL, force=True)
    assert ids == ids2


def test_scan_pushdown_plan(spark):
    """Filter + projection must reach the parquet scan."""
    df = QUERIES["scan_project_filter"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    # pruned read schema: only the 5 referenced columns, not all 11
    assert "l_comment" not in plan


def test_prefix_filtered_jaccard_equals_naive(spark):
    """jaccard_pairs_exact (prefix filtering) must produce EXACTLY the
    naive inverted-index join's pairs — the guarantee that lets the DuckDB
    oracles stay naive while the Spark side prunes. Checked on randomized
    corpora with heavy duplication and tiny vocabularies (the worst case
    for prefix pruning: everything is a hot shingle)."""
    import random

    from pyspark.sql import functions as F

    from shelf_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _shingles,
        _words,
        jaccard_pairs_exact,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        docs = []
        for doc_id in range(60):
            if docs and rng.random() < 0.4:
                base = rng.choice(docs)[1].split()
                k = max(3, int(len(base) * 0.8))
                text = " ".join(base[:k] + rng.choices(vocab, k=len(base) - k))
            else:
                text = " ".join(rng.choices(vocab, k=rng.randint(5, 30)))
            docs.append((doc_id, text))
        d = spark.createDataFrame(docs, "doc_id long, text string")

        got = {
            (r.doc_a, r.doc_b, round(r.jaccard, 6))
            for r in jaccard_pairs_exact(d, JACCARD_THRESHOLD).collect()
        }

        sets = d.select("doc_id", _shingles(_words()).alias("sh"))
        a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
        b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
        n_common = F.size(F.array_intersect("sa", "sb"))
        jac = n_common.cast("double") / (F.size("sa") + F.size("sb") - n_common)
        want = {
            (r.doc_a, r.doc_b, round(r.jaccard, 6))
            for r in a.crossJoin(b)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(jac >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .collect()
        }
        assert got == want, f"seed {seed}: {got ^ want}"


def test_sf_dir_switching_reregisters_views(spark):
    """One session querying two sf dirs alternately must always read the
    dir it was asked for — view registration is keyed per (session, dir)
    and re-issued on switch, so stale views can't leak across scales."""
    small = QUERIES["q6_forecast_revenue"](spark, "/root/testdata/sf0.001").collect()
    big = QUERIES["q6_forecast_revenue"](spark, "/root/testdata/sf0.01").collect()
    again = QUERIES["q6_forecast_revenue"](spark, "/root/testdata/sf0.001").collect()
    assert small == again
    assert small != big  # different scale, different revenue


def test_hll_rollup_estimates_close_to_exact(spark):
    """Since r11 the driver value-checks the ε-bounded output (exact
    count + within-10% asserts); keep the TIGHTER 5% pin here on the raw
    sketch estimates (recomputed directly — the query no longer emits
    them), and that the query's exact counts and assertion columns hold."""
    from pyspark.sql import functions as F

    from shelf_spark.queries import QUERIES

    out = {
        r.grain: (r.exact_users, r.est_within_tol)
        for r in QUERIES["rollup_hll_mergeable"](spark, SF_SMALL).collect()
    }
    e = spark.table("events").select(
        F.date_trunc("day", "ts").cast("date").cast("string").alias("grain"),
        "user_id",
    )
    exact = {
        r.grain: r.n
        for r in e.groupBy("grain").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    exact["ALL"] = e.select("user_id").distinct().count()
    assert set(out) == set(exact)
    for grain, (n, ok) in out.items():
        assert n == exact[grain], grain
        assert ok is True, grain
    # raw estimates, recomputed: the tighter 5% band still holds
    ests = {
        r.grain: r.est
        for r in e.groupBy("grain")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    ests["ALL"] = (
        e.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
        ).first()["est"]
    )
    for grain, est in ests.items():
        assert abs(est - exact[grain]) <= max(1, 0.05 * exact[grain]), grain


def test_approx_distinct_estimates_close_to_exact(spark):
    """Since r11 the driver value-checks the ε-bounded output (exact
    count + within-tolerance asserts); keep the TIGHTER 5% pin here on
    the raw estimates (recomputed directly — the query now emits the
    assertion columns instead), and that the query's columns hold."""
    from pyspark.sql import functions as F

    out = {
        r.l_returnflag: (r.exact_parts, r.hll_within_tol, r.pctl_within_band)
        for r in QUERIES["agg_approx_distinct"](spark, SF_SMALL).collect()
    }
    li = spark.table("lineitem")
    exact = {
        r.l_returnflag: (r.n, r.med)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
        )
        .collect()
    }
    assert set(out) == set(exact)
    for flag, (n_out, hll_ok, pctl_ok) in out.items():
        assert n_out == exact[flag][0], flag
        assert hll_ok is True and pctl_ok is True, flag
    ests = {
        r.l_returnflag: (r.est_n, r.est_med)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("est_n"),
            F.expr(
                "approx_percentile(l_extendedprice, 0.5, 1000)"
            ).alias("est_med"),
        )
        .collect()
    }
    for flag, (est_n, est_med) in ests.items():
        n, med = exact[flag]
        assert abs(est_n - n) <= max(1, 0.05 * n), (flag, est_n, n)
        assert abs(est_med - med) <= 0.05 * med, (flag, est_med, med)


def test_heavy_hitters_invariant_to_partitioning(spark):
    """The Misra–Gries candidate pass must not change the (exact) output
    under adversarial repartitioning — the no-false-negative guarantee
    is per-partition, so shuffle the tokens into many small partitions
    and compare against the brute-force groupBy."""
    from pyspark.sql import functions as F

    from shelf_spark.data import register_views
    from shelf_spark.queries import QUERIES
    from shelf_spark.queries.sketches import _HH_K, _mg_candidates

    base = {
        (r.token, r.cnt)
        for r in QUERIES["agg_heavy_hitters"](spark, SF_SMALL).collect()
    }
    register_views(spark, SF_SMALL)
    toks = (
        spark.table("documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .repartition(16)  # hash-scatter: every partition sees every token
    )
    cands = toks.mapInPandas(_mg_candidates, "token string").distinct()
    counted = (
        toks.join(F.broadcast(cands), "token", "leftsemi")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = toks.count()
    scattered = {
        (r.token, r.cnt) for r in counted.where(F.col("cnt") * _HH_K > total).collect()
    }
    brute = (
        spark.table("documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") * _HH_K > total)
    )
    expected = {(r.token, r.cnt) for r in brute.collect()}
    assert base == expected
    assert scattered == expected


def test_cdc_collapse_equals_window_sort_formulation(spark):
    """cdc_apply_changes' max_by aggregate must agree row-for-row with
    the reference window-sort formulation (row_number over the sequence
    key, rn=1) — the two plans differ only in shuffle shape."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from shelf_spark.data import register_views

    register_views(spark, SF_SMALL)
    got = sorted(
        tuple(r) for r in QUERIES["cdc_apply_changes"](spark, SF_SMALL).collect()
    )
    e = spark.table("events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ref = (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_changes",
            F.count("*").over(Window.partitionBy("user_id")).cast("long"),
        )
        .filter("rn = 1")
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            "n_changes",
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )
    assert got == sorted(tuple(r) for r in ref.collect())


def test_weighted_topk_reduces_to_plain_order_sampling(spark):
    """With every weight forced to 1 the A-ES key is a single hash draw —
    the sampler must degrade to plain top-k by that hash (the w=1 case of
    the exponential race)."""
    from pyspark.sql import functions as F

    from shelf_spark.data import register_views
    from shelf_spark.queries.sampling import WEIGHTED_K

    register_views(spark, SF_SMALL)
    d = spark.table("documents")
    plain = (
        d.select(
            "doc_id",
            F.substring(
                F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit("#0")), 256),
                1,
                16,
            ).alias("sk"),
        )
        .orderBy(F.desc("sk"), "doc_id")
        .limit(WEIGHTED_K)
    )
    expected = [r.doc_id for r in plain.collect()]
    # weight = 1 + (n_chars % 5) — zero out the modulus by mapping n_chars
    # to a constant via a one-column override view
    d.withColumn("n_chars", F.lit(5)).createOrReplaceTempView("documents")
    try:
        got = [
            r.doc_id
            for r in QUERIES["sample_weighted_topk"](spark, SF_SMALL).collect()
        ]
    finally:
        register_views(spark, SF_SMALL, force=True)
    assert got == expected


def test_quantile_bins_partition_the_table(spark):
    """Bins must cover every row exactly once, be value-contiguous
    (max of bin i < min of bin i+2's floor ordering), and be
    near-equal-frequency."""
    from shelf_spark.data import register_views

    register_views(spark, SF_SMALL)
    rows = QUERIES["ml_quantile_bins"](spark, SF_SMALL).collect()
    total = spark.table("lineitem").count()
    assert sum(r.n_rows for r in rows) == total
    assert [r.bin for r in rows] == sorted(r.bin for r in rows)
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_price <= hi.min_price
    avg = total / len(rows)
    for r in rows:
        assert r.n_rows >= 0.5 * avg and r.n_rows <= 2.0 * avg


def test_interval_overlap_matches_naive_theta_join(spark):
    """The sweep-line rank identity must reproduce the naive O(n²)
    theta-join counts exactly (in Spark, independent of the DuckDB
    oracle)."""
    from pyspark.sql import functions as F

    from shelf_spark.data import register_views

    register_views(spark, SF_SMALL)
    got = QUERIES["join_interval_overlap"](spark, SF_SMALL)
    # reconstruct session intervals with the query's own definition
    # (30-minute gaps-and-islands) and count overlaps the naive way
    from pyspark.sql import Window

    e = spark.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 30 * 60
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    a, b = sess.alias("a"), sess.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.s_start") <= F.col("b.s_end"))
            & (F.col("b.s_start") <= F.col("a.s_end"))
            & ~(
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("a.session_id") == F.col("b.session_id"))
            ),
        )
        .groupBy(F.col("a.user_id").alias("user_id"), F.col("a.session_id").alias("session_id"))
        .agg(F.count("*").alias("n"))
    )
    naive_full = (
        sess.join(naive, ["user_id", "session_id"], "left")
        .select(
            "user_id",
            "session_id",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_concurrent"),
        )
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in naive_full.collect()
    )


def test_asof_nearest_matches_naive_min_gap(spark):
    """The two-directional running-last rewrite must reproduce the naive
    per-purchase min-|gap| pick over ALL of the user's clicks (backward
    ties win) — in Spark, independent of the DuckDB oracle."""
    from pyspark.sql import functions as F

    from shelf_spark.data import register_views

    register_views(spark, SF_SMALL)
    got = {
        r.purchase_id: r.nearest_click_ts
        for r in QUERIES["events_asof_nearest"](spark, SF_SMALL).collect()
    }
    e = spark.table("events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    us = lambda col: F.unix_micros(F.col(col).cast("timestamp"))  # noqa: E731
    naive = (
        p.join(c, "user_id", "left")
        .groupBy("event_id")
        .agg(
            F.min_by(
                "c_ts",
                F.struct(
                    F.abs(us("c_ts") - us("p_ts")).alias("gap"),
                    # backward (click <= purchase) wins equal-|gap| ties
                    (us("c_ts") > us("p_ts")).cast("int").alias("fwd"),
                ),
            ).alias("nearest")
        )
    )
    want = {r.event_id: r.nearest for r in naive.collect()}
    assert got == want


def test_asof_orders_single_key_shuffle(spark):
    """The table-vs-table as-of join must shuffle each side once on the
    join key (union + window), never range-explode: at most the key
    exchange(s) + the presentation sort, and no nested-loop join."""
    from shelf_spark.plans import physical_plan

    df = QUERIES["events_asof_orders"](spark, SF_SMALL)
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # union-side hash exchange(s) on user_id + range for ORDER BY; the
    # orders pre-collapse adds one agg exchange
    from shelf_spark.plans import exchange_count

    assert exchange_count(df) <= 3


def test_minhash_lsh_bounds(spark):
    """VALUE-level evidence for the rows-only LSH operator (r7 verdict
    ask #6): precision must be EXACTLY 1 (every emitted pair is a true
    exact-Jaccard >= t pair with the correct jaccard value — the verify
    stage guarantees it), and recall vs the exact Bayardo join must beat
    the analytic banding bound, evaluated pair-by-pair from each true
    pair's actual Jaccard: P(detect | J) = 1 - (1 - J^r)^b."""
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_SMALL).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_SMALL).collect()
    }
    # precision == 1: emitted pairs are a subset of the exact join, with
    # identical jaccard values.
    for pair, j in lsh.items():
        assert pair in exact and exact[pair] == j, pair
    # recall >= half the analytic expectation (a deterministic run can
    # land under the mean; 0.5x leaves slack while still failing on any
    # real banding bug — a broken bucket join scores ~0).
    from shelf_spark.queries.dedup import N_BANDS, ROWS_PER_BAND

    expected = sum(
        1 - (1 - j**ROWS_PER_BAND) ** N_BANDS for j in exact.values()
    )
    assert len(lsh) >= 0.5 * expected, (len(lsh), expected)


def test_minhash_lsh_selfdup_stratum_complete(spark):
    """The injected-duplicate twin must be NON-vacuous (>= one J=1 pair
    per document) and every document must meet its own re-keyed copy —
    the lossless-at-J=1 claim its oracle promotion rests on."""
    from shelf_spark.queries.dedup import _SELFDUP_OFFSET

    twin = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh_selfdup"](spark, SF_SMALL).collect()
    }
    from shelf_spark.data import register_views

    register_views(spark, SF_SMALL)
    docs = [r.doc_id for r in spark.table("documents").select("doc_id").collect()]
    assert len(docs) > 0
    for d in docs:
        assert (d, d + _SELFDUP_OFFSET) in twin, d


def test_simhash_matches_python_reference(spark):
    """VALUE-level evidence for the rows-only simhash operator: recompute
    every fingerprint in plain Python from Spark's per-token xxhash64
    (the one primitive DuckDB cannot replicate — trusted here, since both
    sides of THIS test share it) and require bit-equality of the 64-bit
    fingerprint and the 16-bit band for every document."""
    from pyspark.sql import functions as F

    from shelf_spark.data import register_views

    register_views(spark, SF_SMALL)
    got = {
        r.doc_id: (r.simhash, r.band16)
        for r in QUERIES["dedup_simhash"](spark, SF_SMALL).collect()
    }
    # per-distinct-token hashes, straight from the primitive
    tok = (
        spark.table("documents")
        .select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
        .select("doc_id", F.xxhash64("w").alias("h"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {}
    for r in tok:
        by_doc.setdefault(r.doc_id, []).append(r.h)
    assert set(by_doc) == set(got)
    for doc_id, hashes in by_doc.items():
        votes = [0] * 64
        for h in hashes:
            for j in range(64):
                votes[j] += 1 if ((h >> j) & 1 if h >= 0 else ((h + (1 << 64)) >> j) & 1) else -1
        fp = sum(1 << j for j in range(64) if votes[j] > 0)
        # Spark's simhash is a signed int64 built by shiftleft sums
        fp_signed = fp - (1 << 64) if fp >= (1 << 63) else fp
        band16 = fp >> 48
        assert got[doc_id] == (fp_signed, band16), doc_id


def test_ivf_topk_bounds(spark):
    """VALUE-level evidence for the rows-only IVF operator: (a) every
    reported cosine must bit-match the brute-force value for that pair
    (the distance math is exact; only CANDIDATE pruning approximates),
    and (b) recall@k vs the exact baseline must clear 0.25 — an honest
    bound for N_PROBE=3 semantic cells (measured 0.34 at sf0.001 /
    0.46 at sf0.01), and ~10x above the ~0.02 a broken cell join or
    ranking bug would score."""
    ivf = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in QUERIES["ann_ivf_topk"](spark, SF_SMALL).collect()
    }
    exact_all = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in QUERIES["ann_cosine_topk"](spark, SF_SMALL).collect()
    }
    hits = [p for p in ivf if p in exact_all]
    for p in hits:
        assert ivf[p] == exact_all[p], p  # bit-exact distance math
    assert len(hits) >= 0.25 * len(exact_all), (len(hits), len(exact_all))


def test_roc_auc_matches_naive_rank_formulation(spark):
    """The compressed-domain midrank AUC must equal the naive per-row
    average-rank computation on adversarial random data (heavy ties —
    the case midranks exist for). Reference computed in plain Python."""
    import random

    from pyspark.sql import functions as F

    from shelf_spark.queries.prefix import attach_prefix_sums
    from shelf_spark.queries.stats import _D38
    from shelf_spark.queries.num import _round_ieee

    for seed in (11, 42):
        rng = random.Random(seed)
        # scores drawn from a tiny domain => massive ties; labels correlated
        rows = [
            (i, rng.randint(0, 5), rng.random() < 0.3 + 0.1 * (i % 3))
            for i in range(300)
        ]
        sc = spark.createDataFrame(rows, "doc_id long, score long, y boolean")
        dom = sc.groupBy("score").agg(
            F.count("*").alias("nt"), F.count(F.when(F.col("y"), 1)).alias("np")
        )
        dom = attach_prefix_sums(dom, ["score"], ["nt"])
        contrib = F.col("np").cast(_D38) * (
            2 * (F.col("nt_upto") - F.col("nt")) + F.col("nt") + 1
        ).cast(_D38)
        agg = dom.agg(
            F.sum(contrib).alias("r2"), F.sum("np").alias("p"), F.sum("nt").alias("t")
        ).first()
        p, n = int(agg.p), int(agg.t) - int(agg.p)
        auc_spark = (int(agg.r2) - p * (p + 1)) / (2.0 * p * n)

        # naive reference: average ranks over the sorted rows
        scores = sorted((s, y) for _, s, y in rows)
        ranks: dict[int, list[int]] = {}
        for idx, (s, _) in enumerate(scores, start=1):
            ranks.setdefault(s, []).append(idx)
        midrank = {s: sum(r) / len(r) for s, r in ranks.items()}
        r_pos = sum(midrank[s] for s, y in scores if y)
        auc_ref = (r_pos - p * (p + 1) / 2) / (p * n)
        assert abs(auc_spark - auc_ref) < 1e-12, (seed, auc_spark, auc_ref)


def test_lift_deciles_bucket_formula_matches_row_number(spark):
    """The distributed decile assignment ((rank-1)*10 div n) must equal
    a direct row_number()-based bucketing on random data with ties."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W2

    from shelf_spark.queries.prefix import attach_prefix_sums

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 9)) for i in range(137)]
    sc = spark.createDataFrame(rows, "doc_id long, score long").select(
        "doc_id", "score", (-F.col("score")).alias("neg"), F.lit(1).alias("one")
    )
    rn = attach_prefix_sums(sc, ["neg", "doc_id"], ["one"])
    n = len(rows)
    got = {
        r.doc_id: (r.one_upto - 1) * 10 // n for r in rn.collect()
    }
    w = W2.orderBy(F.desc("score"), "doc_id")
    want = {
        r.doc_id: (r.rn - 1) * 10 // n
        for r in sc.select("doc_id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


def test_ks_statistic_matches_brute_force(spark):
    """The prefix-sum KS (integer cross-multiplied argmax) must equal a
    brute-force scan over every threshold on random tied data."""
    import random

    from pyspark.sql import functions as F

    from shelf_spark.queries.prefix import attach_prefix_sums
    from shelf_spark.queries.stats import _D38

    rng = random.Random(5)
    rows = [(i, rng.randint(0, 7), rng.random() < 0.4) for i in range(400)]
    sc = spark.createDataFrame(rows, "doc_id long, score long, y boolean")
    dom = sc.groupBy("score").agg(
        F.count("*").alias("nt"), F.count(F.when(F.col("y"), 1)).alias("np")
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
    top = d.orderBy(F.desc("dist"), "score").limit(1).first()
    # brute force in python
    p = sum(1 for _, _, y in rows if y)
    n = len(rows) - p
    best = (-1, None)
    for s in sorted({r[1] for r in rows}):
        cp = sum(1 for _, sc_, y in rows if sc_ <= s and y)
        cn = sum(1 for _, sc_, y in rows if sc_ <= s and not y)
        dist = abs(cp * n - cn * p)
        if dist > best[0]:
            best = (dist, s)
    assert (int(top.dist), top.score) == best, (top, best)


def test_layout_tag_changes_when_fixture_regenerated(tmp_path):
    """The /tmp layout cache key must change when a source table is
    rewritten in place — a stale bucketed/partitioned copy would
    value-mismatch the oracle (which reads the fresh parquet)."""
    import os
    import shutil
    import time

    from shelf_spark.queries.relational_ext import _layout_tag

    sf = str(tmp_path)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{sf}/events.parquet")
    t1 = _layout_tag(sf, "events")
    assert t1 == _layout_tag(sf, "events")  # stable while untouched
    os.utime(f"{sf}/events.parquet", ns=(time.time_ns(), time.time_ns() + 1))
    assert _layout_tag(sf, "events") != t1


def test_query_layer_names_no_fixed_tmp_path():
    """Layout copies live under a per-process root (relational_ext's
    ``_layout``); a fixed temp path is shared by concurrent processes."""
    import re

    from conftest import owners

    assert owners(re.escape('"/tmp/')) == set()


def test_layout_copies_live_under_this_process_root(spark):
    """Each layout copy of the six layout operators is written under this
    process's ``shelf-layout-<pid>-`` root, once per (name, tag)."""
    import os

    from shelf_spark.queries import relational_ext as rx

    names = ("join_bucketed_colocated", "sink_partitioned_pruning",
             "join_dynamic_partition_pruning", "scan_merge_schema",
             "sink_orc_roundtrip", "scan_csv_malformed")
    for name in names:
        QUERIES[name](spark, SF_SMALL).collect()
    app = spark.sparkContext.applicationId
    copies = {k[1:]: p for k, p in rx._LAYOUTS.items() if k[0] == app}
    assert {n for n, _ in copies} >= {"bkt_orders", "bkt_customer", "events",
                                     "mergeschema", "orc", "csvmal"}
    root = rx._layout_root()
    assert os.path.basename(root).startswith(f"shelf-layout-{os.getpid()}-")
    assert all(os.path.dirname(p) == root and os.listdir(p) for p in copies.values())
    written = {p: os.stat(p).st_mtime_ns for p in copies.values()}
    for name in names:
        QUERIES[name](spark, SF_SMALL)
    assert {p: os.stat(p).st_mtime_ns for p in copies.values()} == written


def test_pq_topk_bounds(spark):
    """VALUE-level evidence for the rows-only PQ operator: (a) every
    reported cosine must bit-match the brute-force value for that pair
    (only the ADC candidate pool approximates — the rerank is exact),
    and (b) recall@k vs the exact baseline must clear 0.4 — honest for
    8x4-bit codes with a 50-vector rerank pool (measured 0.56 at
    sf0.001 / 0.64 at sf0.01), and far above the ~0.02 a broken
    codebook join or LUT aggregation would score."""
    pq = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in QUERIES["ann_pq_topk"](spark, SF_SMALL).collect()
    }
    exact_all = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in QUERIES["ann_cosine_topk"](spark, SF_SMALL).collect()
    }
    hits = [p for p in pq if p in exact_all]
    for p in hits:
        assert pq[p] == exact_all[p], p  # bit-exact rerank math
    assert len(hits) >= 0.4 * len(exact_all), (len(hits), len(exact_all))


def test_pack_sequences_ffd_invariants(spark):
    """VALUE-level evidence for the rows-only FFD packer: (a) no bin
    exceeds the context capacity, (b) token mass is conserved exactly
    vs a direct aggregate over the same tokenization, (c) the bin
    count stays within the analytic FFD guarantee (11/9·OPT + 6/9 per
    packer group) — a broken first-fit loop breaks (a) or (c), a
    dropped/duplicated document breaks (b)."""
    import math

    from pyspark.sql import functions as F

    from shelf_spark.queries.pipeline import _PACK_CONTEXT, _PACK_GROUPS

    bins = QUERIES["pack_sequences_ffd"](spark, SF_SMALL).collect()
    assert bins, "packer emitted no bins"
    assert all(r.bin_tokens <= _PACK_CONTEXT for r in bins)
    assert all(
        r.fill_rate
        == math.floor(r.bin_tokens / _PACK_CONTEXT * 1e6 + 0.5) / 1e6
        for r in bins
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        (
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat(F.lit("pack:"), F.col("doc_id").cast("string")),
                        256,
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % _PACK_GROUPS
        )
        .cast("int")
        .alias("packer"),
    )
    per_group = {
        r.packer: (r.total, r.n_docs)
        for r in d.groupBy("packer")
        .agg(F.sum("n_tokens").alias("total"), F.count("*").alias("n_docs"))
        .collect()
    }
    # (b) conservation, per group and overall
    got_tokens = {}
    got_docs = {}
    got_bins = {}
    for r in bins:
        got_tokens[r.packer] = got_tokens.get(r.packer, 0) + r.bin_tokens
        got_docs[r.packer] = got_docs.get(r.packer, 0) + r.n_docs
        got_bins[r.packer] = got_bins.get(r.packer, 0) + 1
    assert got_tokens == {p: t for p, (t, _) in per_group.items()}
    assert got_docs == {p: n for p, (_, n) in per_group.items()}
    # (c) FFD bound per group: bins <= 11/9 * OPT + 1, OPT >= ceil(total/C)
    for p, (total, _) in per_group.items():
        opt_lb = math.ceil(total / _PACK_CONTEXT)
        assert got_bins[p] <= math.floor(11 / 9 * opt_lb + 1), (
            p,
            got_bins[p],
            opt_lb,
        )


def test_benjamini_hochberg_matches_python_stepup(spark):
    """The BH step-up decision must equal a plain-Python reference run
    on the operator's own p-values: sort ascending, find the largest k
    with p_(k) <= alpha*k/m, flag exactly ranks 1..k. Validates the
    window/argmax logic independently of the SQL oracle (which shares
    the query's structure)."""
    from shelf_spark.queries.stats import _BH_ALPHA

    rows = QUERIES["stats_benjamini_hochberg"](spark, SF_SMALL).collect()
    m = len(rows)
    assert m >= 3
    by_rank = sorted(rows, key=lambda r: r.rnk)
    assert [r.rnk for r in by_rank] == list(range(1, m + 1))
    # p-values must be ascending in rank
    ps = [r.p_value for r in by_rank]
    assert ps == sorted(ps)
    kstar = 0
    for k in range(1, m + 1):
        if ps[k - 1] <= _BH_ALPHA * k / m:
            kstar = k
    for r in by_rank:
        assert r.significant == (r.rnk <= kstar), (r.rnk, kstar)
        assert r.bh_critical == round(_BH_ALPHA * r.rnk / m, 6)


def test_kcore_matches_python_peeling(spark, monkeypatch):
    """graph_kcore must equal a plain-Python peeling reference built
    from the same support-2 edge set (via DuckDB on the raw parquet),
    run to CONVERGENCE — proving the fixed 4 rounds reach the true
    2-core on the fixture, not just a prefix of the peeling. Runs on
    both sides of the one-task bound."""
    import duckdb

    from shelf_spark.queries.graph import _KCORE_K, _KCORE_MIN_SUPPORT

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_SMALL}/lineitem.parquet'"
    )
    edges = set(
        map(
            tuple,
            con.execute(f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (SELECT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
                  FROM baskets a JOIN baskets b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        supp AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2
                 HAVING count(*) >= {_KCORE_MIN_SUPPORT})
        SELECT p1, p2 FROM supp
        """).fetchall(),
        )
    )
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:  # peel to convergence
        drop = {n for n, ns in adj.items() if len(ns) < _KCORE_K}
        changed = bool(drop)
        for n in drop:
            for nb in adj.pop(n):
                if nb in adj:
                    adj[nb].discard(n)
    expected = {n: len(ns) for n, ns in adj.items() if ns}
    for bound, one_task in BOUNDS:
        monkeypatch.setattr(sampling, "_ONE_TASK_EDGES", bound)
        df = QUERIES["graph_kcore"](spark, SF_SMALL)
        assert runs_in_one_task(df) == one_task, bound
        assert {r.item: r.core_degree for r in df.collect()} == expected, bound


def test_naive_bayes_matches_python_reference(spark):
    """Every predicted label must equal a plain-Python multinomial NB
    (Counter-based counts, math.log scores) on the same split — the
    whole train+score plan re-derived outside both engines."""
    import math
    from collections import Counter, defaultdict

    import duckdb

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, lang, text FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    cwc, tot, nd = defaultdict(Counter), Counter(), Counter()
    vocab = set()
    n_train = 0
    for doc_id, lang, text in docs:
        ws = text.split(" ")
        if doc_id % 2 == 1:
            cwc[lang].update(ws)
            tot[lang] += len(ws)
            vocab.update(ws)
            nd[lang] += 1
            n_train += 1
    v = len(vocab)
    expected = {}
    for doc_id, lang, text in docs:
        if doc_id % 2 == 1:
            continue
        best = None
        for c in sorted(tot):
            lp = round(math.log(nd[c] / n_train), 12)
            s = 0.0
            for w, cnt in Counter(text.split(" ")).items():
                s += round(
                    cnt * round(math.log((cwc[c][w] + 1.0) / (tot[c] + v)), 12),
                    12,
                )
            score = s + lp
            if best is None or score > best[0]:
                best = (score, c)
        expected[doc_id] = best[1]
    got = {
        r.doc_id: r.predicted_lang
        for r in QUERIES["ml_naive_bayes_langid"](spark, SF_SMALL).collect()
    }
    assert got == expected


def test_window_funnel_matches_bruteforce(spark):
    """events_window_funnel must equal a brute-force per-user search:
    for every view event, try ALL click/purchase chains within the
    window (not just the greedy earliest) — empirically confirming the
    greedy-earliest argument the implementation relies on."""
    import datetime

    import duckdb

    from shelf_spark.queries.events import _WF_HOURS, _WF_STEPS

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, event_id, ts, event_type "
        f"FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    by_user = {}
    for u, eid, ts, et in rows:
        by_user.setdefault(u, []).append((ts, eid, et))
    horizon = datetime.timedelta(hours=_WF_HOURS)
    expected = {}
    for u, evs in by_user.items():
        evs.sort()
        best = 0
        for i, (ts_v, _, et_v) in enumerate(evs):
            if et_v != _WF_STEPS[0]:
                continue
            lvl = 1
            # any click strictly after the view, within window
            clicks = [
                j
                for j in range(i + 1, len(evs))
                if evs[j][2] == _WF_STEPS[1] and evs[j][0] <= ts_v + horizon
            ]
            if clicks:
                lvl = 2
                if any(
                    evs[k][2] == _WF_STEPS[2] and evs[k][0] <= ts_v + horizon
                    for j in clicks
                    for k in range(j + 1, len(evs))
                ):
                    lvl = 3
            best = max(best, lvl)
        expected[u] = best
    got = {
        r.user_id: r.funnel_level
        for r in QUERIES["events_window_funnel"](spark, SF_SMALL).collect()
    }
    assert got == expected


def test_markov_attribution_matches_python_reference(spark):
    """events_markov_attribution re-derived in plain Python: journeys,
    transition probabilities (12dp grid), 8-hop value iteration with
    CONV absorbing, per-channel removal chains, share normalization —
    the full trajectory outside both engines."""
    from collections import Counter, defaultdict

    import duckdb

    from shelf_spark.queries.analytics import (
        _MRA_CONV,
        _MRA_HOPS,
        _MRA_NULL,
        _MRA_START,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, event_id, ts, event_type "
        f"FROM '{SF_SMALL}/events.parquet' ORDER BY user_id, ts, event_id"
    ).fetchall()
    by_user = defaultdict(list)
    for u, _, _, et in rows:
        by_user[u].append(et)
    trans = Counter()
    for seq in by_user.values():
        states = []
        for et in seq:
            states.append(_MRA_CONV if et == "purchase" else et)
            if et == "purchase":
                break
        trans[(_MRA_START, states[0])] += 1
        for a, b in zip(states, states[1:]):
            trans[(a, b)] += 1
        if states[-1] != _MRA_CONV:
            trans[(states[-1], _MRA_NULL)] += 1
    outsum = Counter()
    for (a, _), n in trans.items():
        outsum[a] += n
    probs = {k: round(n / outsum[k[0]], 12) for k, n in trans.items()}
    channels = sorted({a for (a, _) in probs if a != _MRA_START})

    def conv_prob(removed=None):
        edges = {
            (a, b): p
            for (a, b), p in probs.items()
            if removed is None or (a != removed and b != removed)
        }
        v = {_MRA_CONV: 1.0}
        for _ in range(_MRA_HOPS):
            nv = defaultdict(float)
            for (a, b), p in edges.items():
                if b in v:
                    nv[a] += round(p * v[b], 12)
            nv[_MRA_CONV] = 1.0
            v = dict(nv)
        return v.get(_MRA_START, 0.0)

    pfull = conv_prob()
    re = {c: round(1.0 - conv_prob(c) / pfull, 9) for c in channels}
    tot = sum(round(x, 9) for x in re.values())
    got = {
        r.channel: (
            r.conv_prob_full,
            r.conv_prob_without,
            r.removal_effect,
            r.attribution_share,
        )
        for r in QUERIES["events_markov_attribution"](spark, SF_SMALL).collect()
    }
    assert sorted(got) == channels
    for c in channels:
        full, without, reff, share = got[c]
        assert full == round(pfull, 6), (c, full, pfull)
        assert without == round(conv_prob(c), 6), c
        assert reff == round(re[c], 6), c
        assert share == round(re[c] / tot if tot else 0.0, 6), c


def test_bench_covers_full_registry():
    """bench.py HEADLINE must equal the registry minus the explicit,
    reasoned exclude set — coverage drifted to 225/340 through r8; this
    pins exhaustive-by-construction."""
    import bench

    assert bench.BENCH_EXCLUDE <= set(QUERIES)
    assert bench.HEADLINE == [n for n in QUERIES if n not in bench.BENCH_EXCLUDE]


def test_gate_worker_shards_partition_the_query_list():
    """check_correctness --workers round-robin shards must cover every
    selected name exactly once, for any worker count."""
    names = list(QUERIES)
    for n in (2, 3, 4, 7):
        shards = [names[i::n] for i in range(n)]
        flat = [x for s in shards for x in s]
        assert sorted(flat) == sorted(names)
        assert max(len(s) for s in shards) - min(len(s) for s in shards) <= 1


def test_conf_overrides_survive_retune(spark, monkeypatch):
    """The plan-invariance gate's overrides (SHELF_SPARK_CONF_OVERRIDES)
    must survive the per-query re-tune in register_views — a one-off
    spark.conf.set would be reverted on the next query, silently running
    the 'perturbed' sweep under the default plan config."""
    from shelf_spark.session import RUNTIME_CONFS, tune

    key = "spark.sql.shuffle.partitions"
    monkeypatch.setenv("SHELF_SPARK_CONF_OVERRIDES", f"{key}=7")
    tune(spark)
    assert spark.conf.get(key) == "7"
    tune(spark)  # what register_views does per query — must NOT revert
    assert spark.conf.get(key) == "7"
    monkeypatch.delenv("SHELF_SPARK_CONF_OVERRIDES")
    tune(spark)  # env cleared -> defaults restored for the other tests
    assert spark.conf.get(key) == RUNTIME_CONFS[key]


def test_grid_quantiles_matches_reference_any_width(spark):
    """grid_quantiles (r13: fixed-width histogram + exact refine) must be
    EXACT for any positive bucket width — the width only tunes histogram
    size vs refine selectivity, never the result. Checked on randomized
    value sets (duplicates, negatives, all-in-one-bucket degenerate
    widths, NaN/null riders) against a pure-Python h = p·(n−1)
    interpolation, the formula Spark's percentile and DuckDB's
    quantile_cont share."""
    import math
    import random

    from shelf_spark.queries.num import grid_quantiles

    def ref_quantile(vals, p):
        vals = sorted(v for v in vals if v is not None and not math.isnan(v))
        if not vals:
            return None
        h = p * (len(vals) - 1)
        lo, hi = vals[math.floor(h)], vals[math.ceil(h)]
        return lo + (h - math.floor(h)) * (hi - lo)

    for seed, width in ((3, 1.0), (11, 64.0), (19, 1e9), (42, 0.001)):
        rng = random.Random(seed)
        rows = []
        expect = {}
        for grp in ("a", "b", "c"):
            vals = [
                round(rng.uniform(-500, 500), rng.choice((0, 2, 6)))
                for _ in range(rng.randint(1, 40))
            ]
            vals += rng.choices(vals, k=rng.randint(0, 10))  # duplicates
            riders = [None] * rng.randint(0, 2) + [float("nan")] * rng.randint(0, 2)
            for v in vals + riders:
                rows.append((grp, "q", v, width))
            expect[grp] = ref_quantile(vals, 0.35)
        d = spark.createDataFrame(rows, "grp string, m string, v double, wd double")
        got = {
            r.grp: r.val for r in grid_quantiles(d, {"q": 0.35}).collect()
        }
        assert set(got) == set(expect), (seed, width)
        for grp in expect:
            if expect[grp] is None:
                assert got[grp] is None, (seed, width, grp, got[grp])
            else:
                assert got[grp] is not None and math.isclose(
                    got[grp], expect[grp], rel_tol=0, abs_tol=0.0
                ), (seed, width, grp, got[grp], expect[grp])

    # all-NaN/null group: must SURVIVE to the output with a NULL value
    d = spark.createDataFrame(
        [("z", "q", None, 1.0), ("z", "q", float("nan"), 1.0),
         ("y", "q", 5.0, 1.0)],
        "grp string, m string, v double, wd double",
    )
    got = {r.grp: r.val for r in grid_quantiles(d, {"q": 0.5}).collect()}
    assert got == {"z": None, "y": 5.0}, got
