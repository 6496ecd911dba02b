"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real inventory lives in :mod:`shelf_spark.queries`; this module is a
thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from shelf_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# The external correctness check compares the FIRST 50 entries of queries()
# in dict order against their oracles. Every operator also passes the local
# replica of that check (`python tools/check_correctness.py`), so the window
# only chooses which 50 get the independent check: first the queries whose
# expressions changed after their latest checked row (listed again in
# _DRIVER_WINDOW_REPROOF), then the operators whose rows are oldest. Every
# windowed entry must have an oracle, and the window is the highest-numbered
# _DRIVER_WINDOW_R<n> (tests/test_queries.py, tests/test_oracle_gate.py);
# earlier windows are in this file's history.
_DRIVER_WINDOW_R13 = [
    # 6 fix re-proofs (prior driver rows; expressions changed in r13)
    "agg_median_percentile", "clean_winsorize", "embed_cosine_pairs",
    "dedup_ngram_jaccard", "dedup_near_dup_clusters",
    "dedup_keep_best_per_cluster",
    # 33 belt-and-braces: every oracled r05-era row
    "agg_bitwise", "agg_boolean", "agg_grouped_regr_jvm",
    "agg_heavy_hitters", "agg_histogram", "agg_mode_deterministic",
    "agg_string_agg", "ann_hard_negatives", "docs_dataset_card",
    "dq_profile", "er_fuzzy_name_match", "events_daily_gapfill",
    "events_funnel", "events_retention_cohorts",
    "events_rolling_active_users", "events_transition_matrix",
    "incr_merge_partials", "join_lateral_topn", "pack_token_shards",
    "q16_part_supplier_counts", "q17_small_quantity_revenue",
    "q19_discounted_revenue", "q2_min_cost_supplier", "q8_market_share",
    "q9_profit_by_nation_year", "reshape_unpivot", "sample_cap_per_group",
    "scd2_merge_customers", "text_decontaminate", "text_lm_score",
    "text_pii_scan", "text_vocab_topk", "ts_anomaly_zscore",
    # 11 belt-and-braces: the first r06-era rows in name order
    "agg_pivot", "events_asof_tolerance", "events_attribution_last_touch",
    "events_rate_per_user", "events_sliding_window",
    "events_tumbling_window", "filter_quality_percentile",
    "graph_pagerank", "graph_triangle_count", "join_range_bucketed",
    "mix_temperature_weights",
]

#: Sanctioned FIX-driven re-proof exception for the R13 window (see
#: tests/test_queries.py test_driver_window_discipline): names with a
#: prior driver row whose expressions changed afterwards — this
#: round's histogram-refine quantile replans, the de-vacuated
#: embed_cosine_pairs threshold, and the three consumers of the PPJoin
#: positional filter. The window's other 44 slots are belt-and-braces
#: re-proofs of the OLDEST rows, sanctioned by the queue-closed regime
#: the discipline test checks for.
_DRIVER_WINDOW_REPROOF = [
    "agg_median_percentile", "clean_winsorize", "embed_cosine_pairs",
    "dedup_ngram_jaccard", "dedup_near_dup_clusters",
    "dedup_keep_best_per_cluster",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so the driver's 50-row correctness window lands this
    round's six fix re-proofs (expressions changed since their latest
    driver rows) and then rotates the 44 oldest rows (the full r05 era
    plus the first r06 names) onto current expressions (see
    _DRIVER_WINDOW_R13 above); the rest follow in registry order.
    """
    # Window hygiene (r8 verdict ask #6): every windowed entry MUST have
    # a SQL oracle — a rows-only entry in the window produces a
    # guaranteed `err: no_oracle` row, wasting the slot.
    missing = [n for n in _DRIVER_WINDOW_R13 if n not in ORACLES]
    assert not missing, f"rows-only entries in driver window: {missing}"
    unknown = [n for n in _DRIVER_WINDOW_R13 if n not in QUERIES]
    assert not unknown, f"unknown names in driver window: {unknown}"
    ordered = {n: QUERIES[n] for n in _DRIVER_WINDOW_R13}
    for n, fn in QUERIES.items():
        if n not in ordered:
            ordered[n] = fn
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted → rows-only check)."""
    return dict(ORACLES)
