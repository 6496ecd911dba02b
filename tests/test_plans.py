"""Plan-shape regression tests: the scale properties SCALE.md claims,
pinned so a refactor can't silently regress them."""

from __future__ import annotations

from shelf_spark.plans import (
    broadcast_join_count,
    codegen_ids,
    exchange_count,
    physical_plan,
    scans_of,
    unpartitioned_window_count,
)
from shelf_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_scan_project_filter_pushdown(spark):
    df = QUERIES["scan_project_filter"](spark, SF_DIR)
    scans = scans_of(df)
    assert len(scans) == 1
    s = scans[0]
    # predicates reach the scan …
    assert "l_shipdate" in s.pushed_filters
    assert "l_discount" in s.pushed_filters
    assert "l_returnflag" in s.pushed_filters
    # … and only referenced columns are read (6 of 11)
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice"):
        assert col in s.read_schema
    assert "l_tax" not in s.read_schema
    assert "l_partkey" not in s.read_schema


def test_q5_joins_broadcast_with_single_agg_shuffle(spark):
    df = QUERIES["q5_local_supplier_volume"](spark, SF_DIR)
    # all 5 dimension joins broadcast; shuffles only for agg + final sort
    assert broadcast_join_count(df) == 5
    assert exchange_count(df) <= 2


def test_q1_single_shuffle_and_codegen(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    # partial+final agg: exactly one hash exchange (+ range for the sort)
    assert exchange_count(df) <= 2
    # the date predicate is pushed to the scan
    s = scans_of(df)[0]
    assert "l_shipdate" in s.pushed_filters
    # whole-stage codegen spans are only rendered on non-adaptive plans
    # (AQE's pre-execution explain shows the skeleton); toggle to inspect
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df2 = QUERIES["q1_pricing_summary"](spark, SF_DIR)
        assert len(codegen_ids(df2)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q7_dim_self_join_broadcasts(spark):
    df = QUERIES["q7_volume_shipping"](spark, SF_DIR)
    # supplier, customer, and nation-twice all broadcast (at this SF orders
    # does too; at scale it would shuffle-join with lineitem instead).
    assert broadcast_join_count(df) >= 4


def test_q16_not_in_is_broadcast_anti_join(spark):
    df = QUERIES["q16_part_supplier_counts"](spark, SF_DIR)
    # NOT IN over a non-null key compiles to a broadcast left-anti join —
    # no fact-table shuffle for the exclusion.
    plan = physical_plan(df)
    assert "LeftAnti, BuildRight" in plan
    # part's brand/size predicates reach its scan
    part_scan = [s for s in scans_of(df) if "p_brand" in s.read_schema]
    assert part_scan and "p_size" in part_scan[0].pushed_filters


def test_q11_threshold_broadcasts_not_recomputed_per_row(spark):
    df = QUERIES["q11_important_parts"](spark, SF_DIR)
    # the global threshold is a 1-row broadcast cross join, not a
    # correlated rescan of lineitem
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_no_broadcast_hints_on_unbounded_tables():
    """Explicit broadcast hints are honored unconditionally (AQE only demotes
    auto-broadcasts), so a hint on a table that grows with scale factor OOMs
    at the 100 TB design point. Only genuinely bounded relations — region
    (5 rows), nation (25 rows), per-event-type / per-partition aggregates,
    scalar totals — may carry hints. part is NOT bounded: it's 200k×SF rows
    (~2B at the 100 TB design point), and per-partkey aggregates like q17's
    thresholds inherit that cardinality."""
    import pathlib
    import re

    qdir = pathlib.Path("shelf_spark/queries")
    banned = re.compile(
        r"F\.broadcast\((cust|supp|orders|li|part|thresholds)[,)\s.]"
    )
    hits = []
    for f in qdir.glob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if banned.search(line):
                hits.append(f"{f}:{i}: {line.strip()}")
    assert not hits, "broadcast hint on scale-growing table:\n" + "\n".join(hits)


def test_ntile_no_global_window_over_base_table(spark):
    """window_ntile's global rank is distributed (range repartition + local
    rank + broadcast offsets); the only single-partition window may run over
    the bounded per-partition counts relation, never the customer scan."""
    df = QUERIES["window_ntile"](spark, SF_DIR)
    plan = physical_plan(df)
    # the full-table scan feeds a range exchange, not a single-partition one
    assert "rangepartitioning" in plan.lower()
    # local ranking partitions by pid — no window in the plan without a
    # partition spec fed by the base scan (WindowExec warns loudly if so;
    # structurally: every Window node sits above the 32-row counts agg,
    # which appears as a HashAggregate on pid)
    assert "SinglePartition" not in plan.split("Window")[0]


def test_cluster_loop_lineage_truncated(spark):
    """dedup_near_dup_clusters labels its pinned edge set (in one task,
    or after contraction rounds that are each pinned): the returned plan
    must be a handful of nodes over the checkpointed edges, not a
    15-round join tower (which would be hundreds of plan lines)."""
    df = QUERIES["dedup_near_dup_clusters"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan.splitlines()) < 10, plan
    assert "LogicalRDD" in plan or "ExistingRDD" in plan  # checkpoint scan


def test_sessionize_single_user_shuffle(spark):
    df = QUERIES["events_sessionize"](spark, SF_DIR)
    # gaps-and-islands over one hash partition by user_id: window funcs and
    # final agg reuse that partitioning — exactly one shuffle.
    assert exchange_count(df) == 1


def test_tfidf_corpus_scan_pruned_and_rank_after_agg(spark):
    """TF-IDF reads only (doc_id, text) from the corpus; the ranking
    window runs over the aggregated tf relation, not the token stream."""
    df = QUERIES["text_tfidf_topk"](spark, SF_DIR)
    for s in scans_of(df):
        assert "lang" not in s.read_schema and "source" not in s.read_schema
    # N is a 1-row broadcast cross join
    assert "BroadcastNestedLoopJoin" in physical_plan(df)


def test_bm25_term_filter_before_aggregation(spark):
    """The 3-term query filter lands under the tf aggregation, so the
    shuffled token volume is proportional to query-term postings, not
    the corpus. (It sits post-explode, so it cannot reach the parquet
    scan — the plan check is that no unfiltered token agg exists.)"""
    df = QUERIES["text_bm25_rank"](spark, SF_DIR)
    plan = physical_plan(df)
    # every Generate (explode) feeding an aggregate is topped by the
    # term filter; structurally: the IN-list filter appears in the plan
    assert plan.count("word#") > 0
    assert "Filter" in plan and "broadcast" in plan.lower()


def test_chunking_is_map_only(spark):
    """Sliding-window chunking must not shuffle the corpus: sequence →
    slice → explode pipelines with the scan; the only exchange is the
    final presentation sort."""
    df = QUERIES["text_chunk_sliding"](spark, SF_DIR)
    assert exchange_count(df) <= 1  # rangepartitioning for ORDER BY only


def test_ewma_single_window_shuffle(spark):
    """Frame-bounded EWMA: one hash exchange for the user window, one
    range exchange for the final sort — the fold itself is free."""
    df = QUERIES["ts_ewma"](spark, SF_DIR)
    assert exchange_count(df) <= 2


def test_zscore_join_reuses_agg_key(spark):
    """The per-user stats join back to events is keyed on user_id — at
    this SF the stats side broadcasts (AQE/size), at scale it hash-joins
    on the key the agg already shuffled on; either way no second
    full-fact shuffle beyond the agg + final sort."""
    df = QUERIES["ts_anomaly_zscore"](spark, SF_DIR)
    assert exchange_count(df) <= 3


def test_pagerank_plan_depth_bounded(spark):
    """3 unrolled iterations: plan must stay a fixed-size tower (no
    exponential lineage); edge reuse keeps the basket self-join from
    re-planning per iteration."""
    df = QUERIES["graph_pagerank"](spark, SF_DIR)
    plan = physical_plan(df)
    assert len(plan.splitlines()) < 400
    # the 1-row node-count joins broadcast
    assert "BroadcastNestedLoopJoin" in plan


def test_quantize_corpus_side_never_shuffles(spark):
    """Int8 quantization: the corpus-side affine map is a broadcast
    cross join — the embeddings table itself reshuffles only for the
    presentation sort; the per-dim stats agg shuffles d-sized rows."""
    df = QUERIES["vectors_quantize_int8"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_q2_decorrelated_to_single_cost_aggregation(spark):
    """q2's correlated min must plan as ONE (part, supplier) aggregation
    reused by the window min — two lineitem scans would mean the
    correlated subquery re-executed."""
    df = QUERIES["q2_min_cost_supplier"](spark, SF_DIR)
    li_scans = [s for s in scans_of(df) if "l_partkey" in s.read_schema]
    assert len(li_scans) == 1


def test_range_join_is_equi_not_cartesian(spark):
    """The bucketed interval join must plan as a hash join on the bucket
    key — BETWEEN-only range joins plan as nested-loop/cartesian and
    die at scale."""
    df = QUERIES["join_range_bucketed"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled — either is fine


def test_triangle_count_joins_are_equi(spark):
    """Degree-oriented triangle enumeration must plan every join as a
    hash equi-join — the naive adjacency self-join's hub explosion is
    the thing the orientation exists to prevent."""
    df = QUERIES["graph_triangle_count"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_interval_overlap_is_sweepline_not_cartesian(spark):
    """Interval-overlap concurrency must plan as the sweep-line rank
    lookup: no theta/nested-loop join (the oracle's shape), and no
    [k, unboundedFollowing] window frame — Spark evaluates suffix frames
    by re-aggregating per row (O(domain²); the first draft hung exactly
    there), so suffix counts must be phrased as total − prefix."""
    df = QUERIES["join_interval_overlap"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "unboundedfollowing" not in plan.lower()


def test_interval_overlap_prefix_sum_distributed(spark):
    """The boundary-domain prefix sums must be the two-pass distributed
    rewrite: NO window in the plan has an empty partition spec (the r6
    draft's Window.orderBy(t) moved the whole linearly-growing boundary
    domain into one task). The range exchange itself executes inside the
    helper's eager checkpoint — its shape is pinned by
    test_attach_prefix_sums_range_partitions_domain below."""
    df = QUERIES["join_interval_overlap"](spark, SF_DIR)
    plan = physical_plan(df)
    assert unpartitioned_window_count(df) == 0, plan


def test_quantile_bins_prefix_sum_distributed(spark):
    """The price-domain cumulative counts must be distributed the same
    way; the only serial pieces are the partition-count-sized offsets
    window and the 1-row total broadcast."""
    df = QUERIES["ml_quantile_bins"](spark, SF_DIR)
    plan = physical_plan(df)
    assert unpartitioned_window_count(df) == 0, plan
    # the row-count total is a 1-row broadcast, not a rescan-sized window
    assert "BroadcastNestedLoopJoin" in plan


def test_attach_prefix_sums_range_partitions_domain(spark):
    """The helper's first pass must be a RANGE exchange on the ordering
    key (contiguous key ranges per partition — the property the local
    running sums + broadcast offsets depend on), checked with the
    checkpoint disabled so the exchange is visible in the plan; and the
    checkpointed production path must produce identical values."""
    from pyspark.sql import functions as F

    from shelf_spark.queries.prefix import attach_prefix_sums

    dom = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    raw = attach_prefix_sums(dom, ["k"], ["v"], checkpoint=False)
    plan = physical_plan(raw)
    assert "rangepartitioning(k" in plan, plan
    assert unpartitioned_window_count(raw) == 0, plan
    got = {r.k: r.v_upto for r in attach_prefix_sums(dom, ["k"], ["v"]).collect()}
    acc, want = 0, {}
    for k in range(1000):
        acc += k % 7
        want[k] = acc
    assert got == want


def test_cdc_collapse_is_aggregate_not_window_sort(spark):
    """The CDC collapse must be the max_by aggregate (map-side-combined,
    one candidate row per key per partition) — not the row_number window
    formulation, which would shuffle AND sort the whole changelog."""
    df = QUERIES["cdc_apply_changes"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "max_by" in plan
    assert "Window" not in plan


def test_weighted_topk_is_take_ordered(spark):
    """A-ES weighted sampling must plan as TakeOrderedAndProject
    (per-partition heaps) — a global sort of the corpus would defeat
    the map-only design."""
    df = QUERIES["sample_weighted_topk"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_substring_dedup_hashes_once(spark):
    """The k-token window digest projection is the hottest map in the
    query; the plan must evaluate it exactly once (window-min firsts
    inside the digest exchange), not once per consumer as the
    firsts-join formulation would."""
    df = QUERIES["dedup_substring_exact"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("sha2") == 1, plan.count("sha2")
    assert plan.count("Window") == 1


def test_quantile_bins_never_sort_facts(spark):
    """Decile boundaries come from the compressed value domain; the fact
    table itself must never be range-partitioned/sorted on the price."""
    df = QUERIES["ml_quantile_bins"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "rangepartitioning(l_extendedprice" not in plan.replace(" ", "")


def test_heavy_hitters_candidate_pass_is_map_only(spark):
    """Pass 1 (Misra–Gries summaries) must add no exchange before the
    Python stage: the sketch runs where the data lives."""
    from shelf_spark.data import register_views
    from shelf_spark.queries.sketches import _mg_candidates

    register_views(spark, SF_DIR)
    from pyspark.sql import functions as F

    toks = spark.table("documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    cands = toks.mapInPandas(_mg_candidates, "token string")
    assert exchange_count(cands) == 0


def test_topk_per_group_uses_window_group_limit(spark):
    """Every rank<=k-per-group query must carry Spark's WindowGroupLimit
    pushdown: a partial per-partition top-k heap runs BEFORE the window
    exchange, so at scale each group contributes at most k rows per map
    partition to the shuffle instead of its full membership."""
    for name in ("text_tfidf_topk", "ann_cosine_topk", "join_lateral_topn"):
        plan = physical_plan(QUERIES[name](spark, SF_DIR))
        assert "WindowGroupLimit" in plan, name
        # both partial (map-side) and final limits present
        assert plan.count("WindowGroupLimit") >= 2, name


def test_ohlc_bars_single_hash_exchange(spark):
    """Both row_number windows and the final aggregate share ONE
    (day, event_type) hash exchange — the second sort is partition-local
    and the groupBy lands on the window's partitioning (plus the
    presentation range sort)."""
    df = QUERIES["events_ohlc_daily"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert unpartitioned_window_count(df) == 0, plan


def test_pareto_frontier_is_broadcast_not_pair_join(spark):
    """The skyline must be the compressed-domain plan: min-price per size
    (bounded grid) broadcast back onto the part scan — never the oracle's
    O(n²) dominance self-join, and no unbounded single-task window (the
    suffix-min runs over the ≤50-row size grid with a constant key)."""
    df = QUERIES["ml_pareto_frontier"](spark, SF_DIR)
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert unpartitioned_window_count(df) == 0, plan


def test_inverted_index_two_exchanges_and_capped_collect(spark):
    """tf shuffles on (term, doc) and the df/cf/postings pass shuffles on
    term; the final groupBy reuses the term partitioning → exactly two
    hash exchanges (+ the presentation sort). The posting collect is
    capped BEFORE aggregation by the rank predicate, so the per-term
    buffer is bounded even for a corpus-sized stop word."""
    df = QUERIES["text_inverted_index"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert unpartitioned_window_count(df) == 0, plan


def test_image_ahash_no_shuffle_before_decode(spark):
    """Both mapInPandas stages (encode, decode+fold) run inside the scan
    stage — binary never shuffles; the only exchange is the presentation
    sort on the few-column signature output."""
    df = QUERIES["multimodal_image_ahash"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert exchange_count(df) <= 1, plan  # range sort only


def test_pmi_topk_is_take_ordered_not_global_sort(spark):
    """The PMI ranking must be TakeOrderedAndProject (bounded driver
    result), and bigrams must be formed map-side — no per-doc window
    sort, no self-join of the token stream."""
    df = QUERIES["text_pmi_bigrams"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert unpartitioned_window_count(df) == 0, plan


def test_mad_medians_come_from_compressed_domain(spark):
    """Both discrete medians must run over the (type, value-grid) domain
    with partitioned running counts — the events scan is never globally
    sorted and no window moves all data to one task; the per-type
    medians broadcast back."""
    df = QUERIES["events_anomaly_mad"](spark, SF_DIR)
    plan = physical_plan(df)
    assert unpartitioned_window_count(df) == 0, plan
    assert broadcast_join_count(df) >= 3, plan
    assert "CartesianProduct" not in plan


def test_target_encoding_is_broadcast_map_pass(spark):
    """The category aggregate broadcasts back onto the orders scan — the
    fact side must not shuffle (one hash exchange for the bounded
    category agg + the presentation sort only)."""
    df = QUERIES["ml_target_encoding"](spark, SF_DIR)
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan


def test_image_ahash_dedup_single_signature_exchange(spark):
    """Pixels never shuffle: the only hash exchange carries the ≤8-byte
    signatures into the cluster groupBy."""
    df = QUERIES["dedup_image_ahash"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_rake_topk_is_take_ordered_and_segmentation_single_doc_shuffle(spark):
    """RAKE's segmentation is the gaps-and-islands shape inside the doc
    exchange; the corpus top-k is TakeOrderedAndProject and no window
    runs unpartitioned."""
    df = QUERIES["text_keyphrase_rake"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert unpartitioned_window_count(df) == 0, plan


def test_eval_metrics_single_pass_no_fact_shuffle(spark):
    """The threshold sweep must be one scan: a constant explode into one
    map-side-combined aggregate — the only hash exchange carries the
    thresholds-sized partial counts."""
    df = QUERIES["ml_eval_binary_metrics"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert scans_of(df)[0].read_schema and "text" not in scans_of(df)[0].read_schema


def test_cross_source_matrix_has_no_digest_self_join(spark):
    """Pair generation must be the per-digest source-set explode
    (source²-bounded), never a digest self-join (which squares in a hot
    shingle's row count) — the plan contains NO join at all."""
    df = QUERIES["dedup_cross_source_matrix"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pca_iterations_ride_checkpointed_corpus(spark):
    """The centered corpus must be checkpointed once: every iteration's
    plan reads the RDD scan, so lineage doesn't grow a corpus-rebuild
    per step, and the component attaches by broadcast."""
    df = QUERIES["vectors_pca_top_component"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # d-sized component broadcast
    assert unpartitioned_window_count(df) == 0, plan


def test_assortativity_single_moment_pass(spark):
    """Degrees attach by join and the six moments come from ONE
    aggregate — no windows, no sorts of the edge list."""
    df = QUERIES["graph_assortativity"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("Window") == 0, plan
    assert "HashAggregate" in plan


def test_bucketed_join_has_no_exchange(spark):
    """The storage-bucketed join must read bucket-to-bucket: with
    auto-broadcast off (forcing the sort-merge path a 100 TB fact join
    takes), the plan may contain NO exchange on the join keys — the
    shuffle was paid once at write time, not per join."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_bucketed_colocated"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "SortMergeJoin" in plan, plan
    for key in ("o_custkey", "c_custkey"):
        assert f"Exchange hashpartitioning({key}" not in plan, plan
    # the only exchanges left belong to the aggregate/sort, not the join
    join_part = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_part, join_part


def test_partitioned_sink_prunes(spark):
    """The event_type predicate must become a PartitionFilter on the
    partitioned copy — non-matching partitions never open."""
    df = QUERIES["sink_partitioned_pruning"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan, plan
    assert "event_type" in plan.split("PartitionFilters:")[1][:200], plan
    # the pushed partition predicate leaves no event_type filter on data
    scan = plan[plan.index("FileScan"):]
    assert "purchase" in scan.split("PartitionFilters:")[1][:200], scan


def test_zorder_physical_skipping(spark, tmp_path):
    """sink_zorder_layout's claim made physical: write orders z-sorted
    and date-sorted, read REAL parquet footer stats (pyarrow), and check
    that a custkey range predicate covering ~1/16 of the key domain
    intersects far fewer z-files than date-files. Footer min/max is
    exactly what Spark/Trino/Delta readers prune row-groups with."""
    import pyarrow.parquet as pq

    from shelf_spark.queries.relational_ext import _Z_CELLS, _Z_SPARK
    from pyspark.sql import functions as F
    from shelf_spark.data import register_views

    register_views(spark, SF_DIR)
    o = spark.table("orders").select(
        "o_custkey", F.datediff("o_orderdate", F.lit("1992-01-01")).alias("d")
    )
    st = o.agg(
        F.min("o_custkey").alias("ck0"), F.max("o_custkey").alias("ck1"),
        F.min("d").alias("d0"), F.max("d").alias("d1"),
    )
    ck0, ck1, d0, d1 = st.collect()[0]
    q = o.select(
        "o_custkey", "d",
        F.expr(
            f"CAST(((o_custkey - {ck0}) * {_Z_CELLS}) div ({ck1} - {ck0} + 1)"
            " AS BIGINT)"
        ).alias("x"),
        F.expr(
            f"CAST(((d - {d0}) * {_Z_CELLS}) div ({d1} - {d0} + 1) AS BIGINT)"
        ).alias("y"),
    ).withColumn("zv", F.expr(_Z_SPARK))

    zdir, ddir = str(tmp_path / "z"), str(tmp_path / "bydate")
    n_files = 16
    q.repartitionByRange(n_files, "zv").sortWithinPartitions("zv").write.parquet(zdir)
    q.repartitionByRange(n_files, "d").sortWithinPartitions("d").write.parquet(ddir)

    def intersecting(path, lo, hi):
        hit, total = 0, 0
        import os
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "o_custkey"
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            if min(mins) <= hi and max(maxs) >= lo:
                hit += 1
        return hit, total

    # predicate: the middle 1/16 of the custkey domain
    span = ck1 - ck0 + 1
    lo = ck0 + span * 7 // 16
    hi = ck0 + span * 8 // 16 - 1
    z_hit, z_total = intersecting(zdir, lo, hi)
    d_hit, d_total = intersecting(ddir, lo, hi)
    assert z_total == n_files and d_total == n_files
    # date-sorted layout: every file spans the full custkey range
    assert d_hit == n_files, (d_hit, d_total)
    # z-order: a 1/16-wide key predicate touches a bounded file subset
    assert z_hit <= n_files // 2, (z_hit, z_total)


def test_dpp_subquery_in_plan(spark):
    """join_dynamic_partition_pruning must plan a dynamicpruning
    subquery under the partitioned fact scan (the join-driven
    partition-elimination mechanism), and its result must equal the
    same join computed over the unpartitioned source."""
    from conftest import SF_SMALL
    from shelf_spark.queries import QUERIES
    import pyspark.sql.functions as F

    df = QUERIES["join_dynamic_partition_pruning"](spark, SF_SMALL)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in phys.lower()
    got = [(r.day, r.n_events, r.revenue) for r in df.collect()]
    ev = spark.table("events")
    dim = (
        ev.filter((F.col("user_id") == 1) & (F.col("value") > 150))
        .select("event_type")
        .distinct()
    )
    from shelf_spark.queries.num import dsum_i
    want = [
        (r.day, r.n_events, r.revenue)
        for r in ev.join(dim, "event_type")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            dsum_i(F.col("value"), 2).alias("revenue"),
        )
        .orderBy("day")
        .collect()
    ]
    assert got == want and len(got) > 0
