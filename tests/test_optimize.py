"""Bucketed co-located join: the no-shuffle contract, asserted on plans."""

from __future__ import annotations

import pytest

from shelf_spark.data import load_table
from shelf_spark.optimize import is_shuffle_free_join, write_bucketed

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_keys=["l_orderkey"])
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders",
        ["l_orderkey"],
        8,
        sort_keys=["l_orderkey"],
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_exchange(spark, bucketed):
    # Force the join to be non-broadcast so the exchange question is real.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert is_shuffle_free_join(spark, "b_lineitem", "b_orders", ["l_orderkey"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_matches_plain_join(spark):
    from shelf_spark.optimize import salted_join

    li = load_table(spark, SF_DIR, "lineitem").withColumnRenamed("l_orderkey", "k")
    orders = load_table(spark, SF_DIR, "orders").withColumnRenamed("o_orderkey", "k")
    plain = li.join(orders, "k").count()
    salted = salted_join(li, orders, "k", salt=8).count()
    assert salted == plain


def test_bucketed_join_correct(spark, bucketed):
    joined = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    want = li.join(orders, li.l_orderkey == orders.o_orderkey)
    assert joined.count() == want.count()


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """Spark's runtime row-group/row-level bloom pruning: with a selective
    dim-side filter, the optimizer injects a BloomFilterAggregate on the
    build side and a bloom_filter_might_contain probe on the fact scan —
    the 100 TB mechanism that keeps a selective dim⋈fact join from
    streaming the whole fact table through the join. Thresholds are
    lowered because the sf0.001 inputs are far below the production
    defaults (10 MB creation / 10 GB application)."""
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    li.write.mode("overwrite").parquet(str(tmp_path / "li"))
    orders.write.mode("overwrite").parquet(str(tmp_path / "ord"))
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force a shuffle join so the runtime filter is worthwhile
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(str(tmp_path / "li"))
        dim = spark.read.parquet(str(tmp_path / "ord")).filter(
            "o_orderpriority = '1-URGENT'"
        )
        joined = fact.join(dim, fact.l_orderkey == dim.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, plan[:2000]
        # and it still computes the right thing
        expected = (
            li.join(
                orders.filter("o_orderpriority = '1-URGENT'"),
                li.l_orderkey == orders.o_orderkey,
            ).count()
        )
        assert joined.count() == expected
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
