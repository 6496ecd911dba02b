"""Partitioned-lake sources: pruning asserted on the physical plan."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from shelf_spark.data import load_table
from shelf_spark.sources import (
    partition_filters_of,
    read_binary_dir,
    read_partitioned,
    write_partitioned,
)

SF_DIR = "/root/testdata/sf0.001"


def test_partitioned_write_prunes(spark, tmp_path):
    out = str(tmp_path / "events_lake")
    events = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_partitioned(events, out, ["event_date"])

    # hive layout on disk
    parts = [d for d in os.listdir(out) if d.startswith("event_date=")]
    assert len(parts) > 1

    lake = read_partitioned(spark, out)
    one_day = lake.filter(F.col("event_date") == parts[0].split("=", 1)[1])
    pf = partition_filters_of(one_day)
    assert "event_date" in pf, f"predicate not in PartitionFilters: {pf!r}"

    # pruned read returns exactly that partition's rows
    want = events.filter(F.to_date("ts") == parts[0].split("=", 1)[1]).count()
    assert one_day.count() == want


def test_binary_dir_ingest(spark, tmp_path):
    blobs = tmp_path / "blobs"
    blobs.mkdir()
    payloads = {f"b{i}.bin": bytes([i]) * (i + 1) for i in range(4)}
    for name, data in payloads.items():
        (blobs / name).write_bytes(data)
    (blobs / "ignore.txt").write_text("not a blob")

    df = read_binary_dir(spark, str(blobs), glob="*.bin")
    rows = {os.path.basename(r["path"]): bytes(r["content"]) for r in df.collect()}
    assert rows == payloads
    assert df.schema["content"].dataType.typeName() == "binary"


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink/source: values round-trip and predicates reach the ORC
    scan (same pushdown contract as parquet)."""
    from shelf_spark.framework.tables import _read_any as read_any
    from shelf_spark.sources import write_orc

    out = str(tmp_path / "orders.orc")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_orc(orders, out)

    back = read_any(spark, out)
    assert back.count() == orders.count()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in orders.collect()}

    filtered = back.filter(F.col("o_orderkey") == 1)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from shelf_spark.sources import compact_parquet

    out = str(tmp_path / "fragged")
    events = load_table(spark, SF_DIR, "events")
    events.repartition(64).write.parquet(out)
    n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_before >= 32  # badly fragmented

    want = events.count()
    compact_parquet(spark, out, target_file_mb=64)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after < n_before
    assert spark.read.parquet(out).count() == want
