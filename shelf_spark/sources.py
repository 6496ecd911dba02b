"""Lake sources & sinks beyond single-file parquet.

The reference moves whole files (snapshots) and writes one parquet per
table (reference ``src/shelf/tables.py:62``); at 100 TB a table is a
*partitioned directory tree* and ingestion reads heterogeneous formats.
This module provides the Spark-native lake layout:

- **Partitioned writes** (`write_partitioned`): hive-style
  ``key=value/`` dirs. Predicates on partition keys then become
  *partition pruning* — pruned directories are never even listed, the
  scan-level analogue of the Merkle dirty-check. Choose low-cardinality,
  always-filtered keys (event date, source); never high-cardinality ids
  (small-file storm).
- **Pruned reads** (`read_partitioned` + `partition_filters_of`): the
  test asserts via the physical plan that a date predicate lands in
  ``PartitionFilters`` and row-group stats never open pruned files.
- **Binary ingest** (`read_binary_dir`): ``binaryFile`` source for
  media/multimodal payloads — path, modificationTime, length, content
  columns; pair with `queries/multimodal.py` decode stages. Partition by
  directory layout; cap ``maxPartitionBytes`` so one task holds a
  bounded number of blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], mode: str = "overwrite"
) -> None:
    """Write a hive-partitioned parquet tree. At scale pair with
    ``df.sortWithinPartitions`` on a secondary key for row-group-stat
    skipping inside each partition."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned tree; partition columns come back typed via
    partition discovery."""
    return spark.read.option("basePath", path).parquet(path)


def partition_filters_of(df: DataFrame) -> str:
    """The PartitionFilters clause of the scan node (plan evidence that a
    predicate prunes directories instead of filtering rows)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            return line.strip()
    return ""


def read_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Opaque-payload ingest for multimodal data: one row per file with
    (path, modificationTime, length, content:binary)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (columnar alternative with the same predicate-pushdown and
    column-pruning behavior as parquet; useful for Hive-ecosystem interop).
    """
    df.write.mode(mode).orc(path)


def compact_parquet(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files and swap it into place. Returns the
    new file count.

    Streaming sinks and fine-grained incremental builds accrete many
    small files; at scale each file is a scan task plus a name-node-ish
    metadata entry, so periodic compaction to ~128 MB — around one HDFS
    block / one comfortable scan task — keeps task counts proportional to
    data, not to write history. The rewrite is one shuffle-free
    repartition job; the swap is two renames, so readers see either the
    old or the new layout, never a mix.
    """
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact.tmp"
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    backup = path.rstrip("/") + ".compact.bak"
    os.rename(path, backup)
    os.rename(tmp, path)
    shutil.rmtree(backup)
    return n
