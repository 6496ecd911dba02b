"""Physical-layout optimization utilities: bucketing for co-located joins.

At 100 TB, the single biggest avoidable cost is re-shuffling a fact table
on the same join key for every query. The lakehouse answer is to *store*
the table hash-bucketed on that key: two tables bucketed on the same key
with the same bucket count join with **zero exchange** — each task reads
matching bucket files from both sides (sorted buckets additionally skip
the sort of a sort-merge join).

The reference has no analogue (single-file tables, DuckDB in-process);
this is pure Spark-engine capability, exposed so framework table steps
can opt into it for their hottest join keys.

Bucket-count sizing: target 100-200 MB per bucket file at final scale;
for a 10 TB fact table that's ~65k buckets. Too few → giant tasks and
skew; too many → small-file storms. Bucket pruning (Spark 3.x) also
turns point predicates on the bucket key into single-bucket scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_keys: list[str],
    num_buckets: int,
    sort_keys: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally per-bucket-sorted)
    table. Joins/aggregations on ``bucket_keys`` between tables with
    identical bucketing then plan without an Exchange. With ``path`` the
    table is EXTERNAL (data at ``path``, only metadata in the catalog) —
    callers that may run under a caller-owned session (whose managed
    warehouse could point anywhere, e.g. the process cwd) should pass an
    explicit path."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_keys)
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def is_shuffle_free_join(spark: SparkSession, left: str, right: str, on: list[str]) -> bool:
    """True when joining ``left`` ⋈ ``right`` on ``on`` plans with no
    Exchange on either input (the bucketing contract held)."""
    df = spark.table(left).join(spark.table(right), on)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" not in plan


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot ``on`` key of ``fact``
    over ``salt`` shuffle partitions by appending a random salt, and
    replicate every ``dim`` row ``salt`` times to match.

    AQE's skew-join split (on by default here) handles most skew at the
    *partition* level; explicit salting is the remaining tool when a
    single key exceeds what one task can hold even after splits (e.g. a
    null/default key owning 10% of 100 TB). Cost: dim side × salt — use
    only when dim ≪ fact.
    """
    from pyspark.sql import functions as F

    salted_fact = fact.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    salts = fact.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
    salted_dim = dim.crossJoin(F.broadcast(salts))
    out = salted_fact.join(salted_dim, [on, "_salt"], how)
    return out.drop("_salt")
