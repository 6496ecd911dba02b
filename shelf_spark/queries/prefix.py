"""Distributed running prefix sums over a domain relation.

A global running sum — ``sum(x) OVER (ORDER BY k)`` with no PARTITION BY —
is the one window shape Spark cannot parallelize: WindowExec moves the
whole input into a single task (and says so: ``WARN WindowExec: No
Partition Defined for Window operation! Moving all data to a single
partition``). For a bounded relation that is fine; for a domain table
that grows with the data (distinct timestamps, distinct prices) it is a
serial wall at the 100 TB design point.

:func:`attach_prefix_sums` is the two-pass distributed rewrite (the same
pattern :mod:`shelf_spark.queries.windows`' ``window_ntile`` uses for
global ranking):

1. range-repartition the domain on the ordering key, so partition *p*
   holds a contiguous key range;
2. running-sum LOCALLY inside each partition (parallel, sorted once);
3. shift every partition's local sums by the broadcast per-partition
   offsets — a relation bounded by the shuffle partition count, never by
   the data.

The only all-rows-in-one-task step left is the offsets window over that
partition-count-sized subtotal relation; it is partitioned by a
non-foldable constant (``pmod(pid, 1)``) so the partition spec is
non-empty — WindowExec's single-partition degradation genuinely cannot
matter on ≤ ``n_parts`` rows, and the warning would otherwise drown the
real signal in gate logs.

Reference parity: the reference delegates running sums to DuckDB window
SQL (reference src/shelf/tables.py:155-181); DuckDB parallelizes an
unpartitioned running sum internally — this module is the Spark-side
equivalent of that courtesy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .pin import pin


def attach_prefix_sums(
    df: DataFrame,
    order_cols: Sequence[str],
    value_cols: Sequence[str],
    n_parts: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Attach ``{c}_upto`` = running sum of ``c`` over the global
    ``order_cols`` order, INCLUSIVE of the current row, for each ``c`` in
    ``value_cols`` — without ever moving the full relation into one task.

    ``order_cols`` must uniquely identify rows (domain tables built by a
    groupBy on the ordering key satisfy this); with duplicate keys the
    inclusive sum at a tied row would depend on intra-tie order.

    Grand totals are deliberately NOT computed here — a 1-row aggregate
    cross-joined via broadcast (the ``q11_important_parts`` pattern) does
    that without an unbounded-following frame in the plan.
    """
    if n_parts is None:
        n_parts = max(1, df.sparkSession.sparkContext.defaultParallelism)
    # Pin the range-partitioned domain: repartitionByRange needs a
    # sampling pass to pick bounds, and the relation is consumed twice
    # below (subtotals + final join) — without the checkpoint the whole
    # upstream domain build executes three times (measured: the r7
    # interval-overlap/quantile-bins replans cost ~2× their r6 walls
    # until this landed).
    base = df.repartitionByRange(
        n_parts, *[F.col(c) for c in order_cols]
    ).withColumn("__pid", F.spark_partition_id())
    if checkpoint:
        base = pin(base, "reuse")
    subtotals = base.groupBy("__pid").agg(
        *[F.sum(c).alias(c) for c in value_cols]
    )
    # Bounded relation (≤ n_parts rows): the single-task window here is
    # intended; the constant partition key keeps the spec non-empty.
    const = F.pmod(F.col("__pid"), F.lit(1))
    w_off = (
        W.partitionBy(const)
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = subtotals.select(
        "__pid",
        *[
            F.coalesce(F.sum(c).over(w_off), F.lit(0)).alias(f"__off_{c}")
            for c in value_cols
        ],
    )
    w_local = (
        W.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return base.join(F.broadcast(offsets), "__pid").select(
        *df.columns,
        *[
            (F.sum(c).over(w_local) + F.col(f"__off_{c}")).alias(f"{c}_upto")
            for c in value_cols
        ],
    )
