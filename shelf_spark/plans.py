"""Physical-plan inspection helpers.

"Would this plan survive a 100× scale-up?" is a question about the
*physical plan*, not the result. These helpers turn the interesting plan
facts into assertable values so tests can pin them: filters reaching the
parquet scan, partition pruning, exchange counts, broadcast vs
shuffled joins, whole-stage-codegen coverage. Used by tests/test_plans.py
and by `optimize`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    import io
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@dataclass
class ScanInfo:
    location: str = ""
    pushed_filters: str = ""
    partition_filters: str = ""
    read_schema: str = ""


def scans_of(df: DataFrame) -> list[ScanInfo]:
    """One entry per parquet scan node in the formatted plan."""
    out: list[ScanInfo] = []
    cur: ScanInfo | None = None
    for line in formatted_plan(df).splitlines():
        ls = line.strip()
        if ls.startswith("(") and "Scan parquet" in ls:
            if cur:
                out.append(cur)
            cur = ScanInfo()
        elif cur is not None:
            if ls.startswith("Location:"):
                cur.location = ls.removeprefix("Location:").strip()
            elif ls.startswith("PushedFilters:"):
                cur.pushed_filters = ls.removeprefix("PushedFilters:").strip()
            elif ls.startswith("PartitionFilters:"):
                cur.partition_filters = ls.removeprefix("PartitionFilters:").strip()
            elif ls.startswith("ReadSchema:"):
                cur.read_schema = ls.removeprefix("ReadSchema:").strip()
                out.append(cur)
                cur = None
    if cur:
        out.append(cur)
    return out


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (broadcast exchanges excluded)."""
    plan = physical_plan(df)
    return sum(
        plan.count(f"Exchange {kind}")
        for kind in ("hashpartitioning", "rangepartitioning", "SinglePartition")
    )


def broadcast_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def unpartitioned_window_count(df: DataFrame) -> int:
    """Window nodes with an EMPTY partition spec — the shape WindowExec
    warns about ("No Partition Defined … Moving all data to a single
    partition"): the node's whole input is serialized through one task.

    Plan text: a partitioned+ordered Window prints three bracket groups
    ``Window [funcs], [partSpec], [orderSpec]``; with only two groups the
    second is EITHER a partition spec (partitionBy with no orderBy —
    fine) or an order spec (orderBy with no partitionBy — the
    single-task shape). Order-spec entries always carry a sort direction
    (``ASC``/``DESC``), which disambiguates. WindowGroupLimit nodes are
    excluded (they always carry a partition spec slot)."""
    n = 0
    for line in physical_plan(df).splitlines():
        ls = line.strip().lstrip("+-: ")
        if not ls.startswith("Window ["):
            continue
        groups = ls.count("], [")
        if groups == 0:  # funcs only: no partition at all
            n += 1
        elif groups == 1:
            last = ls.rsplit("], [", 1)[1]
            if " ASC" in last or " DESC" in last:
                n += 1  # order spec without partition spec
    return n


def codegen_ids(df: DataFrame) -> set[int]:
    """Distinct whole-stage-codegen spans; wider spans = fewer ids for the
    same operator count."""
    return {int(m) for m in re.findall(r"codegen id : (\d+)", formatted_plan(df))}
