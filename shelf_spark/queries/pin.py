"""The one lineage-cut primitive of the query layer.

Every operator that materialises an intermediate relation calls
``pin(df, why)``; nothing else in ``shelf_spark`` calls
``localCheckpoint``. Both reasons cut the lineage at the call, so later
plans start from the pinned blocks instead of re-deriving the relation;
they differ only in *when* the blocks are written.

``"fanout"`` — eager: a job of its own runs at the call.
    Use it when the first job that reads the relation reads it on two or
    more branches at once (both sides of a self- or lag-join, a union of
    two selects, a count plus a join). A lazy pin is then materialised
    by that job on every branch concurrently: each branch computes the
    relation from scratch and they race to store the same blocks
    ("Block rdd_N already exists" in the log). One extra job submission
    is far cheaper than the duplicate work. Event-log evidence:
    r14 ``star_components`` round edges, dedup_keep_best_per_cluster
    ~25 s executor CPU lazy vs ~17 s eager; r15 audit,
    ``join_interval_overlap`` 142 -> 76 tasks, ``pref_bradley_terry``
    11-14 s vs 5.6-6 s CPU, the day-domain stats/ts reductions 3.3-3.6 s
    vs 1.1-1.8 s wall.

``"reuse"`` — lazy: no job at the call.
    The first job that computes the relation writes its blocks; later
    reads in that job and in later jobs use them. This covers lineage
    cuts inside loops (the plan stays one round deep instead of doubling
    per round), the pin before a presentation ``orderBy`` (the range
    exchange's sampling job materialises the pin, so the real pass does
    not run the heavy map a second time), and any relation read serially
    by later jobs. Evidence: r10/r14, dropping the eager job folds the
    pin into the one final action (graph_triangle_count 3.69 -> 3.37 s,
    graph_clustering_coefficient 3.99 -> 3.44 s median at sf0.1,
    events_markov_attribution's hop loop one job fewer); r15
    pin-before-sort, multimodal_image_dhash task time 2.49 -> 0.90 s.

Layout is not the pin's business: a ``coalesce(1)`` for a relation whose
size is bounded by a small domain stays at the call site, with either
reason.

Availability: pinned blocks live only in the block manager of the
executor that computed them (memory and disk, one replica), and the
lineage above them is gone. If that executor is lost, or the blocks are
removed, a later read cannot recompute them: the task fails with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` ("Checkpoint block rdd_N_M not
found! Either the executor that originally checkpointed this partition
is no longer alive ..."), the retries fail the same way and the query
fails. It is never answered from partial data. Every pin is rebuilt from
the source tables on the next call, so re-running the query is the
recovery. The exposure grows with the pinned size: a fact-scale pin
(mba_item_pairs' per-order baskets) holds fact-scale data unreplicated
for the whole query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_EAGER = {"fanout": True, "reuse": False}


def pin(df: DataFrame, why: str) -> DataFrame:
    """Cut ``df``'s lineage; ``why`` is ``"fanout"`` (eager) or
    ``"reuse"`` (lazy), as the module docstring defines."""
    if why not in _EAGER:
        raise ValueError(f"pin reason must be 'fanout' or 'reuse', not {why!r}")
    return df.localCheckpoint(eager=_EAGER[why])
