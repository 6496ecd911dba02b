"""Deterministic sampling, dataset mixing, and near-dup clustering.

Training-data pipeline operators beyond the reference surface (BASELINE
north star). Sampling here is *content-hash Bernoulli*, not
``TABLESAMPLE``: a row is kept iff a prefix of ``sha256(key)`` falls
under a threshold. That makes the sample

- deterministic and engine-independent (oracle-checkable — both Spark's
  ``sha2`` and DuckDB's ``sha256`` emit the same lowercase hex),
- stable under repartitioning/retries (a row's fate depends only on its
  key, never on partition layout — ``TABLESAMPLE``/``df.sample`` give
  different rows per run/plan),
- a map-only filter at 100 TB: no shuffle, no driver coordination, and
  the predicate rides on the scan.

The same trick gives weighted dataset interleaving (per-source rates)
and consistent train/validation splits (disjoint hash ranges).

Near-dup *clustering* turns pairwise similarity (see
:mod:`shelf_spark.queries.dedup`) into connected components — the step a
dedup pipeline actually acts on (keep one doc per component). Spark side
is :func:`star_components`: the alternating large-star/small-star
contraction [Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14], one job per round, only while the residual edge set
is above an absolute bound of 2^20 edges; at or under it one task
labels the residual in numpy, at about 125 bytes per edge. The bound is
absolute so that a cluster-scale input stays distributed until its
residual is small, and the count check, not an assumption, keeps the one
task within memory. Both star steps keep every node of the edge set and
its component, so the labels need no join back to the input. The DuckDB
oracle is a recursive CTE computing the same transitive closure, so
this iterative operator still gets a full value-check; a property test
(tests/test_star_components.py) checks both sides of the bound against
a union-find reference on random and adversarial (chain) graphs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window as W

from .dedup import (
    JACCARD_THRESHOLD,
    _sql_doc_shingles,
    _sql_shingle_overlap,
    jaccard_pairs_exact,
)
from .num import _round_ieee, _sql_round_ieee
from .pin import pin
from .registry import query
from .text import _sql_word_counts, _word_counts

#: 4-hex-digit prefix of sha256 compared against these bounds.
#: P(keep) = int(bound, 16) / 16^4.
SAMPLE_20PCT = "3333"  # 0x3333/0xffff ≈ 0.20
SAMPLE_50PCT = "7fff"


#: Largest residual edge set that :func:`star_components` labels in one
#: task, and that graph.py's BFS, HITS and k-core kernels run in one.
#: With int64 ids a task's Python heap peaks at about 125 bytes per
#: edge, input frames included, in :func:`dense_ends` (measured on a
#: random and a shuffled chain graph of 2^20 edges): ~125 MB at the bound.
_ONE_TASK_EDGES = 1 << 20
#: Contraction rounds after which :func:`star_components` raises rather
#: than return labels of an unconverged edge set. Kiveris et al. bound
#: the rounds by O(log² n); in practice they track log n.
_MAX_ROUNDS = 32


def _observed(df: DataFrame, *aggs: Column) -> dict:
    """``aggs`` over ``df`` in one job: observed metrics over a ``noop``
    write need no exchange, where a global ``agg`` costs an extra AQE
    stage job. The same job materialises a lazy pin of ``df``."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _signature(edges: DataFrame) -> tuple:
    """Order-free (count, bit_xor of xxhash64) fingerprint of an edge
    set, in one job (:func:`_observed`)."""
    got = _observed(
        edges, F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("x")
    )
    return got["n"], got["x"]


def fits_one_task(edges: DataFrame) -> bool:
    """Whether ``edges`` has at most ``_ONE_TASK_EDGES`` rows, counted in
    one job (:func:`_observed`)."""
    return _observed(edges, F.count(F.lit(1)).alias("n"))["n"] <= _ONE_TASK_EDGES


def dense_ends(
    batches: Iterator[pd.DataFrame], a: str, b: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(ids, ia, ib)`` for the rows of ``batches``: the sorted distinct
    ids of columns ``a`` and ``b``, and each row's two ends as indices
    into ``ids``. ``np.unique`` sorts, so index order is id order."""
    frames = list(batches)
    n = sum(len(f) for f in frames)
    if not n:
        return np.empty(0, np.int64), np.empty(0, np.intp), np.empty(0, np.intp)
    ends = np.concatenate([f[c].to_numpy() for c in (a, b) for f in frames])
    del frames
    ids, idx = np.unique(ends, return_inverse=True)
    return ids, idx[:n], idx[n:]


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star then one small-star step over ``u > v`` edges."""
    # Large-star: over both directions, hook every neighbor larger
    # than u to m = min(N(u) ∪ {u}).  m ≤ u < v keeps (bigger, smaller).
    # Both directions come from ONE scan of the pinned edges: bidir has
    # two consumers (mins + large), so a union of two selects would read
    # the blocks four times per round instead of two.
    bidir = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    mins = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    large = (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    # Small-star: hook u and all its (smaller) neighbors to the
    # minimum neighbor m.
    mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
    return (
        large.join(mins2, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins2.select("u", F.col("m").alias("v")))
        .distinct()
    )


def _min_labels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``(node, component)`` for every node of the ``(u, v)`` edges in
    ``batches``: hook each root to its smallest neighboring root, then
    shortcut every node to its root, until no edge spans two roots.
    Roots only ever hook to smaller ids, so each root is its
    component's minimum."""
    ids, iu, iv = dense_ends(batches, "u", "v")
    if not len(ids):
        return
    parent = np.arange(len(ids))  # np.unique sorts: index order is id order
    while True:
        pu, pv = parent[iu], parent[iv]
        span = pu != pv
        if not span.any():
            break
        pu, pv = pu[span], pv[span]
        np.minimum.at(parent, np.concatenate([pu, pv]), np.concatenate([pv, pu]))
        while not np.array_equal(grand := parent[parent], parent):
            parent = grand
    yield pd.DataFrame({"node": ids, "component": ids[parent]})


def star_components(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Connected components of an undirected graph given as id pairs.

    Returns ``(node, component)`` for every node of a pair with
    ``a != b``, typed like the pair columns, where ``component`` is the
    minimum id of the node's component: the labelling a
    transitive-closure oracle's ``min(reach)`` produces. Self-pairs
    carry no connectivity, so a node seen only in self-pairs is absent.

    The edges, oriented larger→smaller, are pinned and fingerprinted in
    one job; the fingerprint's count is the residual edge set's size.
    While that count is above ``_ONE_TASK_EDGES`` (2^20), the
    alternating large-star/small-star contraction (Kiveris et al.,
    SoCC'14) runs distributed, one job per round: each half-round is one
    map-side-combined groupBy and one co-partitioned join on ids. Once
    the count is at or below the bound, one task labels the residual
    edges (``coalesce(1).mapInPandas``, :func:`_min_labels`). The bound
    is an absolute edge count, not a share of the input: a cluster-scale
    input stays distributed until its residual is small, and the one
    task's memory, about 125 bytes per edge, is bounded by the count
    check rather than assumed.

    No join back to the input is needed. Both star steps keep every
    node of the edge set on at least one edge, and only link nodes of
    one component, so the residual has the input's nodes and
    components.

    Both steps keep the orientation, and a star forest centred on the
    component minima is a fixpoint of both, so an unchanged fingerprint
    means converged. A converged forest still above the bound is
    labelled distributed by projecting each edge ``(u, v)`` to
    ``(u, v)`` and ``(v, v)``. After ``_MAX_ROUNDS`` rounds with the
    residual above the bound and the fingerprint still changing, this
    raises instead of returning unconverged labels.
    """
    # "reuse": the first fingerprint is the one job, on one branch, that
    # materialises the pin; the rounds and the finish read its blocks
    edges = pin(
        pairs.where(F.col(a) != F.col(b)).select(
            F.greatest(F.col(a), F.col(b)).alias("u"),
            F.least(F.col(a), F.col(b)).alias("v"),
        ),
        "reuse",
    )
    prev, sig = None, _signature(edges)
    rounds = 0
    while sig[0] > _ONE_TASK_EDGES and sig != prev:
        if rounds == _MAX_ROUNDS:
            raise RuntimeError(
                f"star_components: {sig[0]} edges still changing after "
                f"{_MAX_ROUNDS} rounds"
            )
        # the next fingerprint is the job that materialises the round
        edges = pin(_star_round(edges), "reuse")
        rounds += 1
        prev, sig = sig, _signature(edges)
    if sig[0] <= _ONE_TASK_EDGES:
        t = edges.schema["u"].dataType
        return edges.coalesce(1).mapInPandas(
            _min_labels, StructType([StructField("node", t), StructField("component", t)])
        )
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


def _hash_bucket(key) -> F.Column:
    """First 4 hex chars of sha256(key) — a uniform [0, 0xffff] bucket."""
    return F.substring(F.sha2(key.cast("string"), 256), 1, 4)


@query(
    "sample_bernoulli_hash",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4) < '{SAMPLE_20PCT}'
    ORDER BY doc_id
    """,
)
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ~20% deterministic sample; the filter is a scan-side predicate over
    # a projected hash — map-only, no shuffle, reproducible anywhere.
    d = spark.table("documents")
    return (
        d.filter(_hash_bucket(F.col("doc_id")) < SAMPLE_20PCT)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "sample_stratified_hash",
    oracle="""
    SELECT lang, count(*) AS n_sampled
    FROM documents
    WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE lang WHEN 'en' THEN '1999' ELSE '7fff' END
    GROUP BY lang
    ORDER BY lang
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stratified rates — downsample the over-represented stratum ('en' at
    # ~10%, everything else at 50%): the standard rebalancing move for
    # training mixes. Same map-only shape; the rate table would broadcast
    # if it lived in a config dataset instead of a CASE.
    d = spark.table("documents")
    rate = F.when(F.col("lang") == "en", F.lit("1999")).otherwise(F.lit("7fff"))
    return (
        d.filter(_hash_bucket(F.col("doc_id")) < rate)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("lang")
    )


@query(
    "sample_train_valid_split",
    oracle=f"""
    SELECT split, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
    FROM (
      SELECT n_chars,
             CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4) < '{SAMPLE_50PCT}'
                  THEN 'train' ELSE 'valid' END AS split
      FROM documents
    )
    GROUP BY split
    ORDER BY split
    """,
)
def sample_train_valid_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Disjoint hash ranges → leak-free, reproducible train/valid split;
    # a document can never migrate between splits as data grows.
    # (avg over integer n_chars: double sum of ints is exact → the single
    # IEEE division matches DuckDB bitwise.)
    d = spark.table("documents")
    split = F.when(
        _hash_bucket(F.col("doc_id")) < SAMPLE_50PCT, F.lit("train")
    ).otherwise(F.lit("valid"))
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("split")
    )


@query(
    "interleave_weighted_sources",
    oracle=f"""
    SELECT source, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
    FROM documents
    WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 'ffff'
                 WHEN source IN ('src3', 'src4', 'src5') THEN '{SAMPLE_50PCT}'
                 ELSE '{SAMPLE_20PCT}' END
    GROUP BY source
    ORDER BY source
    """,
)
def interleave_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted dataset mixing: keep 100% of premium sources, 50% of the
    # mid tier, 20% of the tail — the "data mixture" op of a pretraining
    # pipeline, as one scan-side predicate. Rows from all sources stay
    # interleaved in their natural partition order (no per-source
    # repartition, no union of N scans).
    d = spark.table("documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit("ffff"))
        .when(F.col("source").isin("src3", "src4", "src5"), F.lit(SAMPLE_50PCT))
        .otherwise(F.lit(SAMPLE_20PCT))
    )
    return (
        d.filter(_hash_bucket(F.col("doc_id")) < rate)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("source")
    )


@query(
    "dedup_near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE
    sh AS ({_sql_doc_shingles("documents")}),
    {_sql_shingle_overlap()},
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
            >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(doc, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.doc, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    )
    SELECT doc AS doc_id, min(reach) AS cluster_id
    FROM walk
    GROUP BY doc
    ORDER BY doc_id
    """,
)
def dedup_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Connected components over the exact-Jaccard near-dup graph (only
    # docs that have at least one near-dup appear); see star_components.
    # The text never moves after the pairs are built.
    d = spark.table("documents")
    # Prefix-filtered exact Jaccard pair generation (see
    # dedup.jaccard_pairs_exact) — same pairs as the naive inverted-index
    # join the oracle's CTE encodes, without its per-shingle df² cost.
    pairs = jaccard_pairs_exact(d, JACCARD_THRESHOLD).select("doc_a", "doc_b")
    return (
        star_components(pairs, "doc_a", "doc_b")
        .select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .orderBy("doc_id")
    )


@query(
    "mix_temperature_weights",
    oracle=f"""
    WITH c AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), s AS (
      SELECT source, n_docs,
             {_sql_round_ieee("sqrt(CAST(n_docs AS DOUBLE))", 6)} AS s
      FROM c
    ), t AS (
      SELECT CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS tot FROM s
    )
    SELECT source, n_docs,
           {_sql_round_ieee("s / tot", 6)} AS weight,
           CAST(floor(s / tot * 10000.0 + 0.5) AS BIGINT) AS expected_per_10k
    FROM s CROSS JOIN t
    ORDER BY source
    """,
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights per source (T=2, i.e. w_i ∝
    √n_i): the up-weight-the-tail reweighting multilingual/multi-source
    training mixes apply before sampling — feed the weights to the
    content-hash interleaver (interleave_weighted_sources) to realize
    the mix. √ is IEEE-correctly-rounded on both engines (unlike pow,
    which is why the exponent is ½ and not a free α); per-source
    surprisals land on a 6-decimal grid and total exactly in DECIMAL, so
    the normalizing division is one identical IEEE op. The aggregate is
    source-cardinality-sized — a broadcast scalar at any corpus scale."""
    c = spark.table("documents").groupBy("source").agg(F.count("*").alias("n_docs"))
    s = c.withColumn("s", _round_ieee(F.sqrt(F.col("n_docs").cast("double")), 6))
    t = s.agg(F.sum(F.col("s").cast("decimal(18,6)")).cast("double").alias("tot"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            _round_ieee(F.col("s") / F.col("tot"), 6).alias("weight"),
            F.floor(F.col("s") / F.col("tot") * 10000.0 + F.lit(0.5))
            .cast("bigint")
            .alias("expected_per_10k"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# weighted order sampling (exact, integer weights)
# ---------------------------------------------------------------------------

#: Weighted-sample size and the weight cap (quality tiers 1..5).
WEIGHTED_K = 100
_W_MAX = 5


@query(
    "sample_weighted_topk",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, 1 + CAST(n_chars % {_W_MAX} AS BIGINT) AS weight
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, weight,
             (SELECT max(substr(sha256(CAST(doc_id AS VARCHAR) || '#'
                                       || CAST(j AS VARCHAR)), 1, 16))
              FROM generate_series(0, {_W_MAX - 1}) AS g(j)
              WHERE j < weight) AS sk
      FROM w
    )
    SELECT doc_id, source, weight FROM keyed
    ORDER BY sk DESC, doc_id LIMIT {WEIGHTED_K}
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    order sampling) for integer weights, transcendental-free: a doc of
    weight w gets w independent uniform draws (hash prefixes of
    ``sha256(doc_id # j)``) and its order key is their MAX — the max of w
    uniforms orders identically to an Exp(w) arrival (−ln is monotone),
    which is the A-ES exponential-race construction, so the top-k by key
    IS a weight-proportional sample. No ``pow``/``ln`` means no
    cross-engine FP hazard: keys are hex strings both engines render
    identically, and the draw count is bounded by the weight cap, so the
    per-row cost is O(w_max).

    Scale shape: map-only key computation + one TakeOrderedAndProject —
    the same partial-top-k-per-partition shape as sort_topk; nothing
    shuffles but k-row heads. Retry/partition-invariant like every
    sampler here (keys are content hashes, not RNG state)."""
    d = spark.table("documents").select(
        "doc_id",
        "source",
        (1 + (F.col("n_chars") % _W_MAX)).cast("long").alias("weight"),
    )
    draws = F.transform(
        F.sequence(F.lit(0), F.col("weight").cast("int") - 1),
        lambda j: F.substring(
            F.sha2(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit("#"), j.cast("string")
                ),
                256,
            ),
            1,
            16,
        ),
    )
    return (
        d.withColumn("sk", F.array_max(draws))
        .orderBy(F.desc("sk"), "doc_id")
        .limit(WEIGHTED_K)
        .select("doc_id", "source", "weight")
    )


#: Epoch-shuffle config: shard count and the epoch seed baked into the
#: shuffle key (a new epoch = a new seed = an entirely new order).
SHUFFLE_SHARDS = 8
SHUFFLE_EPOCH = 1


@query(
    "sample_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             sha256('{SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)) AS skey
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(skey, 1, 4)) AS INTEGER)
                % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (
                  PARTITION BY CAST(('0x' || substr(skey, 1, 4)) AS INTEGER)
                               % {SHUFFLE_SHARDS}
                  ORDER BY skey, doc_id) AS BIGINT) AS pos
    FROM keyed
    ORDER BY shard, pos
    """,
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH SHUFFLE manifest — the reproducible global
    reorder a training pipeline runs before shard packing: every doc
    gets a content-hash shuffle key seeded by the epoch number, lands in
    a hash shard, and receives its within-shard position. Rerunning with
    the same epoch reproduces the byte-identical order on any cluster
    size or partitioning (no ``rand()``, no ``orderBy(rand)``); bumping
    SHUFFLE_EPOCH yields a statistically fresh order with zero state.

    Scale shape: the key is map-side; the only exchange hash-partitions
    by shard, and positions come from SHARD-partitioned windows — 
    embarrassingly parallel across shards, never a global sort (the
    single-total-order formulation would serialize the corpus through
    one task; consumers that need a total order read shards in index
    order, exactly like shard-packed training files)."""
    from pyspark.sql import Window

    skey = F.sha2(
        F.concat(F.lit(f"{SHUFFLE_EPOCH}:"), F.col("doc_id").cast("string")), 256
    )
    keyed = spark.table("documents").select(
        "doc_id",
        skey.alias("skey"),
    ).withColumn(
        "shard",
        (F.conv(F.substring("skey", 1, 4), 16, 10).cast("int") % SHUFFLE_SHARDS)
        .cast("long"),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        keyed.select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# Neyman stratified-sample allocation
# ---------------------------------------------------------------------------

#: Total sample budget the allocation distributes across strata.
_NEYMAN_BUDGET = 1000

#: Per-stratum population std from exact integer moments (2dp grid), as a
#: fixed-shape IEEE expression shared verbatim by both engines:
#: S = sqrt((n·s2 − s1²)) / n, with s1/s2 the exact scaled-int sums.
_SQL_NEYMAN_STD = (
    "round(sqrt((CAST(n AS DOUBLE) * (CAST(s2 AS DOUBLE) / 1e4))"
    " - ((CAST(s1 AS DOUBLE) / 1e2) * (CAST(s1 AS DOUBLE) / 1e2)))"
    " / CAST(n AS DOUBLE), 6)"
)

#: weight_h = round(N_h · S_h, 6) — rounded onto the 6dp grid BEFORE the
#: cross-stratum normalizer sum, which runs in DECIMAL (exact).
_SQL_NEYMAN_W = "round(CAST(n AS DOUBLE) * std, 6)"


@query(
    "sample_stratified_neyman",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                      AS DECIMAL(18,0))) AS s1,
             sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100 + 0.5) AS BIGINT)
                      AS DECIMAL(18,0))) AS s2
      FROM events GROUP BY event_type
    ), w AS (
      SELECT event_type, n, {_SQL_NEYMAN_STD} AS std
      FROM m
    ), ww AS (
      SELECT event_type, n, std,
             CAST({_SQL_NEYMAN_W} AS DECIMAL(18,6)) AS wt
      FROM w
    ), tot AS (
      SELECT sum(wt) AS wsum FROM ww
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_rows,
           std,
           CAST(floor((CAST(wt AS DOUBLE) / nullif(CAST(wsum AS DOUBLE), 0.0))
                      * {_NEYMAN_BUDGET} + 0.5) AS BIGINT) AS alloc
    FROM ww CROSS JOIN tot
    ORDER BY event_type
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample allocation: distribute a
    {_NEYMAN_BUDGET}-row budget across event-type strata proportionally
    to N_h·S_h (stratum size × stratum std) — the variance-minimizing
    design a data-curation pipeline uses instead of proportional
    sampling when strata differ in spread. Moments accumulate as exact
    scaled ints (2dp grid, DECIMAL sums → order-independent), the std
    and share are fixed-shape IEEE expressions, and the per-stratum
    weight rounds onto the 6dp grid BEFORE the DECIMAL normalizer sum —
    every number bit-identical across engines.

    Scale shape: ONE map-side-combined aggregate over the fact scan
    (moment sums per stratum), then all remaining arithmetic runs on the
    strata-catalog-sized relation with a 1-row broadcast normalizer.
    The facts never shuffle; the downstream sampler consumes the
    allocation with the content-hash Bernoulli pattern
    (sample_stratified_hash) — retry- and partition-invariant."""
    vi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    m = spark.table("events").groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(vi.cast("decimal(18,0)")).alias("s1"),
        F.sum((vi * vi).cast("decimal(18,0)")).alias("s2"),
    )
    ww = m.select(
        "event_type",
        "n",
        F.expr(_SQL_NEYMAN_STD).alias("std"),
    ).select(
        "event_type",
        "n",
        "std",
        F.expr(_SQL_NEYMAN_W).cast("decimal(18,6)").alias("wt"),
    )
    tot = ww.agg(F.sum("wt").alias("wsum"))
    return (
        ww.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_rows"),
            "std",
            # try_divide: every stratum degenerate (std 0 -> wsum 0)
            # leaves the allocation undefined — NULL both engines (r9)
            F.floor(
                F.try_divide(
                    F.col("wt").cast("double"), F.col("wsum").cast("double")
                )
                * _NEYMAN_BUDGET
                + 0.5
            )
            .cast("long")
            .alias("alloc"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# source-mix entropy
# ---------------------------------------------------------------------------

#: Per-source entropy term −p·ln p on the exact token-count ratio,
#: rounded onto the 12dp grid BEFORE the cross-source DECIMAL sum.
_SQL_ENTROPY_TERM = (
    "CAST(round(-(CAST(tok AS DOUBLE) / CAST(total AS DOUBLE))"
    " * ln(CAST(tok AS DOUBLE) / CAST(total AS DOUBLE)), 12)"
    " AS DECIMAL(24,12))"
)


@query(
    "mix_source_entropy",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             sum(len(string_split(text, ' '))) AS tok
      FROM documents GROUP BY source
    ), tot AS (SELECT sum(tok) AS total, count(*) AS k FROM per_src),
    terms AS (
      SELECT {_SQL_ENTROPY_TERM} AS term
      FROM per_src CROSS JOIN tot
    )
    SELECT CAST(t.k AS BIGINT) AS n_sources,
           CAST(t.total AS BIGINT) AS total_tokens,
           round(CAST(sum(term) AS DOUBLE), 6) AS entropy,
           round(CAST(sum(term) AS DOUBLE) / ln(CAST(t.k AS DOUBLE)), 6)
             AS normalized_entropy
    FROM terms CROSS JOIN tot t
    GROUP BY t.k, t.total
    """,
)
def mix_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-share Shannon entropy across corpus sources (plus the
    ln(k)-normalized form) — the one-number diversity gauge a data-mixing
    pipeline tracks so a crawl refresh can't silently collapse the blend
    onto one source (normalized entropy → 1 means uniform, → 0 means
    monoculture). Token counts are exact ints; each −p·ln p term rounds
    onto the 12dp grid before the DECIMAL cross-source sum → bit-exact.

    Scale shape: token counting is map-side arithmetic on the scan
    (no explode — array length only), one source-catalog-sized
    aggregate, one 1-row broadcast total; output is a single row at any
    corpus size."""
    per_src = (
        spark.table("documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("tok"))
    )
    tot = per_src.agg(
        F.sum("tok").alias("total"), F.count("*").alias("k")
    )
    terms = per_src.crossJoin(F.broadcast(tot)).select(
        F.expr(_SQL_ENTROPY_TERM).alias("term"), "total", "k"
    )
    return terms.groupBy("k", "total").agg(
        F.round(F.sum("term").cast("double"), 6).alias("entropy"),
        F.round(
            F.sum("term").cast("double") / F.log(F.col("k").cast("double")),
            6,
        ).alias("normalized_entropy"),
    ).select(
        F.col("k").cast("long").alias("n_sources"),
        F.col("total").cast("long").alias("total_tokens"),
        "entropy",
        "normalized_entropy",
    )


# ---------------------------------------------------------------------------
# r8c: temporal split with embargo (purged time-series split)
# ---------------------------------------------------------------------------

_TSPLIT_CUT = "2024-01-20 00:00:00"
_TSPLIT_EMBARGO_DAYS = 3


@query(
    "sample_temporal_split_embargo",
    oracle=f"""
    WITH labeled AS (
      SELECT CASE
               WHEN ts <  TIMESTAMP '{_TSPLIT_CUT}' THEN 'train'
               WHEN ts <  TIMESTAMP '{_TSPLIT_CUT}'
                          + INTERVAL {_TSPLIT_EMBARGO_DAYS} DAY THEN 'embargo'
               ELSE 'test'
             END AS split,
             user_id, ts
      FROM events
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(date_trunc('day', ts)) AS DATE) AS first_day,
           CAST(max(date_trunc('day', ts)) AS DATE) AS last_day
    FROM labeled GROUP BY split ORDER BY split
    """,
)
def sample_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal split: train strictly before the cutoff, test
    strictly after a {_TSPLIT_EMBARGO_DAYS}-day embargo window, and the
    embargo rows themselves QUARANTINED and counted — the
    leakage-guarded split (de Prado's purged CV) a time-series model
    must use instead of a hash split when labels depend on
    near-future events. The audit row per split (counts, distinct
    users, day range) is the release gate's evidence that no test row
    predates train's horizon.

    Scale shape: one map-only CASE label + one map-side-combined
    aggregate onto the 3-row split domain (the distinct-user count
    shuffles (split, user) pairs, user-bounded). Timestamps compare as
    exact instants; no sampling, no windows."""
    cut = F.lit(_TSPLIT_CUT).cast("timestamp")
    cut_end = F.timestamp_add("DAY", F.lit(_TSPLIT_EMBARGO_DAYS), cut)
    split = (
        F.when(F.col("ts") < cut, "train")
        .when(F.col("ts") < cut_end, "embargo")
        .otherwise("test")
    )
    return (
        spark.table("events")
        .select(split.alias("split"), "user_id", "ts")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.to_date(F.min(F.date_trunc("day", "ts"))).alias("first_day"),
            F.to_date(F.max(F.date_trunc("day", "ts"))).alias("last_day"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# r8d: greedy k-center coreset (farthest-point traversal, Gonzalez 1985)
# ---------------------------------------------------------------------------

_KC_K = 5


def _kcenter_oracle() -> str:
    """The DuckDB oracle of sample_kcenter_coreset. A callable, rendered
    once every operator module is imported: V and the distance twin live
    in vectors.py, which registers its operators after this module's."""
    from .vectors import _sql_l2sq, _sql_vecs

    def step(k: int) -> str:
        """One unrolled farthest-point step: fold the new center into
        every row's min-distance, then take the deterministic argmax
        (ties → lower vec_id) as the next center."""
        return f"""
    d{k - 1} AS (
      SELECT d.vec_id, d.vec,
             least(d.md, {_sql_l2sq("d.vec", "c.vec")}) AS md
      FROM d{k - 2} d CROSS JOIN c{k} c
    ), c{k + 1} AS (
      SELECT vec_id, vec, md FROM d{k - 1}
      ORDER BY md DESC, vec_id LIMIT 1
    )"""

    return f"""
    WITH v AS ({_sql_vecs()}),
    c1 AS (SELECT vec_id, vec, CAST(NULL AS DOUBLE) AS md FROM v WHERE vec_id = 0),
    d0 AS (
      SELECT v.vec_id, v.vec, {_sql_l2sq("v.vec", "c.vec")} AS md
      FROM v CROSS JOIN c1 c
    ),
    c2 AS (SELECT vec_id, vec, md FROM d0 ORDER BY md DESC, vec_id LIMIT 1),
    {",".join(step(k) for k in range(2, _KC_K))}
    SELECT CAST(r AS BIGINT) AS center_rank, vec_id,
           round(sqrt(md), 6) AS radius
    FROM (
      {" UNION ALL ".join(
          f"SELECT {k} AS r, vec_id, md FROM c{k}" for k in range(1, _KC_K + 1))}
    )
    ORDER BY center_rank
    """


@query("sample_kcenter_coreset", oracle=_kcenter_oracle)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus: farthest-point
    traversal (Gonzalez 1985, the classic 2-approximation) — the
    diversity-maximizing subset selector data-curation pipelines use
    to seed clustering, pick annotation batches, or cap redundant
    regions of embedding space. Each selected center's `radius` is the
    corpus coverage radius of the PREVIOUS center set (the distance
    that made it the farthest point), so the output doubles as the
    coverage-vs-k curve.

    Engine-exact without any decimal grid: the trajectory does only
    per-row list-order distance folds, `least` merges, and
    deterministic argmax picks (ties → lower vec_id) — no cross-row
    FP summation exists to reorder, so the unrolled DuckDB oracle
    replays it bitwise.

    Scale shape: k scans of the corpus, each a broadcast of ONE
    64-float center + a narrow map updating the running min-distance,
    followed by TakeOrderedAndProject (per-partition top-1, no global
    sort). Nothing shuffles; state is k vectors. The min-distance
    column rides the corpus relation and is checkpoint-pinned per
    step, so lineage stays flat at any k."""
    from .vectors import _l2sq, _vecs

    v = _vecs(spark)
    c = v.filter(F.col("vec_id") == 0).select(
        "vec_id", "vec", F.lit(None).cast("double").alias("md")
    )
    picks = [c.select(F.lit(1).cast("long").alias("center_rank"), "vec_id", "md")]
    d = v.crossJoin(
        F.broadcast(c.select(F.col("vec").alias("cvec")))
    ).select("vec_id", "vec", _l2sq(F.col("vec"), F.col("cvec")).alias("md"))
    for k in range(2, _KC_K + 1):
        c = d.orderBy(F.desc("md"), "vec_id").limit(1)
        picks.append(
            c.select(F.lit(k).cast("long").alias("center_rank"), "vec_id", "md")
        )
        if k < _KC_K:
            d = (
                d.crossJoin(F.broadcast(c.select(F.col("vec").alias("cvec"))))
                .select(
                    "vec_id",
                    "vec",
                    F.least(
                        F.col("md"), _l2sq(F.col("vec"), F.col("cvec"))
                    ).alias("md"),
                )
                .transform(pin, "reuse")
            )
    out = picks[0]
    for pk in picks[1:]:
        out = out.unionByName(pk)
    return out.select(
        "center_rank", "vec_id", F.round(F.sqrt("md"), 6).alias("radius")
    ).orderBy("center_rank")


# ---------------------------------------------------------------------------
# r8d: dedup-aware (leakage-safe) train/valid split
# ---------------------------------------------------------------------------


#: Re-key offset for the injected-duplicate corpus (the selfdup harness
#: pattern): the fixture has near-dups but NO exact dups, so without
#: injection both leak counters would be a vacuous 0-vs-0.
_DSPLIT_OFFSET = 300_000_000


@query(
    "sample_dedup_aware_split",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_DSPLIT_OFFSET}, text FROM documents
    ),
    fp AS (
      SELECT doc_id, sha256(text) AS fingerprint FROM corpus
    ),
    assign AS (
      SELECT doc_id, fingerprint,
             CASE WHEN substr(sha256(fingerprint), 1, 4) < '{SAMPLE_50PCT}'
                  THEN 'train' ELSE 'valid' END AS split,
             CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4)
                       < '{SAMPLE_50PCT}'
                  THEN 'train' ELSE 'valid' END AS naive_split
      FROM fp
    ),
    leak AS (
      SELECT CAST(count(*) FILTER (WHERE n_split > 1) AS BIGINT) AS leaked,
             CAST(count(*) FILTER (WHERE n_naive > 1) AS BIGINT)
               AS leaked_naive
      FROM (
        SELECT fingerprint,
               count(DISTINCT split) AS n_split,
               count(DISTINCT naive_split) AS n_naive
        FROM assign GROUP BY fingerprint
      )
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_clusters,
           leak.leaked AS cross_split_clusters,
           leak.leaked_naive AS cross_split_clusters_naive
    FROM assign CROSS JOIN leak
    GROUP BY split, leak.leaked, leak.leaked_naive
    ORDER BY split
    """,
)
def sample_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid split: documents are assigned by the
    hash of their content FINGERPRINT, not their id, so every
    exact-duplicate cluster lands wholly on one side — the split
    discipline an eval pipeline needs before trusting held-out
    numbers (id-hash splits put copies of the same document in both
    train and valid, silently inflating eval). The audit output
    carries the proof: `cross_split_clusters` is COMPUTED (not
    assumed) and must be 0, next to the naive id-hash split's leaked
    count on the same corpus — the comparison IS the evidence the fix
    matters. The fixture has no EXACT dups (only near-dups), so the
    corpus is `documents` UNION a re-keyed copy (the selfdup harness
    pattern): every document then has an exact duplicate under a
    different id, the content-hash split provably co-locates all of
    them (0), and the id-hash split leaks ~half (≫0).

    Scale shape: one digest map pass, the split label is a pure
    function of the 32-byte fingerprint (no join, no cluster table to
    build — unlike generic group-split designs the grouping key IS
    content), one fingerprint-keyed agg for the leak audit, one split
    agg. At 100 TB: two digest-keyed exchanges, document bodies never
    shuffle. Near-dup-safe variants swap the fingerprint for a
    cluster id from `dedup_near_dup_clusters` — the same shape with
    one extra join."""
    d = spark.table("documents")
    corpus = d.select("doc_id", "text").unionAll(
        d.select(
            (F.col("doc_id") + F.lit(_DSPLIT_OFFSET)).alias("doc_id"), "text"
        )
    )
    fp = corpus.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("fingerprint")
    )
    assign = fp.select(
        "doc_id",
        "fingerprint",
        F.when(
            _hash_bucket(F.col("fingerprint")) < SAMPLE_50PCT, F.lit("train")
        )
        .otherwise(F.lit("valid"))
        .alias("split"),
        F.when(_hash_bucket(F.col("doc_id")) < SAMPLE_50PCT, F.lit("train"))
        .otherwise(F.lit("valid"))
        .alias("naive_split"),
    )
    leak = (
        assign.groupBy("fingerprint")
        .agg(
            F.countDistinct("split").alias("n_split"),
            F.countDistinct("naive_split").alias("n_naive"),
        )
        .agg(
            F.count(F.when(F.col("n_split") > 1, 1)).cast("long").alias("leaked"),
            F.count(F.when(F.col("n_naive") > 1, 1))
            .cast("long")
            .alias("leaked_naive"),
        )
    )
    return (
        assign.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("fingerprint").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.col("leaked").alias("cross_split_clusters"),
            F.col("leaked_naive").alias("cross_split_clusters_naive"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (hashed-unigram log-likelihood ratio)
# ---------------------------------------------------------------------------

#: Hashed-feature buckets — state is B regardless of corpus vocabulary,
#: which is the whole point of DSIR at 100 TB (feature table is O(B),
#: broadcastable, never a vocab-sized shuffle).
_DSIR_B = 256
#: Sources defining the "target domain" we want the raw pool re-weighted
#: toward (DSIR: sample raw data proportional to p_target/p_raw).
_DSIR_TARGET = ("src0", "src1")
#: SQL-safe IN list (a raw tuple repr breaks on 1-element tuples —
#: trailing comma): built explicitly so the config stays editable.
_DSIR_TARGET_SQL = "(" + ", ".join(f"'{s}'" for s in _DSIR_TARGET) + ")"
_DSIR_TOP = 25


@query(
    "sample_importance_dsir",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b
      FROM (SELECT doc_id, source, sha256(w) AS h
            FROM (SELECT doc_id, source,
                         unnest(string_split(text, ' ')) AS w
                  FROM documents) t0) t1
    ), raw AS (
      SELECT b, count(*) AS c_r FROM tok GROUP BY b
    ), tgt AS (
      SELECT b, count(*) AS c_t FROM tok
      WHERE source IN {_DSIR_TARGET_SQL} GROUP BY b
    ), tot AS (
      SELECT count(*) AS n_r,
             count(*) FILTER (WHERE source IN {_DSIR_TARGET_SQL}) AS n_t
      FROM tok
    ), lr AS (
      SELECT raw.b,
             {{lr}} AS lr
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
    ), scored AS (
      SELECT t.doc_id, t.source,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(lr AS DECIMAL(18,6))) AS DOUBLE) AS imp
      FROM tok t JOIN lr ON t.b = lr.b
      GROUP BY 1, 2
    )
    SELECT doc_id, source, n_tokens, {{imp}} AS importance
    FROM scored
    WHERE source NOT IN {_DSIR_TARGET_SQL}
    ORDER BY importance DESC, doc_id
    LIMIT {_DSIR_TOP}
    """.format(
        lr=_sql_round_ieee(
            f"ln(((coalesce(c_t, 0) + 0.5) / (n_t + {float(_DSIR_B) / 2}))"
            f" / ((c_r + 0.5) / (n_r + {float(_DSIR_B) / 2})))",
            6,
        ),
        imp=_sql_round_ieee("imp", 6),
    ),
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling [Xie et al., NeurIPS'23]
    — the public DSIR recipe: score every raw document by the hashed
    n-gram log-likelihood ratio between a target domain and the raw
    pool, then resample the pool proportional to the ratio. Here the
    target is `{_DSIR_TARGET}` and the output is the top-{_DSIR_TOP}
    non-target documents by importance (the head a resampler keeps).

    100 TB shape: the per-bucket ratio table is O(B={_DSIR_B}) rows —
    built by ONE map-side-combined pass over the token stream, then
    BROADCAST back onto it, so scoring is map-only (no vocab-sized
    shuffle, no driver state) and the only wide op is the doc-level
    partial+final agg. Hash-bucketed features (Spark `conv`-on-sha2 ==
    DuckDB strpos-compose, same bits) keep the feature space fixed as
    the corpus grows — the smoothed log-ratios land on a 6-decimal
    grid and sum in DECIMAL so both engines agree bitwise."""
    d = spark.table("documents")
    tok = d.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("w"),
    ).withColumn(
        "b", F.conv(F.substring(F.sha2(F.col("w"), 256), 1, 2), 16, 10).cast("int")
    )
    raw = tok.groupBy("b").agg(F.count("*").alias("c_r"))
    tgt = (
        tok.filter(F.col("source").isin(*_DSIR_TARGET))
        .groupBy("b")
        .agg(F.count("*").alias("c_t"))
    )
    tot = tok.agg(
        F.count("*").alias("n_r"),
        F.count(F.when(F.col("source").isin(*_DSIR_TARGET), 1)).alias("n_t"),
    )
    half_b = float(_DSIR_B) / 2
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            _round_ieee(
                F.log(
                    ((F.coalesce(F.col("c_t"), F.lit(0)) + 0.5) / (F.col("n_t") + half_b))
                    / ((F.col("c_r") + 0.5) / (F.col("n_r") + half_b))
                ),
                6,
            ).alias("lr"),
        )
    )
    scored = (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            _round_ieee(
                F.sum(F.col("lr").cast("decimal(18,6)")).cast("double"), 6
            ).alias("importance"),
        )
    )
    return (
        scored.filter(~F.col("source").isin(*_DSIR_TARGET))
        .orderBy(F.desc("importance"), "doc_id")
        .limit(_DSIR_TOP)
    )


@query(
    "sample_balanced_downsample",
    oracle="""
    WITH f AS (
      SELECT event_id, event_type AS grp,
             ((((event_id % 2147483648) + 2147483648) % 2147483648)
              * 2654435761) % 2147483648 AS h
      FROM events
    ), cls AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_in_class FROM f GROUP BY grp
    ), mm AS (SELECT min(n_in_class) AS m FROM cls),
    ranked AS (
      SELECT grp, event_id, h,
             row_number() OVER (PARTITION BY grp ORDER BY h, event_id) AS rk
      FROM f
    ), sel AS (
      SELECT grp, event_id, h FROM ranked CROSS JOIN mm WHERE rk <= mm.m
    )
    SELECT cls.grp, cls.n_in_class,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(sel.event_id) AS BIGINT) AS id_checksum,
           max(sel.h) AS h_threshold
    FROM sel JOIN cls ON sel.grp = cls.grp
    GROUP BY cls.grp, cls.n_in_class ORDER BY cls.grp
    """,
)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event type keeps EXACTLY m
    rows (m = the minority class size), chosen as the m smallest rows
    under a Knuth multiplicative hash of the id — the deterministic
    rebalance a training mix applies before fitting on skewed labels,
    reproducible across runs and engines by construction.

    Cross-engine determinism (r9 driver red-row root cause): the r9
    ordering key was the TEXT of a sha256 hex prefix, which let an
    engine/version divergence in string rendering/collation decide the
    selected set in the driver environment while the local replica
    agreed. The key is now PURE 64-bit integer arithmetic — a Knuth
    multiplicative hash ``pmod(pmod(id, 2^31) * 2654435761, 2^31)`` —
    that both engines compute bit-identically (max intermediate
    2^31 * 2654435761 < 2^63), and the id-checksum is BIGINT on both
    sides so no DECIMAL(38,0) rendering is involved either. No
    text-rendered hash ever decides a cross-engine order again.

    Scale shape — a DISTRIBUTED per-group order statistic, not a
    per-class sort: rows land in 256 hash-prefix buckets (the top 8
    bits of h, so bucket order is monotone in h); per-class bucket
    counts get a prefix sum over the BOUNDED bucket domain (256 cells
    × classes — catalog-sized); every row in a bucket below the
    class's cutoff bucket is selected outright (no ordering ever
    touches it), and only the ONE boundary bucket per class (~1/256 of
    the class; widen to more prefix bits at larger scale) pays a
    partitioned rank. The selected set is pinned by an exact integer
    id-checksum, so the oracle proves the SELECTION, not just counts.
    Oracle twin ranks every row per class — same result, quadratically
    more ordering work; this plan is why the bucketed form exists."""
    two31 = F.lit(2147483648)
    f = spark.table("events").select(
        "event_id",
        F.col("event_type").alias("grp"),
        F.pmod(
            F.pmod(F.col("event_id"), two31) * F.lit(2654435761), two31
        ).alias("h"),
    ).withColumn("bucket", F.shiftright(F.col("h"), 23))
    cls = f.groupBy("grp").agg(F.count("*").cast("long").alias("n_in_class"))
    mm = cls.agg(F.min("n_in_class").alias("m"))
    bc = f.groupBy("grp", "bucket").agg(F.count("*").alias("cnt"))
    wcum = (
        W.partitionBy("grp").orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = bc.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "prev", F.col("cum") - F.col("cnt")
    )
    # the one boundary bucket per class: first bucket whose cum reaches m
    cut = (
        cum.crossJoin(F.broadcast(mm))
        .filter((F.col("prev") < F.col("m")) & (F.col("cum") >= F.col("m")))
        .select(
            "grp",
            F.col("bucket").alias("cut_bucket"),
            (F.col("m") - F.col("prev")).alias("take_in_bucket"),
        )
    )
    tagged = f.join(F.broadcast(cut), "grp")
    below = tagged.filter(F.col("bucket") < F.col("cut_bucket")).select(
        "grp", "event_id", "h"
    )
    wrk = W.partitionBy("grp").orderBy("h", "event_id")
    boundary = (
        tagged.filter(F.col("bucket") == F.col("cut_bucket"))
        .withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= F.col("take_in_bucket"))
        .select("grp", "event_id", "h")
    )
    sel = below.unionAll(boundary)
    return (
        sel.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_selected"),
            F.sum("event_id").cast("long").alias("id_checksum"),
            F.max("h").alias("h_threshold"),
        )
        .join(cls, "grp")
        .select("grp", "n_in_class", "n_selected", "id_checksum", "h_threshold")
        .orderBy("grp")
    )


@query(
    "dedup_keep_best_per_cluster",
    oracle=f"""
    WITH RECURSIVE
    sh AS ({_sql_doc_shingles("documents")}),
    {_sql_shingle_overlap()},
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
            >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(doc, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.doc, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ),
    comp AS (SELECT doc AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY doc),
    labeled AS (
      SELECT d.doc_id, d.source, d.n_chars,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             (c.doc_id IS NOT NULL) AS in_cluster
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rk
      FROM labeled
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE in_cluster) AS BIGINT) AS n_in_clusters,
           CAST(count(*) FILTER (WHERE rk = 1) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE rk > 1) AS BIGINT) AS n_dropped
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def dedup_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION, end-to-end: exact-Jaccard near-dup pairs →
    connected components (star contraction) → keep exactly ONE document
    per cluster, the longest (n_chars DESC, doc_id tiebreak), drop the
    rest — reported as the per-source kept/dropped ledger a corpus
    release ships with. Composes dedup_ngram_jaccard's prefix-filtered
    pair generation and dedup_near_dup_clusters' components
    (star_components) into the operation a training pipeline actually
    executes.

    Scale shape: pair generation and contraction as in the parent ops
    (text never moves after pairs are built); the keep-best choice is a
    partitioned rank over CLUSTER-sized groups (WindowGroupLimit-shaped
    rk=1 filter), and the ledger is one source-bounded rollup. The
    oracle replays the whole chain — recursive-CTE closure included —
    so the final keep/drop decisions are value-checked end-to-end."""
    d = spark.table("documents")
    pairs = jaccard_pairs_exact(d, JACCARD_THRESHOLD).select("doc_a", "doc_b")
    comp = star_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    labeled = (
        d.select("doc_id", "source", "n_chars")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            F.col("component").isNotNull().alias("in_cluster"),
        )
    )
    wr = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    ranked = labeled.withColumn("rk", F.row_number().over(wr))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.when(F.col("in_cluster"), 1)).cast("long").alias("n_in_clusters"),
            F.count(F.when(F.col("rk") == 1, 1)).cast("long").alias("n_kept"),
            F.count(F.when(F.col("rk") > 1, 1)).cast("long").alias("n_dropped"),
        )
        .orderBy("source")
    )


@query(
    "sample_negative_table",
    oracle=f"""
    WITH vocab AS ({_sql_word_counts()}
    ), powed AS (
      SELECT word, c,
             CAST({_sql_round_ieee("pow(CAST(c AS DOUBLE), 0.75)", 6)}
                  * 1000000.0 AS DECIMAL(38,0)) AS micro
      FROM vocab
    ), cum AS (
      SELECT word, c, micro,
             sum(micro) OVER (ORDER BY word
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM powed
    ), tot AS (SELECT sum(micro) AS t FROM powed)
    SELECT word, c AS n_occurrences,
           CAST(hi - micro AS BIGINT) AS range_lo,
           CAST(hi AS BIGINT) AS range_hi,
           {_sql_round_ieee(
               "CAST(micro AS DOUBLE) / CAST(t AS DOUBLE)", 9)} AS p_negative
    FROM cum CROSS JOIN tot
    ORDER BY word
    """,
)
def sample_negative_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: P(w) ∝ count(w)^0.75,
    materialized as CONSECUTIVE integer ranges [lo, hi) over the vocab
    — the artifact a trainer consumes (draw u uniform in [0, total),
    binary-search the range) to sample negatives without ever touching
    the corpus again.

    Determinism: each word's unnormalized mass is pow(c, 0.75) rounded
    onto the 1e-6 grid and carried as an exact DECIMAL micro-integer,
    so the cumulative range ENDPOINTS are exact integers assembled by a
    distributed prefix over the word-ordered vocab domain — identical
    on both engines down to the last unit. One corpus pass + one
    vocab-sized prefix."""
    from .prefix import attach_prefix_sums

    powed = _word_counts(spark).withColumn(
        "micro",
        (_round_ieee(F.pow(F.col("c").cast("double"), 0.75), 6) * 1000000.0)
        .cast("decimal(38,0)"),
    )
    cum = attach_prefix_sums(powed, ["word"], ["micro"])
    tot = powed.agg(F.sum("micro").alias("t"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "word",
            F.col("c").alias("n_occurrences"),
            (F.col("micro_upto") - F.col("micro")).cast("long").alias("range_lo"),
            F.col("micro_upto").cast("long").alias("range_hi"),
            _round_ieee(
                F.col("micro").cast("double") / F.col("t").cast("double"), 9
            ).alias("p_negative"),
        )
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# rolling-origin (expanding-window) time-series CV folds
# ---------------------------------------------------------------------------

_RO_FOLDS = 5


@query(
    "sample_rolling_origin_folds",
    oracle=f"""
    WITH days AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d FROM events
    ), bounds AS (
      SELECT min(d) AS d0, max(d) + 1 AS d1 FROM days
    ), folds AS (
      SELECT f,
             d0 + ((f + 1) * (d1 - d0)) // {_RO_FOLDS + 1} AS test_start,
             d0 + ((f + 2) * (d1 - d0)) // {_RO_FOLDS + 1} AS test_end
      FROM (SELECT unnest(generate_series(0, {_RO_FOLDS - 1})) AS f)
      CROSS JOIN bounds
    )
    SELECT f AS fold, test_start, test_end,
           CAST(count(CASE WHEN d < test_start THEN 1 END) AS BIGINT)
             AS n_train,
           CAST(count(CASE WHEN d >= test_start AND d < test_end THEN 1 END)
                AS BIGINT) AS n_test
    FROM folds JOIN days ON true
    GROUP BY f, test_start, test_end
    ORDER BY fold
    """,
)
def sample_rolling_origin_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation folds over the
    event stream: the time axis is cut into {_RO_FOLDS} + 1 equal
    segments; fold f trains on everything BEFORE segment f+1 and tests
    on segment f+1 — the only CV scheme that never leaks the future
    into training (sample_temporal_split_embargo is one such split;
    forecasting backtests like ts_snaive_backtest need the whole
    LADDER). Boundaries are integer day numbers derived from exact
    epoch arithmetic, so fold membership can't flip on a float ulp.

    Scale shape: one min/max pass fixes the boundaries ({_RO_FOLDS}
    rows, broadcast); fold counts are ONE conditional aggregate over
    the fact-fold cross (a {_RO_FOLDS}-way broadcast nested loop —
    each fact row is counted against 5 integer comparisons, no
    shuffle of facts beyond the final {_RO_FOLDS}-row rollup). A
    trainer materializes fold f by re-applying the same day predicate
    as a pushed-down filter."""
    days = spark.table("events").select(
        F.expr(
            "CAST(floor(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
            " div 86400"
        ).alias("d")
    )
    bounds = days.agg(
        F.min("d").alias("d0"), (F.max("d") + 1).alias("d1")
    )
    folds = (
        spark.createDataFrame([(f,) for f in range(_RO_FOLDS)], "f int")
        .crossJoin(F.broadcast(bounds))
        .select(
            "f",
            (
                F.col("d0")
                + F.expr(f"((f + 1) * (d1 - d0)) div {_RO_FOLDS + 1}")
            ).alias("test_start"),
            (
                F.col("d0")
                + F.expr(f"((f + 2) * (d1 - d0)) div {_RO_FOLDS + 1}")
            ).alias("test_end"),
        )
    )
    joined = days.crossJoin(F.broadcast(folds))
    return (
        joined.groupBy(F.col("f").cast("long").alias("fold"), "test_start", "test_end")
        .agg(
            F.count(F.when(F.col("d") < F.col("test_start"), 1))
            .cast("long")
            .alias("n_train"),
            F.count(
                F.when(
                    (F.col("d") >= F.col("test_start"))
                    & (F.col("d") < F.col("test_end")),
                    1,
                )
            )
            .cast("long")
            .alias("n_test"),
        )
        .orderBy("fold")
    )
