"""Vector-similarity operators over `embeddings` (BASELINE north star §2.4).

Approximate-nearest-neighbor surface: brute-force cosine top-k as the
exact baseline, an IVF-style (inverted-file) probe as the scale path, plus
high-cosine pair mining and norm statistics.

Design for 100 TB:
- query sets are broadcast (small side), so the corpus never shuffles for
  brute force; top-k is a per-query window over a q_id-partitioned shuffle
  whose size is |queries| × |corpus-partition top-k| after AQE.
- the IVF variant prunes the corpus to the probed cells *before* the
  distance computation — the join on cell id is the partition-pruning
  analogue for vector search.
- all dot products use JVM-side zip_with/aggregate folds — no Python.

Vector kernels and base relations. The embedding operators here and in
mining, retrieval, pipeline and sampling read the vectors through kernels
and relations defined once below, each a Spark builder next to its DuckDB
twin (text.py's paired style; tests/test_vector_relations.py holds them
equal row for row):

- kernels: ``_as_double`` / ``_SQL_VEC`` (float list → double list),
  ``_dot`` / ``_sql_dot(a, b)``, ``_norm`` / ``_SQL_NORM`` and
  ``_l2sq`` / ``_sql_l2sq(a, b)`` (squared L2 distance);
- V ``_vecs``: ``vec_id, label, vec, nrm``, one row per embedding;
- C ``_centered_vecs``: ``vec_id, label, cvec``, V minus the
  per-dimension mean (a DECIMAL(30,8) sum over a count, rounded to 6dp);
- the power iteration ``_top_component(centered)`` / ``_sql_top_component()``:
  ``vvec, lam`` after ``_PCA_ITERS`` rounds from a uniform start.

Rules. Every fold runs in list order from 0.0, so both engines perform the
same IEEE operations. A NULL embedding (a failed embed) keeps its row with
NULL ``vec``, ``nrm`` and ``cvec``; an operator that drops failed embeds
filters ``vec IS NOT NULL`` at its call site. Builders return unpinned
relations; each caller pins at its call site. The query-vector selects
(``vec_id < N_QUERIES``) stay with their callers, as each carries its own
extra columns; ``fn_array`` and ``vectors_quantize_int8`` read the raw
float list, and the per-dimension oracles of ``vectors_centroid_drift``
and ``vectors_dim_variance`` unnest it themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .num import davg, sql_davg, _round_ieee, _sql_round_ieee
from .pin import pin
from .registry import query

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors
N_PROBE = 3  # IVF cells probed
#: Max vectors per semantic-dedup blocking cell (see
#: dedup_semantic_clusters): within-cell pair mining is quadratic in
#: THIS cap, never in corpus size.
CELL_OCCUPANCY = 250

_SQL_VEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_SQL_NORM = f"sqrt(list_sum(list_transform({_SQL_VEC}, x -> x * x)))"


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _sql_dot(a: str, b: str) -> str:
    # dp: no enclosing lambda names it (ABTT nests this fold in one)
    return f"list_sum(list_transform(list_zip({a}, {b}), dp -> dp[1] * dp[2]))"


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_l2sq(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " lp -> (lp[1] - lp[2]) * (lp[1] - lp[2])))"
    )


def _vecs(spark: SparkSession) -> DataFrame:
    """V: ``vec_id, label, vec, nrm``."""
    return (
        spark.table("embeddings")
        .select("vec_id", "label", _as_double(F.col("embedding")).alias("vec"))
        .withColumn("nrm", _norm(F.col("vec")))
    )


def _sql_vecs() -> str:
    return f"""
      SELECT vec_id, label, {_SQL_VEC} AS vec, {_SQL_NORM} AS nrm
      FROM embeddings"""


def _centered_vecs(spark: SparkSession) -> DataFrame:
    """C: ``vec_id, label, cvec``."""
    v = _vecs(spark)
    mu = (
        v.select(F.posexplode("vec").alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(30,8)")).cast("double")
                / F.count("*"),
                6,
            ).alias("m")
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda r: r["m"],
            ).alias("mvec")
        )
    )
    return v.crossJoin(F.broadcast(mu)).select(
        "vec_id", "label", F.zip_with("vec", "mvec", lambda x, y: x - y).alias("cvec")
    )


def _sql_centered_vecs() -> str:
    # The CASE keeps a NULL vec's cvec NULL: list_zip pads a NULL list
    # with NULLs where Spark's zip_with returns NULL.
    return f"""
      SELECT vec_id, label,
             CASE WHEN vec IS NOT NULL THEN
               list_transform(list_zip(vec, mvec), p -> p[1] - p[2]) END AS cvec
      FROM ({_sql_vecs()}) CROSS JOIN (
        SELECT list_transform(list_sort(list(ROW(dim, m))), r -> r[2]) AS mvec
        FROM (
          SELECT d.dim,
                 round(CAST(sum(CAST(v.vec[d.dim + 1] AS DECIMAL(30,8)))
                            AS DOUBLE) / count(*), 6) AS m
          FROM ({_sql_vecs()}) v,
               LATERAL (SELECT unnest(range(0, len(v.vec))) AS dim) d
          GROUP BY d.dim))"""


def occupancy_blocked(v: DataFrame) -> DataFrame:
    """Attach the occupancy-bounded blocking sub-cell key to a vector
    relation (columns: vec_id, label, …): the sub-cell count grows with
    the label's population so a (label, sub) cell never holds more than
    ~CELL_OCCUPANCY vectors in expectation — pair mining stays quadratic
    in the CAP, linear in the corpus. The assignment is the
    engine-independent content hash (sha256 prefix), so DuckDB blocks
    identically."""
    nlab = F.count("*").over(W.partitionBy("label"))
    nsub = F.ceil(nlab / F.lit(float(CELL_OCCUPANCY))).cast("int")
    sub = (
        F.conv(
            F.substring(F.sha2(F.col("vec_id").cast("string"), 256), 1, 4), 16, 10
        ).cast("int")
        % nsub
    )
    return v.withColumn("sub", sub)


def _sql_occupancy_blocked(v: str) -> str:
    """The SQL twin of :func:`occupancy_blocked` over the relation ``v``."""
    return f"""
      SELECT *,
             CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER)
               % CAST(ceil(count(*) OVER (PARTITION BY label) / {CELL_OCCUPANCY}.0)
                      AS INTEGER) AS sub
      FROM ({v})"""


#: Brute-force cosine top-k: the oracle of ann_cosine_topk and of its
#: value-exact IVF twin ann_ivf_exhaustive.
SQL_COSINE_TOPK = f"""
    WITH v AS ({_sql_vecs()}),
    q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM v WHERE vec_id < {N_QUERIES}),
    pairs AS (
      SELECT q_id, v.vec_id AS neighbor_id,
             {_sql_dot("q_vec", "vec")} / (q_nrm * nrm) AS cosine
      FROM q CROSS JOIN v
      WHERE v.vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs
    )
    SELECT q_id, neighbor_id, round(cosine, 4) AS cosine, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@query("ann_cosine_topk", oracle=SQL_COSINE_TOPK)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Brute-force exact cosine top-k: broadcast the queries, scan the
    # corpus once, rank per query. The exact baseline the ANN variants are
    # measured against.
    v = _vecs(spark)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm")
    )
    pairs = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q_vec"), F.col("vec")) / (F.col("q_nrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rnk")
    )


def _ivf_topk(spark: SparkSession, n_probe: int) -> DataFrame:
    """Shared IVF pipeline: centroid per `label` cell, probe the top
    ``n_probe`` cells per query, exact search within probed cells (see
    ann_ivf_topk for the cost model). With ``n_probe`` ≥ the cell count
    the probe is EXHAUSTIVE and the pipeline must reproduce brute force
    exactly — the property ann_ivf_exhaustive value-checks."""
    v = _vecs(spark)

    # cell centroids: elementwise mean via posexplode → avg per dimension
    cent = (
        v.select("label", F.posexplode("vec").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.avg("val").alias("cval"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs"))
        .select(
            "label",
            F.transform(F.col("pairs"), lambda s: s.getField("cval")).alias("cvec"),
        )
        .withColumn("cnrm", _norm(F.col("cvec")))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm")
    )
    # probe: top-N_PROBE cells by query↔centroid cosine
    qc = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "q_id",
            "q_vec",
            "q_nrm",
            "label",
            (_dot(F.col("q_vec"), F.col("cvec")) / (F.col("q_nrm") * F.col("cnrm"))).alias(
                "ccos"
            ),
        )
        .withColumn(
            "crnk",
            F.row_number().over(W.partitionBy("q_id").orderBy(F.desc("ccos"), "label")),
        )
        .filter(F.col("crnk") <= n_probe)
        .select("q_id", "q_vec", "q_nrm", "label")
    )
    # exact search within probed cells
    pairs = (
        v.join(F.broadcast(qc), on="label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q_vec"), F.col("vec")) / (F.col("q_nrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rnk")
    )


@query("ann_ivf_topk")  # IVF probing is approximate → rows-only check
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: centroid per `label` cell, probe the top-N_PROBE
    cells per query, exact search within probed cells only.

    The `label` column stands in for a k-means cell assignment (the
    clustering step itself is offline in a real pipeline). Cost model at
    scale: centroids table is tiny (broadcast); the corpus is pruned by
    the cell-id join before any distance math — the vector analogue of
    partition pruning. Approximate by construction → rows-only check
    (recall bounds pinned in tests; the exhaustive twin below value-
    checks the pipeline itself)."""
    return _ivf_topk(spark, N_PROBE)


@query("ann_ivf_exhaustive", oracle=SQL_COSINE_TOPK)
def ann_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-EXACT twin of ann_ivf_topk (the dedup_minhash_lsh_selfdup
    pattern applied to IVF): probe EVERY cell (n_probe ≥ cell count),
    which makes the IVF pipeline mathematically equal to brute-force
    cosine top-k — so the whole machinery (centroid build, probe
    ranking, in-cell exact search, final rank) is checked against the
    brute-force ORACLE with full value hashing. The primary op keeps
    its honest rows-only status (pruning approximates BY DESIGN —
    recall measured in tests/test_queries.py); this twin retires the
    "is the pipeline itself correct?" question."""
    return _ivf_topk(spark, 10_000)


@query(
    "embed_cosine_pairs",
    oracle=f"""
    WITH v AS ({_sql_occupancy_blocked(_sql_vecs())})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round({_sql_dot("a.vec", "b.vec")} / (a.nrm * b.nrm), 4) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.sub = b.sub
                     AND a.vec_id < b.vec_id
    WHERE {_sql_dot("a.vec", "b.vec")} / (a.nrm * b.nrm) >= 0.30
    """,
)
def embed_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding near-dup candidate mining: high-cosine pairs within an
    # occupancy-bounded blocking cell. r11 replan (VERDICT r10 ask #2):
    # the r10 plan paired the WHOLE label cell — cell population grows
    # linearly with the corpus, so pairs grew quadratically (measured
    # 211× wall at 30× data, the registry's one super-linear plan). Now
    # the cell key is (label, content-hash sub-cell) via the same
    # occupancy_blocked() helper the SemDeDup family uses: sub-cell
    # count scales with label population, so a cell never holds more
    # than ~CELL_OCCUPANCY vectors in expectation — pair mining is
    # quadratic in the CAP, linear in the corpus. The oracle mirrors the
    # engine-independent sha256 sub-key, so equivalence stays
    # value-exact. Cross-sub-cell pairs are forgone by construction —
    # the standard candidate-generation trade every blocked miner makes;
    # exhaustive semantics live in the ANN brute-force twins. At test
    # scales every label holds ≤ CELL_OCCUPANCY vectors, so sub == 0
    # everywhere and results equal the unblocked r10 output.
    # Threshold 0.30 (r13, r12 ADVICE): the fixture's within-label
    # cosines top out near 0.47, so the former 0.92 cut emitted ZERO
    # pairs at every SF and the driver's value check was vacuous; 0.30
    # emits ~80-110 pairs at sf0.001/sf0.01 (nearest observed cosine
    # >= 2e-4 from the cut — far outside float-order divergence) while
    # leaving the plan and candidate cost untouched (the cut is a
    # post-join filter).
    # NOT pinned (r14): both join sides do re-derive v (2 scans in the
    # plan), but pinning measured NEUTRAL over 8 A/B rounds (4.35 vs
    # 4.37 s median) — the parse is cheap next to the pair join — and
    # a corpus-sized cache is the scale-worse shape vs two
    # column-pruned parquet scans. Contrast _semantic_clusters, where
    # the same pin measured a win and was kept.
    v = occupancy_blocked(_vecs(spark))
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.30)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(cos, 4).alias("cosine"),
        )
    )


@query(
    "embed_norm_stats",
    oracle=f"""
    SELECT label,
           count(*) AS n_vecs,
           {sql_davg("nrm")} AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM ({_sql_vecs()})
    GROUP BY label
    ORDER BY label
    """,
)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _vecs(spark)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            davg(F.col("nrm")).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


def _semantic_oracle(threshold: float) -> str:
    """DuckDB oracle for the SemDeDup-shaped clustering, parameterized by
    the cosine threshold (recursive reachability = connected components)."""
    return f"""
    WITH RECURSIVE
    v AS ({_sql_occupancy_blocked(_sql_vecs())}),
    prs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM v a JOIN v b ON a.label = b.label AND a.sub = b.sub
                       AND a.vec_id < b.vec_id
      WHERE {_sql_dot("a.vec", "b.vec")} / (a.nrm * b.nrm) >= {threshold}
    ),
    edges AS (
      SELECT va AS src, vb AS dst FROM prs
      UNION SELECT vb, va FROM prs
    ),
    walk(node, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ),
    lab AS (
      SELECT node AS vec_id, min(reach) AS cluster_id FROM walk GROUP BY node
    )
    SELECT vec_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           (vec_id = cluster_id) AS is_canonical
    FROM lab
    ORDER BY vec_id
    """


def semantic_pairs(v: DataFrame, threshold: float) -> DataFrame:
    """High-cosine (≥ threshold) pairs within each (label, sub) blocking
    cell of an occupancy-blocked vector relation (columns: vec_id, label,
    vec, nrm, sub) → (va, vb) with va < vb."""
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= threshold)
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
    )


def _semantic_clusters(spark: SparkSession, threshold: float) -> DataFrame:
    from .sampling import star_components

    # Pinned (r14): semantic_pairs self-joins v — same double-scan
    # rationale as embed_cosine_pairs above.
    v = occupancy_blocked(_vecs(spark)).transform(pin, "reuse")
    lab = star_components(semantic_pairs(v, threshold), "va", "vb").select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )
    return (
        lab.withColumn(
            "cluster_size",
            F.count("*").over(W.partitionBy("cluster_id")).cast("bigint"),
        )
        .withColumn("is_canonical", F.col("vec_id") == F.col("cluster_id"))
        .orderBy("vec_id")
    )


@query("dedup_semantic_clusters", oracle=_semantic_oracle(0.92))
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup-shaped): high-cosine embedding
    pairs within a blocking cell → connected components → one canonical
    (minimum-id) representative per cluster, with cluster sizes — the
    keep-one-per-cluster decision table a curation pipeline acts on.
    Blocking is OCCUPANCY-BOUNDED, exactly like SemDeDup's k-means
    cells: the cell key is (label, content-hash sub-cell), where the
    sub-cell count grows with the label's population so a cell never
    holds more than ~CELL_OCCUPANCY vectors. Within-cell pair mining is
    quadratic in the OCCUPANCY CAP (a constant), so total work is
    linear in corpus size and cells scale out embarrassingly — the
    unbounded-label variant re-ran the whole 10× replica at 8.7×
    because every cell's population (and so its pair count) grew with
    the corpus. Cross-sub-cell near-dups are forgone by construction —
    the recall/cost trade every blocking-based dedup (SemDeDup
    included) makes; the sub-cell assignment is the engine-independent
    content hash (sha256 prefix, like the Bernoulli sampler), so both
    engines block identically and the check stays value-exact.
    Components come from sampling.star_components; cluster_size is a count window inside the component-partitioned
    exchange. Only ids shuffle after pair mining — embeddings never
    move again. At the test scales every label holds ≤ CELL_OCCUPANCY
    vectors, so the sub-cell key is constant-0 and results equal the
    plain label-blocked variant.

    The production 0.92 threshold yields rows only once the corpus
    carries true near-dups (the 10× replicated smoke mines ~200k pairs);
    on the clean small-SF fixtures no pair clears it, so the driver-gate
    evidence for THIS entry compares empty outputs — the t40 twin below
    exists to keep the whole pipeline (blocking, pair mining, star
    contraction, canonical pick) value-checked on non-empty data at
    every scale."""
    return _semantic_clusters(spark, 0.92)


@query("dedup_semantic_clusters_t40", oracle=_semantic_oracle(0.40))
def dedup_semantic_clusters_t40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic_clusters` with the cosine threshold at 0.40: same
    blocking, pair mining, and star-contraction pipeline, tuned so the
    clean synthetic fixtures yield clusters at EVERY scale (sf0.01: 5
    pairs, margin-to-threshold 0.0017; sf0.1: 86 pairs) — the
    non-vacuous driver-gate twin of the production 0.92 entry, whose
    clean-corpus output is empty by construction. One registration per
    threshold keeps both under the value-exact oracle."""
    return _semantic_clusters(spark, 0.40)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random-hyperplane / SimHash signatures, banded)
# ---------------------------------------------------------------------------

LSH_BITS = 16
LSH_BANDS = 4
LSH_ROWS_PER_BAND = LSH_BITS // LSH_BANDS
_EMB_DIM = 64


def _lsh_hyperplanes(dim: int = _EMB_DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix (Charikar's SimHash for cosine):
    entry (b, j) is the parity of the first sha256 hex digit of ``b:j`` —
    an engine-independent derivation, inlined into BOTH the Spark plan
    and the DuckDB oracle as the same fixed model constant (like a
    similarity threshold), so the two engines verify the full
    signature → band → bucket → rerank pipeline against each other."""
    import hashlib

    return [
        [
            1 if int(hashlib.sha256(f"{b}:{j}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for j in range(dim)
        ]
        for b in range(LSH_BITS)
    ]


_H = _lsh_hyperplanes()
_H_SQL = "[" + ", ".join("[" + ", ".join(str(x) for x in row) + "]" for row in _H) + "]"


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH v AS ({_sql_vecs()}),
    hb AS (  -- one row per hyperplane: materializes H[b] ONCE, not per lambda
      SELECT b, {_H_SQL}[b + 1] AS hrow
      FROM (SELECT unnest(generate_series(0, {LSH_BITS - 1})) AS b)
    ),
    dots AS (
      SELECT v.vec_id, hb.b,
             list_sum(list_transform(generate_series(1, {_EMB_DIM}),
                      j -> hrow[j] * vec[j])) AS dot
      FROM v CROSS JOIN hb
    ),
    sigs AS (
      SELECT vec_id, b // {LSH_ROWS_PER_BAND} AS band,
             CAST(sum(CASE WHEN dot >= 0
                           THEN (1 << (b % {LSH_ROWS_PER_BAND})) ELSE 0 END)
                  AS BIGINT) AS band_sig
      FROM dots GROUP BY 1, 2
    ),
    q AS (SELECT * FROM sigs WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, s.vec_id AS neighbor_id,
             qv.vec AS q_vec, qv.nrm AS q_nrm, sv.vec, sv.nrm
      FROM q JOIN sigs s ON q.band = s.band AND q.band_sig = s.band_sig
                        AND q.vec_id <> s.vec_id
      JOIN v qv ON qv.vec_id = q.vec_id
      JOIN v sv ON sv.vec_id = s.vec_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id,
             {_sql_dot("q_vec", "vec")} / (q_nrm * nrm) AS cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY
               {_sql_dot("q_vec", "vec")} / (q_nrm * nrm) DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT q_id, neighbor_id, round(cosine, 4) AS cosine, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — the VALUE-EXACT scale path next to the
    rows-only IVF variant: every vector gets {LSH_BITS} sign bits
    against the fixed ±1 hyperplane matrix (SimHash for cosine), split
    into {LSH_BANDS} bands of {LSH_ROWS_PER_BAND} bits; a corpus vector
    is a candidate for a query iff ANY band signature matches
    (probability rises with cosine — the banding amplification), and
    only candidates get the exact cosine + top-k rerank. Because the
    hyperplanes are a deterministic shared constant, candidate sets are
    identical across engines and the driver gate value-checks the whole
    approximate pipeline, not just row counts.

    Scale shape: signatures are MAP-ONLY (16 fixed-size JVM folds per
    vector — no Python, no shuffle); the bucket join is an equi-join on
    (band, band_sig) whose right side is corpus × {LSH_BANDS} rows of
    (16-byte signature + id); candidates ≈ corpus × P(band collision)
    per query — the pruning that replaces the brute-force cross join;
    rerank touches candidates only. At 10⁹ vectors the signature
    relation is what shuffles, never the embeddings (they ride only to
    the rerank of matched candidates)."""
    v = _vecs(spark)
    h_lit = [F.array(*[F.lit(x) for x in row]) for row in _H]
    def band_sig(band: int) -> Column:
        out = F.lit(0).cast("long")
        for r in range(LSH_ROWS_PER_BAND):
            dot = _dot(F.col("vec"), h_lit[band * LSH_ROWS_PER_BAND + r])
            out = out + F.when(dot >= 0, F.lit(1 << r).cast("long")).otherwise(0)
        return out

    sigs = v.select(
        "vec_id",
        "vec",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"), band_sig(band).alias("band_sig")
                    )
                    for band in range(LSH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("vec_id", "vec", "nrm", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        "band",
        "band_sig",
    )
    cand = (
        sigs.join(F.broadcast(q), ["band", "band_sig"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "q_vec", "q_nrm", "vec", "nrm")
        .distinct()
    )
    cos = _dot(F.col("q_vec"), F.col("vec")) / (F.col("q_nrm") * F.col("nrm"))
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rnk")
    )


# ---------------------------------------------------------------------------
# embedding centroid drift
# ---------------------------------------------------------------------------


@query(
    "vectors_centroid_drift",
    oracle=f"""
    WITH v AS (
      SELECT label, vec_id % 2 AS half, d.dim,
             CAST(embedding[d.dim + 1] AS DOUBLE) AS val
      FROM embeddings,
           LATERAL (SELECT unnest(range(0, len(embedding))) AS dim) d
    ), cent AS (
      SELECT label, half, dim,
             round(CAST(sum(CAST(val AS DECIMAL(30,8))) AS DOUBLE)
                   / count(*), 6) AS m
      FROM v GROUP BY label, half, dim
    ), diffs AS (
      SELECT c0.label, c0.dim,
             CAST(round((c0.m - c1.m) * (c0.m - c1.m), 12)
                  AS DECIMAL(24,12)) AS d2
      FROM cent c0 JOIN cent c1
        ON c0.label = c1.label AND c0.dim = c1.dim
       AND c0.half = 0 AND c1.half = 1
    ), n AS (
      SELECT label,
             count(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END) AS n_a,
             count(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END) AS n_b
      FROM embeddings GROUP BY label
    )
    SELECT d.label,
           CAST(n.n_a AS BIGINT) AS n_a,
           CAST(n.n_b AS BIGINT) AS n_b,
           round(sqrt(CAST(sum(d.d2) AS DOUBLE)), 6) AS centroid_l2_drift
    FROM diffs d JOIN n ON d.label = n.label
    GROUP BY d.label, n.n_a, n.n_b ORDER BY d.label
    """,
)
def vectors_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift screen: per label, the L2 distance between the
    centroids of two deterministic halves of the corpus (even/odd
    vec_id — in production: train vs fresh batch) — the cheap
    distribution-shift alarm an embedding pipeline checks before
    retraining or re-indexing. Per-dim means decimal-sum then round to
    6dp (the kmeans recentering discipline); squared diffs round onto
    the 12dp grid and sum in DECIMAL, so the drift value is bit-exact
    across engines.

    Scale shape: ONE posexplode → (label, half, dim)-keyed map-side-
    combined aggregate — shuffle volume is labels × 2 × dims, not
    vectors; the diff join and label counts run on that bounded centroid
    relation. Vectors never shuffle whole; at 100 TB the same plan holds
    with dims as the only state multiplier."""
    e = _vecs(spark)
    v = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("vec").alias("dim", "val"),
    )
    cent = v.groupBy("label", "half", "dim").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(30,8)")).cast("double")
            / F.count("*"),
            6,
        ).alias("m")
    )
    c0 = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("m").alias("m0")
    )
    c1 = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("m").alias("m1")
    )
    diffs = c0.join(c1, ["label", "dim"]).select(
        "label",
        F.round((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")), 12)
        .cast("decimal(24,12)")
        .alias("d2"),
    )
    n = e.groupBy("label").agg(
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))
        ).alias("n_a"),
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 1, F.col("vec_id"))
        ).alias("n_b"),
    )
    return (
        diffs.groupBy("label")
        .agg(F.round(F.sqrt(F.sum("d2").cast("double")), 6).alias(
            "centroid_l2_drift"
        ))
        .join(F.broadcast(n), "label")
        .select(
            "label",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "centroid_l2_drift",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# PCA top component (power iteration)
# ---------------------------------------------------------------------------

_PCA_ITERS = 2


def _sql_pca_iter(i: int) -> str:
    """One unrolled power iteration in DuckDB SQL: scores s = c·v (fixed
    per-row fold order), per-dim w = Σ round(c_d·s, 9) in DECIMAL, then
    normalize with a 12dp-grid squared sum."""
    return f"""
    s{i} AS (
      SELECT c.vec_id, {_sql_dot("c.cvec", "v.vvec")} AS s
      FROM centered c CROSS JOIN v{i - 1} v
    ), w{i} AS (
      SELECT d.dim,
             CAST(sum(CAST(round(c.cvec[d.dim + 1] * s{i}.s, 9)
                           AS DECIMAL(28,9))) AS DOUBLE) AS wd
      FROM centered c
        JOIN s{i} ON c.vec_id = s{i}.vec_id,
        LATERAL (SELECT unnest(range(0, len(c.cvec))) AS dim) d
      GROUP BY d.dim
    ), n{i} AS (
      SELECT CAST(sum(CAST(round(wd * wd, 12) AS DECIMAL(30,12)))
                  AS DOUBLE) AS n2
      FROM w{i}
    ), v{i} AS (
      SELECT list_transform(
               list_sort(list(ROW(dim, round(wd / sqrt(n.n2), 9)))),
               r -> r[2]) AS vvec,
             sqrt(n.n2) AS lam
      FROM w{i} CROSS JOIN n{i} n
      GROUP BY n.n2
    )"""


def _sql_top_component() -> str:
    """The CTEs ``v0`` … ``v<_PCA_ITERS>`` over a ``centered`` CTE (C); the
    last one holds ``vvec, lam``."""
    v0 = """
    v0 AS (
      SELECT list_transform(range(0, 64), x -> 0.125) AS vvec
    )"""
    return ",".join([v0] + [_sql_pca_iter(i) for i in range(1, _PCA_ITERS + 1)])


def _top_component(centered: DataFrame) -> DataFrame:
    """``vvec, lam`` (one row) after ``_PCA_ITERS`` power iterations over C.

    Scale shape per iteration: broadcast the d-sized component, one map
    pass computes scores, one (dim)-keyed map-side-combined aggregate
    re-projects — shuffle volume is d rows per iteration, vectors never
    shuffle (the caller pins ``centered`` once). Same physical pattern as
    Lloyd's k-means: state broadcast down, d-sized gradients combined up."""
    v = centered.sparkSession.range(1).select(
        F.transform(F.sequence(F.lit(0), F.lit(63)), lambda _: F.lit(0.125)).alias(
            "vvec"
        )
    )
    for _ in range(_PCA_ITERS):
        s = centered.crossJoin(F.broadcast(v.select("vvec"))).select(
            "cvec", _dot(F.col("cvec"), F.col("vvec")).alias("s")
        )
        w = (
            s.select(F.posexplode("cvec").alias("dim", "xd"), "s")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.round(F.col("xd") * F.col("s"), 9).cast("decimal(28,9)")
                )
                .cast("double")
                .alias("wd")
            )
            # w is read twice (n2 norm + v update); unpinned, its pass over
            # the VECTOR-sized centered table doubled per iteration (r14).
            .transform(pin, "reuse")
        )
        n2 = w.agg(
            F.sum(
                F.round(F.col("wd") * F.col("wd"), 12).cast("decimal(30,12)")
            )
            .cast("double")
            .alias("n2")
        )
        v = (
            w.crossJoin(F.broadcast(n2))
            .select(
                "dim",
                F.round(F.col("wd") / F.sqrt("n2"), 9).alias("vd"),
                F.sqrt("n2").alias("lam"),
            )
            .groupBy("lam")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "vd"))),
                    lambda r: r["vd"],
                ).alias("vvec")
            )
            .select("vvec", "lam")
        )
    return v


@query(
    "vectors_pca_top_component",
    oracle=f"""
    WITH centered AS ({_sql_centered_vecs()}),
    {_sql_top_component()}
    SELECT CAST(d.dim AS BIGINT) AS dim,
           round(v.vvec[d.dim + 1], 6) AS loading,
           round(v.lam, 6) AS eigenvalue
    FROM v{_PCA_ITERS} v,
         LATERAL (SELECT unnest(range(0, len(v.vvec))) AS dim) d
    ORDER BY dim
    """,
)
def vectors_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by {_PCA_ITERS}
    power iterations (v ← normalize(Σᵢ cᵢ (cᵢ·v)) over mean-centered
    vectors, deterministic uniform start) — the dimensionality-reduction
    primitive behind whitening, anisotropy diagnostics, and ABTT-style
    post-processing of embedding spaces. The whole trajectory is
    engine-exact: per-row dots fold in list order (same IEEE sequence),
    cross-row sums round onto a decimal grid first (9dp products, 12dp
    squares, the kmeans recentering discipline), and the normalization
    is a fixed op shape — DuckDB replays the identical unrolled
    iterations and the value-hash matches bitwise.

    Scale shape: see _top_component; the centered corpus is pinned once."""
    # reused every iteration; vectors never shuffle
    centered = _centered_vecs(spark).transform(pin, "reuse")
    v = _top_component(centered)
    return (
        v.select(F.posexplode("vvec").alias("dim", "loading"), "lam")
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.round("loading", 6).alias("loading"),
            F.round("lam", 6).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# all-but-the-top embedding post-processing
# ---------------------------------------------------------------------------


@query(
    "vectors_abtt_postprocess",
    oracle=f"""
    WITH centered AS ({_sql_centered_vecs()}),
    {_sql_top_component()},
    proj AS (
      SELECT c.vec_id, c.label,
             round(sqrt(list_sum(list_transform(c.cvec, x -> x * x))), 9)
               AS norm_before,
             round(sqrt({_sql_l2sq(
               "c.cvec",
               f"list_transform(v.vvec, y -> {_sql_dot('c.cvec', 'v.vvec')} * y)",
             )}), 9) AS norm_after
      FROM centered c CROSS JOIN v{_PCA_ITERS} v
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(CAST(norm_before AS DECIMAL(28,9))) AS DOUBLE)
                 / count(*), 6) AS mean_norm_before,
           round(CAST(sum(CAST(norm_after AS DECIMAL(28,9))) AS DOUBLE)
                 / count(*), 6) AS mean_norm_after
    FROM proj GROUP BY label ORDER BY label
    """,
)
def vectors_abtt_postprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding post-processing (Mu & Viswanath,
    ICLR'18): mean-center, estimate the dominant component by power
    iteration, project it OUT of every vector (x′ = c − (c·v)v), and
    report per-label mean norms before/after — the anisotropy repair
    that makes cosine similarities discriminative again in embedding
    spaces with a dominant common direction. Per-row folds run in list
    order, per-row norms round to 9dp before the DECIMAL per-label mean
    — the whole pipeline (centering, 2-iteration component, projection,
    stats) value-hashes bitwise against the unrolled SQL replay.

    Scale shape: the PCA iterations are d-row shuffles (above); the
    projection is one map pass with the component broadcast — vectors
    never shuffle, and the label stats are a catalog-sized aggregate.
    At 100 TB this is the same two-broadcast-passes cost as int8
    quantization."""
    centered = _centered_vecs(spark).transform(pin, "reuse")
    v = _top_component(centered).select("vvec")
    score = _dot(F.col("cvec"), F.col("vvec"))
    proj = centered.crossJoin(F.broadcast(v)).select(
        "label",
        F.round(_norm(F.col("cvec")), 9).alias("norm_before"),
        F.round(
            F.sqrt(_l2sq(F.col("cvec"), F.transform("vvec", lambda y: score * y))),
            9,
        ).alias("norm_after"),
    )
    return (
        proj.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("norm_before").cast("decimal(28,9)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("mean_norm_before"),
            F.round(
                F.sum(F.col("norm_after").cast("decimal(28,9)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("mean_norm_after"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# r8d: product-quantization ANN (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 2011)
# ---------------------------------------------------------------------------

#: PQ config over the 64-dim fixture: 8 subspaces × 8 dims, 16 centroids
#: each → a vector compresses to 8 4-bit codes (4 bytes vs 256 bytes of
#: float32 — the 64× memory story that makes billion-vector search fit).
PQ_M = 8
PQ_SUBDIM = 8
PQ_K = 16
PQ_LLOYD_ITERS = 2
PQ_RERANK_POOL = 50


def _pq_topk(spark: SparkSession, k: int) -> DataFrame:
    """Shared PQ pipeline: codebooks of `k` centroids per subspace →
    codes → ADC scan → exact rerank. `k = PQ_K` is the real quantizer;
    `k ≥ corpus size` keeps every distinct subvector as its own centroid,
    making ADC equal exact L2² (the value-exact twin's configuration).

    This is the memory-compression leg of the ANN triad (IVF prunes
    WHICH vectors are scanned, LSH buckets candidates, PQ shrinks WHAT
    a scan reads): the corpus lives as {PQ_M} 4-bit codes per vector
    ({PQ_M * PQ_K} lookup entries per query replace the full float
    read), so a 100 TB float corpus scans as ~1.6 TB of codes, and the
    full vectors are touched only for the Q×{PQ_RERANK_POOL} rerank
    pool.

    Distributed layout: codebook training is {PQ_LLOYD_ITERS} Lloyd
    iterations per subspace, seeded deterministically (xxhash64 rank
    init), with assignment as a broadcast join against the
    {PQ_M}×{PQ_K}-row codebook and centroid recompute as a
    per-dimension aggregate — the codebook relation never exceeds 128
    rows and is localCheckpoint-pinned per iteration (the PageRank/PCA
    loop idiom). ADC joins the exploded code stream against the
    broadcast per-query lookup table and partial-aggregates map-side,
    so the only shuffle carries (q_id, vec_id, partial-sum) rows."""
    v = (
        _vecs(spark)
        # vec IS NOT NULL: a failed-embed row has no position in
        # vector space, and a NULL ADC distance would rank FIRST in
        # Spark's ASC pool window but LAST in DuckDB's (the engines'
        # default null orders differ only for ASC — which is why the
        # cosine-DESC ANN family is immune; r10 nulls corpus).
        .filter(F.col("vec").isNotNull())
        # v feeds the subvector slicing, the query set AND the rerank
        # join; unpinned, the scan + parse + norm ran three times (r14).
        .transform(pin, "reuse")
    )
    # (vec_id, m, subvec): the m-th contiguous 8-dim slice of each vector.
    sub = v.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.slice(F.col("vec"), m * PQ_SUBDIM + 1, PQ_SUBDIM),
            )
        ).alias("m", "subvec"),
    ).transform(pin, "reuse")

    # Deterministic seeded init: per subspace, the K lowest-hash vectors
    # donate their subvectors as starting centroids.
    rn = F.row_number().over(
        W.partitionBy("m").orderBy(F.xxhash64(F.lit(71), "vec_id"), "vec_id")
    )
    cents = (
        sub.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select("m", (F.col("rn") - 1).alias("cid"), F.col("subvec").alias("cvec"))
        .transform(pin, "reuse")
    )
    for _ in range(PQ_LLOYD_ITERS):
        assign = (
            sub.join(F.broadcast(cents), "m")
            .withColumn("d2", _l2sq(F.col("subvec"), F.col("cvec")))
            .withColumn(
                "arn",
                F.row_number().over(
                    W.partitionBy("vec_id", "m").orderBy("d2", "cid")
                ),
            )
            .filter(F.col("arn") == 1)
        )
        cents = (
            assign.select("m", "cid", F.posexplode("subvec").alias("dim", "val"))
            .groupBy("m", "cid", "dim")
            .agg(F.avg("val").alias("cval"))
            .groupBy("m", "cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs")
            )
            .select(
                "m",
                "cid",
                F.transform(F.col("pairs"), lambda s: s.getField("cval")).alias(
                    "cvec"
                ),
            )
            .transform(pin, "reuse")
        )
    # Final encoding: nearest centroid per (vector, subspace).
    codes = (
        sub.join(F.broadcast(cents), "m")
        .withColumn("d2", _l2sq(F.col("subvec"), F.col("cvec")))
        .withColumn(
            "arn",
            F.row_number().over(W.partitionBy("vec_id", "m").orderBy("d2", "cid")),
        )
        .filter(F.col("arn") == 1)
        .select("vec_id", "m", "cid")
    )
    # Per-query ADC lookup table: L2² from each query subvector to every
    # centroid — Q×M×K rows, broadcast.
    qsub = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "m", F.col("subvec").alias("qsub")
    )
    lut = qsub.join(F.broadcast(cents), "m").select(
        "q_id", "m", "cid", _l2sq(F.col("qsub"), F.col("cvec")).alias("d2")
    )
    # ADC scan: code stream ⋈ broadcast LUT, map-side partial sums; the
    # shuffle carries (q_id, vec_id) partials only.
    approx = (
        codes.join(F.broadcast(lut), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2").alias("adist"))
    )
    # Tie-safe pool boundary (r10 ADVICE): adist is a float sum whose
    # partial-aggregate order differs between Spark and the oracle's
    # index-order list_sum, so near-tied candidates at the
    # PQ_RERANK_POOL cutoff could diverge by ulps. Ranking on a 1e-6
    # IEEE grid (noise is ~1e-11 absolute) with the vec_id tiebreak
    # makes pool membership order-insensitive; the exhaustive-ADC twin's
    # oracle ranks on the identical expression.
    pool = (
        approx.withColumn(
            "prn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    _round_ieee(F.col("adist"), 6), "vec_id"
                )
            ),
        )
        .filter(F.col("prn") <= PQ_RERANK_POOL)
        .select("q_id", "vec_id")
    )
    # Exact cosine rerank over the Q×pool candidates only.
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = (
        v.join(F.broadcast(pool), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_vec"), F.col("vec"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rnk")
    )


@query("ann_pq_topk")  # PQ-ADC candidate generation is approximate → rows-only
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (see _pq_topk for the pipeline and its
    distributed layout). Approximate by construction → rows-only driver
    check; the VALUE-level evidence is the pinned recall@{TOP_K} bound
    against `ann_cosine_topk`'s exact output in tests/test_queries.py
    plus the value-exact exhaustive-ADC twin below."""
    return _pq_topk(spark, PQ_K)


@query(
    "ann_pq_exhaustive_adc",
    oracle=f"""
    WITH v AS (
      -- vec IS NOT NULL: see _pq_topk (ASC-ranked pools are the
      -- one place the engines' null sort orders diverge)
      SELECT * FROM ({_sql_vecs()}) WHERE vec IS NOT NULL
    ),
    q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm
          FROM v WHERE vec_id < {N_QUERIES}),
    adist AS (
      SELECT q_id, v.vec_id, {_sql_l2sq("q_vec", "vec")} AS adist
      FROM q CROSS JOIN v WHERE v.vec_id <> q_id
    ),
    pool AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY {_sql_round_ieee("adist", 6)},
                                           vec_id) AS prn
        FROM adist) WHERE prn <= {PQ_RERANK_POOL}
    ),
    pairs AS (
      SELECT pool.q_id, pool.vec_id AS neighbor_id,
             {_sql_dot("q_vec", "vec")} / (q_nrm * nrm) AS cosine
      FROM pool
        JOIN v ON v.vec_id = pool.vec_id
        JOIN q ON q.q_id = pool.q_id
    )
    SELECT q_id, neighbor_id, round(cosine, 4) AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT q_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs)
    WHERE rnk <= {TOP_K}
    """,
)
def ann_pq_exhaustive_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-EXACT twin of ann_pq_topk (the ann_ivf_exhaustive pattern
    applied to PQ): with the codebook cap lifted past the corpus size,
    the seeded init keeps EVERY distinct subvector as its own centroid,
    Lloyd iterations are fixed points (identical members → identical
    mean), and the per-subspace ADC sum collapses to the exact L2²
    distance — so the whole machinery (slicing, codebook loop, code
    assignment, broadcast-LUT ADC scan, pool ranking, exact rerank) is
    checked against a brute-force L2-pool + cosine-rerank ORACLE with
    full value hashing. The primary op keeps its honest rows-only
    status (a 16-centroid quantizer approximates BY DESIGN; recall
    bound pinned in tests); this twin retires the "is the pipeline
    itself correct?" question the same way IVF's exhaustive twin did.
    Correctness-harness configuration, not a scale path — the real
    quantizer above is the 100 TB design."""
    return _pq_topk(spark, 1 << 30)


# ---------------------------------------------------------------------------
# r8d: Matryoshka truncation evaluation
# ---------------------------------------------------------------------------

#: Truncated prefix length evaluated against the full 64 dims.
MRL_DIMS = 16


@query(
    "vectors_matryoshka_eval",
    oracle=f"""
    WITH v AS (SELECT *, vec[1:{MRL_DIMS}] AS tvec FROM ({_sql_vecs()})),
    n AS (
      SELECT vec_id, vec, tvec, nrm,
             sqrt(list_sum(list_transform(tvec, x -> x * x))) AS tnrm
      FROM v
    ),
    q AS (
      SELECT vec_id AS q_id, vec AS q_vec, tvec AS q_tvec,
             nrm AS q_nrm, tnrm AS q_tnrm
      FROM n WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
      SELECT q_id, n.vec_id AS neighbor_id,
             {_sql_dot("q_vec", "n.vec")} / (q_nrm * n.nrm) AS cos_full,
             {_sql_dot("q_tvec", "n.tvec")} / (q_tnrm * n.tnrm) AS cos_trunc
      FROM q CROSS JOIN n
      WHERE n.vec_id <> q_id
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_full DESC, neighbor_id)
               AS r_full,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_trunc DESC, neighbor_id)
               AS r_trunc
      FROM pairs
    )
    SELECT q_id,
           CAST(count(*) FILTER (WHERE r_full <= {TOP_K}
                                   AND r_trunc <= {TOP_K}) AS BIGINT)
             AS n_overlap,
           round(CAST(count(*) FILTER (WHERE r_full <= {TOP_K}
                                         AND r_trunc <= {TOP_K}) AS DOUBLE)
                 / {TOP_K}, 6) AS recall_at_{TOP_K}
    FROM ranked GROUP BY q_id ORDER BY q_id
    """,
)
def vectors_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS 2022): per query, how much of
    the full-64-dim exact top-{TOP_K} neighborhood survives when
    vectors are truncated to their first {MRL_DIMS} dims — the
    decision metric for shipping shortened embeddings (4× less
    memory/bandwidth) in a tiered retrieval stack, and the
    quantitative guard before enabling a truncated first-pass index.

    Exactness: both rankings come from identical list-order cosine
    folds with deterministic (score, id) tie-breaks; the overlap is
    an integer and recall a fixed integer ratio.

    Scale shape: the corpus is scanned ONCE carrying both
    representations (the truncated slice is a free projection);
    queries broadcast; per-query ranking is the `ann_cosine_topk`
    window envelope run over the same single shuffle (two window
    functions, one exchange)."""
    v = (
        _vecs(spark)
        .withColumn("tvec", F.slice("vec", 1, MRL_DIMS))
        .withColumn("tnrm", _norm(F.col("tvec")))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("tvec").alias("q_tvec"),
        F.col("nrm").alias("q_nrm"),
        F.col("tnrm").alias("q_tnrm"),
    )
    pairs = v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("q_vec"), F.col("vec")) / (F.col("q_nrm") * F.col("nrm"))).alias(
            "cos_full"
        ),
        (
            _dot(F.col("q_tvec"), F.col("tvec"))
            / (F.col("q_tnrm") * F.col("tnrm"))
        ).alias("cos_trunc"),
    )
    ranked = pairs.select(
        "q_id",
        "neighbor_id",
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.desc("cos_full"), "neighbor_id"))
        .alias("r_full"),
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.desc("cos_trunc"), "neighbor_id"))
        .alias("r_trunc"),
    )
    hit = (F.col("r_full") <= TOP_K) & (F.col("r_trunc") <= TOP_K)
    return (
        ranked.groupBy("q_id")
        .agg(
            F.count(F.when(hit, 1)).cast("long").alias("n_overlap"),
            F.round(
                F.count(F.when(hit, 1)).cast("double") / TOP_K, 6
            ).alias(f"recall_at_{TOP_K}"),
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# r8e: binary-quantized ANN (sign bits + Hamming candidates, exact rerank)
# ---------------------------------------------------------------------------

_BHAM_CAND = 32  #: Hamming candidate pool per query before the exact rerank
_BHAM_K = 5

#: DuckDB: pack sign bits of dims [lo, lo+31] into one BIGINT word.
def _sql_signword(lo: int) -> str:
    return (
        "list_sum(list_transform(generate_series(0, 31),"
        f" j -> CASE WHEN vec[j + {lo + 1}] > 0"
        " THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))"
    )


def _signword(col_name: str, lo: int) -> Column:
    return F.expr(
        f"aggregate(sequence(0, 31), CAST(0 AS BIGINT),"
        f" (acc, j) -> acc + IF(element_at({col_name}, j + {lo + 1}) > 0,"
        " shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"
    )


@query(
    "ann_binary_hamming_topk",
    oracle=f"""
    WITH v AS ({_sql_vecs()}), w AS (
      SELECT vec_id, vec, nrm,
             {_sql_signword(0)} AS w_hi,
             {_sql_signword(32)} AS w_lo
      FROM v
    ), q AS (
      SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm,
             w_hi AS q_hi, w_lo AS q_lo
      FROM w WHERE vec_id < {N_QUERIES}
    ), ham AS (
      SELECT q_id, w.vec_id AS neighbor_id,
             CAST(bit_count(xor(q_hi, w_hi))
                  + bit_count(xor(q_lo, w_lo)) AS BIGINT) AS hamming,
             {_sql_dot("q_vec", "vec")} / (q_nrm * nrm) AS cosine
      FROM q CROSS JOIN w
      WHERE w.vec_id <> q_id
    ), cand AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY hamming, neighbor_id) AS crnk
      FROM ham
    ), rer AS (
      SELECT q_id, neighbor_id, hamming, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM cand WHERE crnk <= {_BHAM_CAND}
    )
    SELECT q_id, neighbor_id, hamming, round(cosine, 4) AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM rer WHERE rnk <= {_BHAM_K}
    """,
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN — the 32×-compression retrieval shape now
    standard for large embedding corpora: each 64-d vector collapses to
    its 64 SIGN BITS (two BIGINT words), candidates rank by Hamming
    distance (XOR + popcount — pure ALU, no floats), and only the
    top-{_BHAM_CAND} candidates per query pay the exact-cosine rerank.
    Like `ann_lsh_topk`, the whole approximate pipeline is VALUE-checked:
    sign bits, Hamming ranks, and the reranked top-{_BHAM_K} are all
    deterministic on both engines.

    100 TB shape: the binary index is 16 bytes/vector (vs 256 for
    float32) — it stays in memory when the vectors don't; the Hamming
    scan is a broadcast-queries map pass inside codegen (bit_count on
    longs), and the float rerank touches only queries×{_BHAM_CAND}
    rows. The sign words double as a coarse router: at cluster scale
    you'd bucket by the top bits (multi-index Hamming) instead of
    scanning, same bits, same layout."""
    v = (
        _vecs(spark)
        .withColumn("w_hi", _signword("vec", 0))
        .withColumn("w_lo", _signword("vec", 32))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        F.col("w_hi").alias("q_hi"),
        F.col("w_lo").alias("q_lo"),
    )
    ham = v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.expr("q_hi ^ w_hi")) + F.bit_count(F.expr("q_lo ^ w_lo"))
        ).cast("long").alias("hamming"),
        (_dot(F.col("q_vec"), F.col("vec")) / (F.col("q_nrm") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    wc = W.partitionBy("q_id").orderBy("hamming", "neighbor_id")
    wr = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        ham.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= _BHAM_CAND)
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= _BHAM_K)
        .select("q_id", "neighbor_id", "hamming", F.round("cosine", 4).alias("cosine"), "rnk")
    )


@query(
    "vectors_cosine_histogram",
    oracle=f"""
    WITH v AS (
      SELECT *, substr(sha256(CAST(vec_id AS VARCHAR)), 1, 2) AS bkt
      FROM ({_sql_vecs()})
    ), pairs AS (
      SELECT {_sql_dot("a.vec", "b.vec")} / (a.nrm * b.nrm) AS cosine
      FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    ), binned AS (
      SELECT CAST(floor(least(greatest((cosine + 1.0) * 10.0, 0.0), 19.0))
               AS BIGINT) AS bin,
             CAST({_sql_round_ieee("cosine", 9)} AS DECIMAL(38,9)) AS cg
      FROM pairs
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs_total,
             {_sql_round_ieee("CAST(sum(cg) AS DOUBLE) / count(*)", 6)}
               AS mean_cosine
      FROM binned
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
           (SELECT n_pairs_total FROM tot) AS n_pairs_total,
           (SELECT mean_cosine FROM tot) AS mean_cosine
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def vectors_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine HISTOGRAM over a deterministic hash-bucketed pair
    sample — the embedding-collapse diagnostic: a healthy space shows a
    broad distribution centered near 0; anisotropy/collapse shows up as
    mass piled at high cosine (the condition vectors_abtt_postprocess
    exists to fix, here made measurable).

    Scale shape: pairs form ONLY inside 256 sha-prefix buckets —
    n²/256 sampled pairs via one equi-join (never all-pairs); at larger
    corpora widen the bucket count ∝ n to keep the sample linear (the
    occupancy-bound discipline from semantic dedup). Cosines grid-round
    at 1e-9 into exact decimal sums for the mean; bin edges are floor()
    on identical IEEE doubles (the ECE cast lesson applied)."""
    v = _vecs(spark).withColumn(
        "bkt", F.substring(F.sha2(F.col("vec_id").cast("string"), 256), 1, 2)
    )
    b = v.select(
        F.col("vec_id").alias("vid_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
        "bkt",
    )
    pairs = (
        v.join(b, "bkt")
        .filter(F.col("vec_id") < F.col("vid_b"))
        .select(
            (
                _dot(F.col("vec"), F.col("vec_b"))
                / (F.col("nrm") * F.col("nrm_b"))
            ).alias("cosine")
        )
    )
    binned = pairs.select(
        F.floor(
            F.least(F.greatest((F.col("cosine") + 1.0) * 10.0, F.lit(0.0)), F.lit(19.0))
        )
        .cast("long")
        .alias("bin"),
        _round_ieee(F.col("cosine"), 9).cast("decimal(38,9)").alias("cg"),
    )
    tot = binned.agg(
        F.count("*").cast("long").alias("n_pairs_total"),
        _round_ieee(
            F.sum("cg").cast("double") / F.count("*"), 6
        ).alias("mean_cosine"),
    )
    return (
        binned.groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select("bin", "n_pairs", "n_pairs_total", "mean_cosine")
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# per-dimension variance screen (dead/degenerate embedding dims)
# ---------------------------------------------------------------------------

#: Population variance / mean from the exact 8dp-grid moments — one
#: shared IEEE expression each.
_DIMVAR = (
    "((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
)


@query(
    "vectors_dim_variance",
    oracle=f"""
    WITH el AS (
      SELECT gs.i - 1 AS dim, CAST(embedding[gs.i] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) gs
    ), mom AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(x * 1e8 + 0.5) AS DECIMAL(18,0)))
                  AS DOUBLE) / 1e8 AS sx,
             CAST(sum(CAST(floor(x * x * 1e8 + 0.5) AS DECIMAL(18,0)))
                  AS DOUBLE) / 1e8 AS sxx
      FROM el GROUP BY dim
    )
    SELECT dim, n,
           {_sql_round_ieee("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)", 6)}
             AS mean_,
           {_sql_round_ieee(_DIMVAR, 6)} AS variance,
           ({_sql_round_ieee(_DIMVAR, 6)}) < 0.0001 AS is_degenerate
    FROM mom ORDER BY dim
    """,
)
def vectors_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance screen over the embedding corpus —
    the dead-dimension detector (a dim whose variance ≈ 0 carries no
    information: an initialization bug, a truncation artifact, or a
    collapsed feature; vectors_matryoshka_eval measures prefix QUALITY,
    this localizes which coordinates are broken). Flags dims with
    population variance < 1e-4.

    Determinism: per-element values and squares land on the 1e-8
    INTEGER grid before summation (dsum_i's cheap tier — ~40% less per
    element than double-to-decimal casts, which dominate an
    every-element pass; sums stay exact in DECIMAL(18,0)-of-longs with
    1e28 headroom); mean and variance are shared
    IEEE closed forms over (n, Σx, Σx²). Scale shape: one posexplode
    map stage, then a partial+final aggregate onto the d-sized dim
    domain — the only exchange carries d·partitions moment triples,
    vectors never shuffle whole."""
    el = _vecs(spark).select(F.posexplode("vec").alias("dim", "x"))
    d18 = "decimal(18,0)"
    mom = el.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum(F.floor(F.col("x") * 1e8 + F.lit(0.5)).cast(d18)).cast("double")
         / 1e8).alias("sx"),
        (F.sum(
            F.floor(F.col("x") * F.col("x") * 1e8 + F.lit(0.5)).cast(d18)
        ).cast("double") / 1e8).alias("sxx"),
    )
    var6 = _round_ieee(F.expr(_DIMVAR), 6)
    return mom.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        _round_ieee(F.col("sx").cast("double") / F.col("n").cast("double"), 6)
        .alias("mean_"),
        var6.alias("variance"),
        (var6 < 0.0001).alias("is_degenerate"),
    ).orderBy("dim")
