"""Contrastive-training data mining: hard-negative selection over the
embedding corpus — for each query vector, the most-similar vectors with a
DIFFERENT label (the negatives that actually teach a contrastive model).

Same physical shape as the exact ANN baseline (vectors.py): broadcast the
query set, scan the corpus once, rank per query — the label inequality is
one extra predicate on the broadcast join, so the corpus still never
shuffles. Oracle: brute-force pair scores in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query
from .vectors import N_QUERIES, _dot, _sql_dot, _sql_vecs, _vecs

_K_NEG = 5


@query(
    "ann_hard_negatives",
    oracle=f"""
    WITH v AS ({_sql_vecs()}),
    q AS (
      SELECT vec_id AS q_id, label AS q_label, vec AS q_vec, nrm AS q_nrm
      FROM v WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
      SELECT q_id, v.vec_id AS neg_id, v.label AS neg_label,
             {_sql_dot("q_vec", "vec")} / (q_nrm * nrm) AS cosine
      FROM q CROSS JOIN v
      WHERE v.label <> q_label
    ),
    ranked AS (
      SELECT q_id, neg_id, neg_label, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neg_id) AS rnk
      FROM pairs
    )
    SELECT q_id, neg_id, neg_label, round(cosine, 4) AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_K_NEG}
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives per query vector (highest cosine among
    different-label corpus vectors). Broadcast queries × corpus scan —
    no corpus shuffle; at 100 TB the label predicate prunes inside the
    same single pass the exact ANN baseline makes."""
    v = _vecs(spark)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = v.join(F.broadcast(q), F.col("label") != F.col("q_label")).select(
        "q_id",
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        (_dot(F.col("q_vec"), F.col("vec")) / (F.col("q_nrm") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "neg_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _K_NEG)
        .select("q_id", "neg_id", "neg_label", F.round("cosine", 4).alias("cosine"), "rnk")
    )
