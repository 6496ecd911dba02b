"""The embedding-vector relations and kernels of
shelf_spark/queries/vectors.py: each Spark builder equals its DuckDB twin
row for row on a small hostile embeddings table, and the query layer reads
the vectors and folds them nowhere else."""

from __future__ import annotations

import functools
import math
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from shelf_spark.queries import vectors
from shelf_spark.session import tune

from conftest import owners

DIM = 64
_J = np.arange(DIM)

#: vec_id → (label, float32 embedding or None).
EMBEDDINGS = {
    0: (0, np.full(DIM, 0.1)),  # 0.1 is no float32: its double is 0.10000000149...
    1: (0, None),  # a failed embed
    2: (1, np.sin(_J + 1.0) * 0.7),
    3: (1, np.sin(_J + 1.0) * 0.7),  # identical to vec 2
    4: (2, (_J + 1.0) * 1e-20),  # tiny norm: its squares underflow float32
    5: (2, -(0.3 + _J / 100.0)),  # all negative
    6: (0, np.cos(_J * 0.37) * 1.3 + 0.01),
    7: (1, ((_J * 7919) % 13 - 6) / 3.0),
}


def _fold(xs):
    """Left fold from 0.0, the order both engines sum a list in."""
    return functools.reduce(lambda acc, x: acc + x, xs, 0.0)


def _vec(e):
    """The double list an engine reads from a float32 embedding."""
    return None if e is None else [float(x) for x in e.astype(np.float32)]


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    """A Spark session with its own ``embeddings`` view (temp views are per
    session, so the shared test session's views stay as they are) and a
    DuckDB connection over the same file."""
    path = str(tmp_path_factory.mktemp("vector_relations") / "embeddings.parquet")
    ids = sorted(EMBEDDINGS)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [_vec(EMBEDDINGS[i][1]) for i in ids], pa.list_(pa.float32())
                ),
                "label": pa.array([EMBEDDINGS[i][0] for i in ids], pa.int32()),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    session = tune(spark.newSession())
    session.read.parquet(path).createOrReplaceTempView("embeddings")
    yield session, con
    con.close()


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _both(engines, df, sql):
    """(Spark rows, DuckDB rows), each sorted, after checking that the two
    relations have the same columns in the same order."""
    _, con = engines
    res = con.execute(sql)
    assert df.columns == [c[0] for c in res.description]
    return _sorted(df.collect()), _sorted(res.fetchall())


def test_vecs_twins(engines):
    got, want = _both(engines, vectors._vecs(engines[0]), vectors._sql_vecs())
    assert got == want
    ref = {
        i: (lab, v, None if v is None else math.sqrt(_fold(x * x for x in v)))
        for i, (lab, e) in EMBEDDINGS.items()
        for v in [_vec(e)]
    }
    assert got == _sorted((i, *row) for i, row in ref.items())
    rows = {r[0]: r for r in got}
    assert rows[1][2:] == (None, None)
    assert rows[0][2][0] != 0.1 and rows[2][2:] == rows[3][2:]
    assert 0.0 < rows[4][3] < 1e-17


def test_centered_vecs_twins(engines):
    got, want = _both(
        engines, vectors._centered_vecs(engines[0]), vectors._sql_centered_vecs()
    )
    assert got == want
    rows = {r[0]: r for r in got}
    assert rows[1][2] is None
    assert rows[2][2] == rows[3][2] and len(rows[0][2]) == DIM
    assert sorted(rows) == sorted(EMBEDDINGS)


def test_top_component_twins(engines):
    top = vectors._top_component(vectors._centered_vecs(engines[0]))
    got, want = _both(
        engines,
        top,
        f"WITH centered AS ({vectors._sql_centered_vecs()}),"
        f" {vectors._sql_top_component()}"
        f" SELECT vvec, lam FROM v{vectors._PCA_ITERS}",
    )
    assert got == want
    [(vvec, lam)] = got
    assert len(vvec) == DIM and lam > 0.0
    assert abs(sum(x * x for x in vvec) - 1.0) < 1e-6


def test_kernels_twins(engines):
    """The dot and squared-distance folds give the same doubles on both
    engines, NULL included."""
    session, con = engines
    v = vectors._vecs(session).alias("a").crossJoin(vectors._vecs(session).alias("b"))
    df = v.select(
        F.col("a.vec_id").alias("a_id"),
        F.col("b.vec_id").alias("b_id"),
        vectors._dot(F.col("a.vec"), F.col("b.vec")).alias("dot"),
        vectors._l2sq(F.col("a.vec"), F.col("b.vec")).alias("l2sq"),
    )
    got, want = _both(
        engines,
        df,
        f"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   {vectors._sql_dot("a.vec", "b.vec")} AS dot,
                   {vectors._sql_l2sq("a.vec", "b.vec")} AS l2sq
            FROM ({vectors._sql_vecs()}) a CROSS JOIN ({vectors._sql_vecs()}) b""",
    )
    assert got == want
    pairs = {(a, b): (d, s) for a, b, d, s in got}
    assert pairs[(1, 0)] == (None, None) and pairs[(2, 3)][1] == 0.0


#: (pattern, owners): each vector read and fold lives in one kernel or
#: relation, plus the operators left out on purpose. fn_array and
#: vectors_quantize_int8 read the raw float list; the oracles of
#: vectors_centroid_drift and vectors_dim_variance unnest it per dimension.
_GUARDS = {
    "spark-read": (
        re.escape('spark.table("embeddings")'),
        {
            ("vectors.py", "_vecs"),
            ("functions.py", "fn_array"),
            ("quantize.py", "vectors_quantize_int8"),
        },
    ),
    "spark-dot": (re.escape("lambda x, y: x * y"), {("vectors.py", "_dot")}),
    "spark-l2sq": (re.escape("(x - y) * (x - y)"), {("vectors.py", "_l2sq")}),
    "sql-dot": (r"\[1\] \* \w*\[2\]", {("vectors.py", "_sql_dot")}),
    "sql-read": (
        r"FROM embeddings\b",
        {
            ("vectors.py", "_sql_vecs"),
            ("functions.py", "fn_array"),
            ("quantize.py", "vectors_quantize_int8"),
            ("vectors.py", "vectors_centroid_drift"),
            ("vectors.py", "vectors_dim_variance"),
        },
    ),
}


@pytest.mark.parametrize("guard", sorted(_GUARDS))
def test_vector_reads_and_folds_only_in_relations_and_named_operators(guard):
    pattern, allowed = _GUARDS[guard]
    assert owners(pattern) == allowed
