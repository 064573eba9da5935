"""Centroid-table pins for the IVF cell-assignment kernel
(similarity._arrow_cell_assign).

  1. exactness: cells and ccos equal the JVM expression twin
     (tests/vector_twins.py) with ``==``, including planted ties and a
     NaN row;
  2. size: a centroid table above 1 MB (where PySpark broadcasts the
     pickled kernel itself) is assigned exactly like a small one.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from letarette_spark.functions import similarity as S
from tests import vector_twins as twins


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((300, 16))
    vecs[20] = vecs[3]  # exact duplicate of the seed centroid 3
    vecs[21] = vecs[3] * 2.0  # same direction: cosine ties across copies
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows[23] = (23, [float("nan")] + rows[23][1][1:])  # every cosine NaN
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()


def _base(emb):
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def test_assign_matches_expression_twin(spark, emb):
    # planted ties: centroids 0 and 1 are the same direction, so every
    # vector nearer them ties and must take the lower cell
    cents = S.ivf_centroids(emb, n_cells=8)
    cents[1] = [2.0 * x for x in cents[0]]
    arrow = {
        r["vec_id"]: r["cell"]
        for r in S._arrow_cell_assign(_base(emb), cents, "vec_id").collect()
    }
    twin = {
        r["vec_id"]: r["cell"]
        for r in twins.cell_assign(_base(emb), cents, "vec_id").collect()
    }
    assert arrow == twin and len(arrow) == 300
    assert arrow[23] == 0  # NaN cosines sort last
    assert 1 not in arrow.values()  # every tie went to cell 0


def test_semdedup_assigned_arrow_matches_expr_twin(spark, emb):
    from letarette_spark.functions.semdedup import _assigned

    cents = S.ivf_centroids(emb, n_cells=8)
    arrow = {
        r["id"]: (r["cell"], r["ccos"])
        for r in _assigned(emb, cents, "vec_id", "embedding").collect()
    }
    base = _base(emb).withColumnRenamed("vec_id", "id")
    twin = {
        r["id"]: (r["cell"], r["ccos"])
        for r in twins.cell_assign(base, cents, "id", with_ccos=True).collect()
    }
    # ccos compared EXACTLY; NaN != NaN, so the NaN rows compare by repr
    assert {i: repr(t) for i, t in arrow.items()} == {
        i: repr(t) for i, t in twin.items()
    }
    assert len(arrow) == 300


def test_centroid_table_above_1mb_matches_numpy(spark):
    rng = np.random.default_rng(11)
    C = rng.standard_normal((512, 288))  # 1.18 MB of float64
    V = rng.standard_normal((64, 288))
    assert C.nbytes > 1024 * 1024
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id long, v array<double>",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in S._arrow_cell_assign(df, C.tolist(), "vec_id").collect()
    }
    cos = (V @ C.T) / np.outer(
        np.linalg.norm(V, axis=1), np.linalg.norm(C, axis=1)
    )
    assert got == {i: int(j) for i, j in enumerate(np.argmax(cos, axis=1))}
