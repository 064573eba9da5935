"""IVF (inverted-file) ANN: cell assignment, probe algebra, Lloyd
refinement vs a numpy reference, and the partitioned-layout pruning
claim (cell dirs are the partition-pruning unit at scale)."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from letarette_spark.functions.similarity import (
    _double_array_lit,
    cosine_topk,
    ivf_assign,
    ivf_centroids,
    ivf_index_topk,
    ivf_index_write,
    ivf_probe_cells,
    ivf_topk,
)


def _emb_df(spark, n=60, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_probe_all_cells_equals_brute_force(spark):
    emb = _emb_df(spark)
    exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(emb, 0, k=5, n_cells=4, nprobe=4).collect()
    ]
    assert approx == exact


def test_fewer_probes_subset_of_brute_force_pool(spark):
    emb = _emb_df(spark, n=80)
    cents = ivf_centroids(emb, n_cells=8)
    got = ivf_topk(emb, 0, k=5, nprobe=2, centroids=cents).collect()
    # every hit really lives in a probed cell
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    probed = set(ivf_probe_cells(list(qv), cents, 2))
    cells = dict(
        (r["vec_id"], r["cell"]) for r in ivf_assign(emb, cents).collect()
    )
    assert got and all(cells[r["vec_id"]] in probed for r in got)
    # scores are true cosines (match the exact scorer on the same ids)
    exact = {
        r["vec_id"]: r["cos"] for r in cosine_topk(emb, 0, k=79).collect()
    }
    for r in got:
        assert r["cos"] == pytest.approx(exact[r["vec_id"]], abs=1e-12)


def test_assignment_tie_breaks_to_lowest_cell(spark):
    # two identical centroids (vectors 0 and 1 are duplicates): every
    # vector is equidistant from cells 0 and 1 -> all ties land in cell 0
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [0.5, 0.001]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(emb, n_cells=2)
    assert cents == [[1.0, 0.0], [1.0, 0.0]]
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    assert set(cells.values()) == {0}


def test_lloyd_refinement_matches_numpy(spark):
    emb = _emb_df(spark, n=50, dim=4, seed=3)
    pdf = emb.orderBy("vec_id").toPandas()
    vecs = np.array(pdf["embedding"].tolist())

    def np_cos(a, b):
        return (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    cents = vecs[:4].tolist()
    for _ in range(3):
        assign = [
            min(range(4), key=lambda j: (-np_cos(v, np.array(cents[j])), j))
            for v in vecs
        ]
        new = list(cents)
        for j in range(4):
            members = vecs[[i for i, c in enumerate(assign) if c == j]]
            if len(members):
                new[j] = members.mean(axis=0).tolist()
        cents = new

    got = ivf_centroids(emb, n_cells=4, n_iter=3)
    assert np.allclose(np.array(got), np.array(cents), atol=1e-9)


def test_materialized_index_prunes_cell_dirs(spark, tmp_path):
    emb = _emb_df(spark, n=100)
    cents = ivf_centroids(emb, n_cells=4, n_iter=2)
    path = str(tmp_path / "ivf")
    ivf_index_write(emb, path, cents)

    qv = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    out = ivf_index_topk(spark, path, qv, cents, k=5, nprobe=1)
    probed = set(ivf_probe_cells(qv, cents, 1))
    # the cell predicate must reach the scan as a PARTITION filter
    # (directory-level pruning — the 100-TB claim), not a data filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan
    # and the files actually read during execution are only probed dirs
    # (inputFiles() lists the whole relation, so use input_file_name())
    files = [
        r["f"]
        for r in spark.read.parquet(path)
        .filter(F.col("cell").isin(list(probed)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert files, "scan should read some files"
    assert all(any(f"cell={c}/" in f for c in probed) for f in files), files

    # same result as the direct formulation: probed-cell filter + exact
    # cosine scorer over the in-memory frame
    from letarette_spark.functions.similarity import cosine_expr

    cells = ivf_assign(emb, cents)
    keep = cells.filter(F.col("cell").isin(list(probed))).select("vec_id")
    # (no self-exclusion: the index is queried by literal vector, so the
    # source row itself is a legitimate — perfect-score — hit)
    expect = (
        emb.join(keep, "vec_id")
        .withColumn("qv", F.array(*[F.lit(float(x)) for x in qv]))
        .withColumn("v", F.col("embedding").cast("array<double>"))
        .select("vec_id", cosine_expr("v", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(5)
        .collect()
    )
    assert [r["vec_id"] for r in out.collect()] == [
        r["vec_id"] for r in expect
    ]


def test_empty_and_missing_query(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ivf_centroids(empty, n_cells=4) == []
    assert ivf_topk(empty, 0, k=3).count() == 0
    emb = _emb_df(spark, n=10)
    assert ivf_topk(emb, 999, k=3, n_cells=2, nprobe=1).count() == 0


def _with_null_embeddings(spark, n=40):
    """(clean frame, the same frame plus two rows whose embedding is NULL)."""
    emb = _emb_df(spark, n=n)
    nulls = spark.createDataFrame(
        [(1000, None), (1001, None)], "vec_id long, embedding array<double>"
    )
    return emb, emb.unionByName(nulls)


def test_ivf_assign_null_embedding_gets_null_cell(spark):
    emb, mixed = _with_null_embeddings(spark)
    cents = ivf_centroids(emb, n_cells=4)
    want = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    got = {r["vec_id"]: r["cell"] for r in ivf_assign(mixed, cents).collect()}
    assert got == {**want, 1000: None, 1001: None}
    # a ragged (non-NULL) vector is still an error
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="must all have dim"):
        ivf_assign(ragged, cents).collect()
    # ...whose message names the offending row, in a Lloyd round too
    bad = mixed.unionByName(
        spark.createDataFrame(
            [(1002, [1.0, 2.0])], "vec_id long, embedding array<double>"
        )
    )
    for run in (
        lambda: ivf_assign(bad, cents).collect(),
        lambda: ivf_centroids(bad, n_cells=4, n_iter=1),
    ):
        with pytest.raises(Exception, match="row vec_id=1002 has dim 2"):
            run()


def test_ivf_topk_never_returns_null_embedding(spark):
    emb, mixed = _with_null_embeddings(spark)
    cents = ivf_centroids(emb, n_cells=4)
    for q in (0, 5):
        # every cell probed, k past the corpus size: all non-NULL rows
        got = ivf_topk(mixed, q, k=100, nprobe=4, centroids=cents).collect()
        want = ivf_topk(emb, q, k=100, nprobe=4, centroids=cents).collect()
        assert got == want and len(got) == 39
    assert ivf_topk(mixed, 1000, k=5, nprobe=4, centroids=cents).count() == 0


def test_ivf_index_write_skips_null_embedding(spark, tmp_path):
    emb, mixed = _with_null_embeddings(spark)
    cents = ivf_centroids(emb, n_cells=4)
    path = str(tmp_path / "ivf_nulls")
    ivf_index_write(mixed, path, cents)
    stored = spark.read.parquet(path)
    assert {r["vec_id"] for r in stored.select("vec_id").collect()} == set(range(40))
    assert stored.filter(F.col("cell").isNull()).count() == 0
    qv = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])
    got = ivf_index_topk(spark, path, qv, cents, k=100, nprobe=4).collect()
    assert len(got) == 40 and not {1000, 1001} & {r["vec_id"] for r in got}


def test_sql_double_literals_bit_exact(spark):
    """The SQL-string double literals (ADC LUT, LSH planes, IVF query
    vector) re-create the exact IEEE-754 bits F.lit would have produced."""
    vals = [
        0.1, -0.0, 2.0 ** -1074, 1.7976931348623157e308, -3.5476011073e-05,
        123456789.123456789, 1e-307, float("nan"), float("inf"),
        float("-inf"),
    ]
    row = (
        spark.range(1)
        .select(
            _double_array_lit(vals).alias("a"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("b"),
        )
        .first()
    )
    pa, pb = (
        [struct.pack("<d", x) for x in row["a"]],
        [struct.pack("<d", x) for x in row["b"]],
    )
    assert pa == pb
