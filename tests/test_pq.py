"""Product quantization (functions/pq.py) vs a numpy reference:
codebook seeding, Lloyd refinement, encoding argmin ties, ADC ranking."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from letarette_spark.functions.pq import (
    pq_adc_lut,
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
)

DIM, M, K = 16, 4, 4
DSUB = DIM // M


def _vectors(n=40, seed=7):
    rng = np.random.RandomState(seed)
    return rng.randn(n, DIM).round(3)  # round: stable float literals


def _df(spark, vecs):
    return spark.createDataFrame(
        [
            {"vec_id": i, "embedding": [float(x) for x in v]}
            for i, v in enumerate(vecs)
        ]
    )


def _np_books_seed(vecs):
    seeds = vecs[:K]  # k lowest ids
    return [
        [list(s[j * DSUB : (j + 1) * DSUB]) for s in seeds] for j in range(M)
    ]


def _np_encode(vecs, books):
    out = []
    for v in vecs:
        codes = []
        for s in range(M):
            sub = v[s * DSUB : (s + 1) * DSUB]
            d2 = [float(np.sum((sub - np.array(c)) ** 2)) for c in books[s]]
            codes.append(int(np.argmin(d2)))  # argmin ties -> lowest index
        out.append(codes)
    return out


def _np_lloyd(vecs, n_iter):
    books = _np_books_seed(vecs)
    for _ in range(n_iter):
        codes = _np_encode(vecs, books)
        new = [list(b) for b in books]
        for s in range(M):
            for j in range(K):
                members = [
                    vecs[i][s * DSUB : (s + 1) * DSUB]
                    for i, c in enumerate(codes)
                    if c[s] == j
                ]
                if members:
                    new[s][j] = list(np.mean(members, axis=0))
        if new == books:
            break
        books = new
    return books


def test_seed_codebooks_match_numpy(spark):
    vecs = _vectors()
    books = pq_codebooks(_df(spark, vecs), m=M, k=K, n_iter=0)
    exp = _np_books_seed(vecs)
    assert np.allclose(np.array(books), np.array(exp))


def test_lloyd_refinement_matches_numpy(spark):
    vecs = _vectors()
    books = pq_codebooks(_df(spark, vecs), m=M, k=K, n_iter=2)
    exp = _np_lloyd(vecs, 2)
    assert np.allclose(np.array(books), np.array(exp), atol=1e-9)


def test_encode_matches_numpy_argmin(spark):
    vecs = _vectors()
    books = pq_codebooks(_df(spark, vecs), m=M, k=K, n_iter=1)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(_df(spark, vecs), books).collect()
    }
    exp = _np_encode(vecs, books)
    assert got == {i: c for i, c in enumerate(exp)}


def test_seed_vectors_encode_to_themselves(spark):
    """Seed vector j's subvectors ARE codebook entries j: zero distance,
    exact in float64 (identical fold on identical operands)."""
    vecs = _vectors()
    books = pq_codebooks(_df(spark, vecs), m=M, k=K, n_iter=0)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(_df(spark, vecs), books).collect()
    }
    for j in range(K):
        assert got[j] == [j] * M


def test_adc_topk_matches_numpy(spark):
    vecs = _vectors(60)
    df = _df(spark, vecs)
    books = pq_codebooks(df, m=M, k=K, n_iter=1)
    got = [(r["vec_id"], r["adist"]) for r in
           pq_adc_topk(df, query_id=3, codebooks=books, k=7).collect()]
    lut = pq_adc_lut([float(x) for x in vecs[3]], books)
    codes = _np_encode(vecs, books)
    dists = [
        (i, sum(lut[s][codes[i][s]] for s in range(M)))
        for i in range(len(vecs)) if i != 3
    ]
    dists.sort(key=lambda t: (t[1], t[0]))
    exp = dists[:7]
    assert [i for i, _ in got] == [i for i, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert abs(a - b) < 1e-9


def test_adc_approximates_true_neighbors(spark):
    """Clustered data: ADC's top neighbors land in the query's true
    cluster (the approximation is useful, not just self-consistent)."""
    rng = np.random.RandomState(0)
    centers = rng.randn(4, DIM) * 5
    vecs = np.array([
        centers[i % 4] + rng.randn(DIM) * 0.1 for i in range(48)
    ]).round(3)
    df = _df(spark, vecs)
    books = pq_codebooks(df, m=M, k=K, n_iter=3)
    got = [r["vec_id"] for r in
           pq_adc_topk(df, query_id=0, codebooks=books, k=8).collect()]
    assert all(i % 4 == 0 for i in got), got  # query 0's cluster is i%4==0


def test_dim_not_divisible_raises(spark):
    with pytest.raises(ValueError):
        pq_codebooks(_df(spark, _vectors()), m=3, k=K)


def test_ivf_pq_topk_matches_numpy(spark):
    """IVF routing (cosine argmax cells, probe top-nprobe) composed with
    ADC ranking, vs a full numpy reference."""
    from letarette_spark.functions.pq import ivf_pq_topk
    from letarette_spark.functions.similarity import (
        ivf_centroids,
        ivf_probe_cells,
    )

    vecs = _vectors(60)
    df = _df(spark, vecs)
    cents = ivf_centroids(df, n_cells=5, n_iter=1)
    books = pq_codebooks(df, m=M, k=K, n_iter=1)
    got = [(r["vec_id"], r["adist"]) for r in
           ivf_pq_topk(df, query_id=3, centroids=cents, codebooks=books,
                       k=7, nprobe=2).collect()]

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y; na += x * x; nb += y * y
        d = (na ** 0.5) * (nb ** 0.5)
        return dot / d if d else float("-inf")

    cells = {
        i: min(range(len(cents)),
               key=lambda j: (-cos(list(v), cents[j]), j))
        for i, v in enumerate(vecs)
    }
    probe = set(ivf_probe_cells([float(x) for x in vecs[3]], cents, 2))
    lut = pq_adc_lut([float(x) for x in vecs[3]], books)
    codes = _np_encode(vecs, books)
    dists = [
        (i, sum(lut[s][codes[i][s]] for s in range(M)))
        for i in range(len(vecs))
        if i != 3 and cells[i] in probe
    ]
    dists.sort(key=lambda t: (t[1], t[0]))
    exp = dists[:7]
    assert [i for i, _ in got] == [i for i, _ in exp], (got, exp)
    for (_, a), (_, b) in zip(got, exp):
        assert abs(a - b) < 1e-9


def test_pq_index_partition_pruning_and_equality(spark, tmp_path):
    """The materialized IVF-PQ index: cell predicate lands in
    PartitionFilters (directory pruning — the 100-TB claim) and the
    indexed query returns exactly what the in-memory ivf_pq_topk does."""
    from pyspark.sql import functions as F

    from letarette_spark.functions.pq import (
        ivf_pq_topk,
        pq_index_topk,
        pq_index_write,
    )
    from letarette_spark.functions.similarity import (
        ivf_centroids,
        ivf_probe_cells,
    )

    vecs = _vectors(60)
    df = _df(spark, vecs)
    cents = ivf_centroids(df, n_cells=4, n_iter=1)
    books = pq_codebooks(df, m=M, k=K, n_iter=1)
    path = str(tmp_path / "pqidx")
    pq_index_write(df, path, cents, books)

    qv = [float(x) for x in vecs[3]]
    out = pq_index_topk(spark, path, qv, cents, books, k=7, nprobe=2,
                        exclude_id=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan

    got = [(r["vec_id"], round(r["adist"], 9)) for r in out.collect()]
    exp = [(r["vec_id"], round(r["adist"], 9)) for r in
           ivf_pq_topk(df, query_id=3, centroids=cents, codebooks=books,
                       k=7, nprobe=2).collect()]
    assert got == exp

    # files actually read are only the probed cell dirs
    probed = set(ivf_probe_cells(qv, cents, 2))
    files = [
        r["f"]
        for r in spark.read.parquet(path)
        .filter(F.col("cell").isin(list(probed)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert files and all(
        any(f"cell={c}/" in f for c in probed) for f in files
    ), files


def test_ivf_pq_rerank_matches_numpy_and_improves_order(spark):
    """Shortlist by ADC, exact-cosine re-rank: matches the numpy
    composition, and the final ordering is by TRUE cosine."""
    from letarette_spark.functions.pq import ivf_pq_rerank_topk, ivf_pq_topk
    from letarette_spark.functions.similarity import ivf_centroids

    vecs = _vectors(60)
    df = _df(spark, vecs)
    cents = ivf_centroids(df, n_cells=5, n_iter=1)
    books = pq_codebooks(df, m=M, k=K, n_iter=1)
    got = [(r["vec_id"], r["cos"]) for r in
           ivf_pq_rerank_topk(df, query_id=3, centroids=cents,
                              codebooks=books, k=5, shortlist=12,
                              nprobe=2).collect()]

    short = [r["vec_id"] for r in
             ivf_pq_topk(df, query_id=3, centroids=cents, codebooks=books,
                         k=12, nprobe=2).collect()]

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y; na += x * x; nb += y * y
        d = (na ** 0.5) * (nb ** 0.5)
        return dot / d if d else float("-inf")

    exp = sorted(
        ((i, cos(list(vecs[i]), list(vecs[3]))) for i in short),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [i for i, _ in got] == [i for i, _ in exp], (got, exp)
    for (_, a), (_, b) in zip(got, exp):
        assert abs(a - b) < 1e-9
    # ordering is by true cosine, descending
    assert all(got[i][1] >= got[i + 1][1] for i in range(len(got) - 1))

    with pytest.raises(ValueError):
        ivf_pq_rerank_topk(df, 3, cents, books, k=10, shortlist=5)


def test_null_embeddings_dropped_from_codes_and_topk(spark):
    """A NULL embedding has no meaningful code: without the isNotNull
    filter in pq_encode, every codebook distance is NULL, the struct
    array_min tie-breaks to code 0, and the row competes in ADC top-k
    with a finite distance. It must simply not appear."""
    vecs = _vectors(12)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((99, None))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_codebooks(emb, m=M, k=K)
    codes = pq_encode(emb, books)
    ids = {r["vec_id"] for r in codes.collect()}
    assert 99 not in ids
    assert ids == set(range(12))
    top = pq_adc_topk(emb, 0, books, k=11).collect()
    assert len(top) == 11
    assert all(r["vec_id"] != 99 for r in top)


def _tie_nan_df(spark, n=64, dim=16):
    """Random vectors with planted exact ties (a duplicated row, a seed
    subvector copied into a later row) and one NaN element."""
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((n, dim))
    vecs[10] = vecs[11]
    vecs[30, :4] = vecs[2, :4]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows[40][1][5] = float("nan")
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _bits(x):
    """Exact comparison key for nested float lists (NaN-safe)."""
    return np.asarray(x, dtype=np.float64).tobytes()


def test_arrow_encode_matches_jvm_expr_twin(spark):
    """The Arrow encoder (pq_encode) must be code-for-code identical to
    the JVM expression twin (tests/vector_twins.py) — including planted
    ties, a NaN element, and the corpus embeddings."""
    from tests import vector_twins as twins

    def twin_encode(emb, books):
        src = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        return {
            r["vec_id"]: r["codes"]
            for r in twins.codes(src, books, "vec_id").collect()
        }

    df = _tie_nan_df(spark)
    for books in (
        pq_codebooks(df.filter("vec_id != 40"), m=4, k=8, n_iter=1),
        # the NaN row's subspace-1 codeword goes NaN: a NaN distance
        # among finite ones must sort last
        pq_codebooks(df, m=4, k=8, n_iter=1),
    ):
        arrow = {
            r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()
        }
        assert arrow == twin_encode(df, books)
        assert arrow[10] == arrow[11]
    assert np.isnan(np.asarray(books)).any()

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    books2 = pq_codebooks(emb, m=8, k=16, n_iter=1)
    arrow2 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books2).collect()}
    assert arrow2 == twin_encode(emb, books2)


@pytest.mark.parametrize("n_iter", [1, 2])
def test_lloyd_codebooks_match_twin_rounds(spark, monkeypatch, n_iter):
    """pq_codebooks' Lloyd rounds encode through the Arrow kernel; the
    same rounds driven by the expression twin give bitwise-identical
    codebooks (NaN row included: the codeword it lands on goes NaN)."""
    from letarette_spark.functions import pq as P
    from tests import vector_twins as twins

    df = _tie_nan_df(spark)
    arrow = pq_codebooks(df, m=4, k=8, n_iter=n_iter)
    monkeypatch.setattr(P, "_arrow_codes", twins.codes)
    twin = pq_codebooks(df, m=4, k=8, n_iter=n_iter)
    assert _bits(arrow) == _bits(twin)
    assert np.isnan(np.asarray(arrow)).any()


def _index_rows(spark, path):
    return sorted(
        (r["vec_id"], tuple(r["codes"]), r["cell"])
        for r in spark.read.parquet(path).collect()
    )


def test_pq_index_write_rows_match_twins(spark, monkeypatch, tmp_path):
    """The written (vec_id, codes, cell) rows equal the rows written with
    both kernels swapped for their expression twins."""
    from letarette_spark.functions import pq as P
    from letarette_spark.functions import similarity as S
    from letarette_spark.functions.similarity import ivf_centroids
    from tests import vector_twins as twins

    df = _tie_nan_df(spark)
    clean = df.filter("vec_id != 40")
    cents = ivf_centroids(clean, n_cells=4, n_iter=1)
    cents[1] = [2.0 * x for x in cents[0]]  # tied cells: lower one wins
    books = pq_codebooks(clean, m=4, k=8, n_iter=1)
    P.pq_index_write(df, str(tmp_path / "arrow"), cents, books)
    monkeypatch.setattr(P, "_arrow_codes", twins.codes)
    monkeypatch.setattr(S, "_arrow_cell_assign", twins.cell_assign)
    P.pq_index_write(df, str(tmp_path / "twin"), cents, books)
    got = _index_rows(spark, str(tmp_path / "arrow"))
    assert got == _index_rows(spark, str(tmp_path / "twin"))
    assert len(got) == 64 and 1 not in {cell for _, _, cell in got}


def test_pq_index_write_skips_null_embedding(spark, tmp_path):
    from letarette_spark.functions.pq import pq_index_topk, pq_index_write
    from letarette_spark.functions.similarity import ivf_centroids

    vecs = _vectors(20)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(
        rows + [(98, None), (99, None)], "vec_id long, embedding array<double>"
    )
    cents = ivf_centroids(emb, n_cells=4)
    books = pq_codebooks(emb, m=M, k=K)
    path = str(tmp_path / "pq_nulls")
    pq_index_write(emb, path, cents, books)
    assert [r[0] for r in _index_rows(spark, path)] == list(range(20))
    got = pq_index_topk(spark, path, rows[0][1], cents, books, k=50, nprobe=4)
    assert sorted(r["vec_id"] for r in got.collect()) == list(range(20))


def test_ragged_vector_error_names_row(spark):
    vecs = _vectors(8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        + [(77, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    books = pq_codebooks(emb.filter("vec_id < 8"), m=M, k=K)
    with pytest.raises(Exception, match="row vec_id=77 has dim 2"):
        pq_encode(emb, books).collect()
