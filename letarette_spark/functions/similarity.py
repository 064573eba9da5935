"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing and IVF cells as the approximate scale paths. All vector math
is float64 with one accumulation order, the sequential left fold
(acc = acc + x*y, dimension by dimension): JVM-side for cosine scoring
and LSH signatures (zip_with/aggregate), and in ONE Arrow kernel for IVF
cell assignment (_arrow_cell_assign), whose numpy math repeats the fold
op for op. The JVM expression twin that kernel is pinned against lives
in tests/vector_twins.py.
"""

from __future__ import annotations

import math
import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _spread(df: DataFrame, min_rows_hint: int = 0) -> DataFrame:
    """Rebalance a narrow input across the cluster before per-row-heavy
    vector expressions (guide §2.5 "input skew": a single parquet file
    arrives as ONE split, so every downstream higher-order-function
    expression runs on one core). Round-robin repartition is deterministic
    under retries (sort-before-repartition is on by default) and every
    consumer here is per-row math followed by order-insensitive
    aggregation/top-k, so results are bit-identical. No-op when the input
    is already spread out (cluster-scale inputs arrive as many splits)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        return df
    if nparts >= max(2, target // 2):
        return df
    # The trailing filter is an always-true NON-DETERMINISTIC predicate
    # (spark_partition_id) acting as a pushdown barrier: without it,
    # Catalyst pushes expensive deterministic filters applied on top of
    # this frame (e.g. the IVF probe-cell membership test) back through
    # the Repartition into the single-split scan stage, and the whole
    # point of spreading is lost. Filters never reorder across a
    # non-deterministic predicate, so per-row work stays above the
    # exchange. Zero rows are dropped and values are untouched.
    return df.repartition(target).filter(F.spark_partition_id() >= 0)


def _blas_cosine_candidates(
    assigned: DataFrame,
    group_cols: list[str],
    threshold: float,
    margin: float = 1e-6,
) -> DataFrame:
    """(a, b) long pairs (a < b) within each group whose cosine is
    >= threshold - margin, computed group-at-a-time with BLAS (numpy
    matmul over the normalized row matrix) inside applyInPandas.

    This is a PREFILTER, not the answer (guide §3.2's Bloom-prefilter
    shape, applied to cosine): callers re-score every returned pair with
    the exact JVM fold expression (cosine_expr) and apply the exact
    ``>= threshold`` cut, so the final result is bit-identical to the
    naive within-group pair join — numpy only has to never *miss* a
    truly-qualifying pair. float64 matmul and the sequential fold agree
    to ~dim*eps (< 1e-12 at dim 4096); margin 1e-6 leaves six orders of
    magnitude of slack and admits only a vanishing sliver of extra
    pairs for the exact pass to reject. Zero-norm / NaN vectors drop out
    exactly like in SQL (NaN comparisons are false both places).

    Why BLAS: the quadratic within-group pair work is the whole cost of
    semantic dedup; as a row-at-a-time JVM join it is interpreted
    HigherOrderFunction evaluation per pair (zip_with + aggregate do not
    codegen), ~µs/pair, concentrated in one task per group key. One
    dgemm per group does the same comparisons at memory bandwidth. Row
    blocks of 4096 bound the score matrix at ~32 MB regardless of group
    size."""
    import pandas as pd

    cut = float(threshold) - margin

    def find(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"a": np.array([], dtype=np.int64),
                 "b": np.array([], dtype=np.int64)}
            )
        ids = pdf["id"].to_numpy()
        V = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
        )
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        with np.errstate(divide="ignore", invalid="ignore"):
            Vn = V / norms[:, None]
        out_a: list = []
        out_b: list = []
        B = 4096
        for s in range(0, n, B):
            with np.errstate(invalid="ignore"):
                block = Vn[s:s + B] @ Vn.T
                bi, bj = np.nonzero(block >= cut)
            bi = bi + s
            keep = bi < bj
            bi, bj = bi[keep], bj[keep]
            if bi.size:
                ia, ib = ids[bi], ids[bj]
                # duplicate-id input rows never pair with themselves
                # (matches the JVM join's a != b / a < b id filters)
                keep = ia != ib
                ia, ib = ia[keep], ib[keep]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
        if not out_a:
            return pd.DataFrame(
                {"a": np.array([], dtype=np.int64),
                 "b": np.array([], dtype=np.int64)}
            )
        return pd.DataFrame(
            {"a": np.concatenate(out_a), "b": np.concatenate(out_b)}
        )

    return assigned.groupBy(*group_cols).applyInPandas(find, "a long, b long")


def _cosine_cols(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def cosine_expr(a: str, b: str) -> Column:
    """cosine(a, b) for two array<double> columns, computed as
    dot / (||a|| * ||b||) in float64 (matches DuckDB list_cosine_similarity
    on double inputs)."""
    return _cosine_cols(F.col(a), F.col(b))


def cosine_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of one vector: broadcast the query row against
    the corpus — a single scan, no shuffle except the final top-k sort."""
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).cast("array<double>").alias("qv")
    )
    return (
        _spread(
            emb.filter(F.col(id_col) != query_id)
            .select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
        )
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine_expr("v", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_per_query(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k for a *batch* of query vectors: broadcast the (small)
    query set, window top-k per query. Scale: corpus-scan-bound; use the
    LSH variant when the query batch or corpus makes N*Q infeasible."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qv")
    )
    scored = (
        _spread(
            emb.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
            )
        )
        .crossJoin(F.broadcast(q))
        .select(query_id_col, id_col, cosine_expr("v", "qv").alias("cos"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _infer_dim(emb: DataFrame, vec_col: str) -> int | None:
    """Vector dimension from the first NON-NULL vector (one bounded job
    at plan-build time — pass dim explicitly in pipelines to stay fully
    lazy); None only when the frame has no usable vectors at all (a
    stray NULL row must not silently zero out the whole result)."""
    row = emb.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return len(row[0]) if row is not None else None


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(dot(v, plane_i)); returns
    a long bucket id. Deterministic (seeded planes are baked into the plan
    as literals) and cheap: n_planes dot products per row, JVM-side."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                _double_array_lit(plane),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
    return bucket


def banded_lsh_buckets(
    emb: DataFrame,
    bands: int = 2,
    planes_per_band: int = 4,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, bucket) — one hyperplane-LSH bucket per band, each band
    seeded independently (seed + band). Banding trades one low-recall
    signature for an OR over *bands* signatures (minhash-banding style):
    two vectors are neighbor candidates when they collide in ANY band."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
        if dim is None:  # empty frame: no buckets
            return emb.select(
                F.col(id_col),
                F.lit(0).alias("band"),
                F.lit(0).cast("long").alias("bucket"),
            ).limit(0)
    v = _spread(
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    )
    per_band = [
        F.struct(
            F.lit(bnd).alias("band"),
            lsh_bucket_expr("v", _hyperplanes(dim, planes_per_band, seed + bnd)).alias(
                "bucket"
            ),
        )
        for bnd in range(bands)
    ]
    return v.select(
        F.col(id_col), F.explode(F.array(*per_band)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_cosine_candidates(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) hyperplane-LSH bucketing. Neighbor candidates = bucket
    collisions; join per bucket instead of the full cross product —
    the 100TB path (expected bucket size n/2^planes)."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
        if dim is None:  # empty frame: no buckets
            return emb.select(
                F.col(id_col), F.lit(0).cast("long").alias("bucket")
            ).limit(0)
    planes = _hyperplanes(dim, n_planes, seed)
    v = _spread(
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    )
    return v.select(F.col(id_col), lsh_bucket_expr("v", planes).alias("bucket"))


def lsh_cosine_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 5,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the query's LSH bucket.
    Recall is tunable via n_planes (fewer planes = bigger buckets)."""
    buckets = lsh_cosine_candidates(emb, n_planes, None, seed, id_col, vec_col)
    qb = buckets.filter(F.col(id_col) == query_id).select(
        F.col("bucket").alias("qbucket")
    )
    cand_ids = (
        buckets.crossJoin(F.broadcast(qb))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col(id_col) != query_id))
        .select(id_col)
    )
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).cast("array<double>").alias("qv")
    )
    return (
        emb.join(cand_ids, id_col)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine_expr("v", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: partition the corpus into cells around centroids,
# probe only the cells nearest the query. The brief's scale path alongside
# hyperplane LSH: at 100 TB the corpus is written partitioned by cell
# (ivf_index_write), so a query reads nprobe/n_cells of the data via plain
# parquet partition pruning — no custom index structure needed.
# ---------------------------------------------------------------------------


def ivf_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    n_iter: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
) -> list[list[float]]:
    """Train IVF centroids. Seeding is DETERMINISTIC — the ``n_cells``
    lowest-id vectors, cell j = position in that id order — so the
    0-iteration configuration is exactly expressible in ANSI SQL (the
    driver-gate twin). ``n_iter`` Lloyd refinements (assign → per-cell
    mean → repeat) improve cell balance; each round is one assign scan
    plus one tiny (n_cells × dim) collect. At scale pass
    ``sample_fraction`` to train on a seeded sample — centroid quality
    needs only a sketch of the distribution, not the full corpus."""
    train = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).filter(F.col("v").isNotNull())
    cents = [
        list(r["v"])
        for r in train.orderBy(id_col).limit(n_cells).collect()
    ]
    if not cents:
        return []
    if n_iter > 0 and sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    for _ in range(n_iter):
        assigned = _arrow_cell_assign(_spread(train), cents, id_col, "v")
        dim = len(cents[0])
        means = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.avg(F.element_at("v", i + 1)).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new = list(cents)  # empty cells keep their previous centroid
        for r in means:
            new[r["cell"]] = [r[f"m{i}"] for i in range(dim)]
        if new == cents:
            break
        cents = new
    return cents


def _dlit(x: float) -> str:
    """SQL double literal with the exact bits of the Python float:
    repr() is the shortest round-tripping decimal and both Python and
    the JVM parse decimal-to-double correctly rounded, so `<repr>D`
    re-creates the identical IEEE-754 value (bit-exactness covered by
    tests)."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _double_array_lit(values: list[float]) -> Column:
    """array<double> literal built from ONE SQL-string parse. Per-element
    `F.array(*[F.lit(x) ...])` construction costs one py4j round trip per
    element (~0.8 s per 1k elements of pure serial driver time, measured);
    the parser does the same thing in microseconds per element."""
    return F.expr(
        "array(" + ",".join(_dlit(float(x)) for x in values) + ")"
    )


def _nested_double_lit(nested: list[list[float]]) -> Column:
    """array<array<double>> literal from ONE SQL-string parse (see
    _double_array_lit)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_dlit(float(x)) for x in c) + ")"
            for c in nested
        )
        + ")"
    )


def _seqdot(a, b):
    """Sequential left-fold dot product, acc = acc + x*y dimension by
    dimension: the op sequence of the JVM zip_with/aggregate fold
    (_cosine_cols) and of DuckDB list_dot_product, so the result is the
    identical double. Over two float lists it scores one pair; over the
    rows of a transposed (n, d) matrix (``_seqdot(V.T, c)``) it scores
    all n vectors at once with the same per-vector op sequence — the ONE
    fold the Arrow kernels and the driver-side LUT share."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _vector_batch(batch, vec_idx: int, id_idx: int, dim: int):
    """(V, null) for one Arrow batch: the float64 (n, dim) matrix of the
    vector column and the mask of its NULL rows (read as zeros). The
    kernels' shared NULL/ragged policy: a NULL vector is kept (its output
    is masked NULL); a vector that is not *dim* long raises a ValueError
    naming its row id, where zip_with would silently truncate."""
    col = batch.column(vec_idx)
    lens = col.value_lengths().fill_null(dim).to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(lens != dim)
    if bad.size:
        i = int(bad[0])
        raise ValueError(
            f"vectors must all have dim {dim}: row "
            f"{batch.schema.names[id_idx]}="
            f"{batch.column(id_idx)[i].as_py()} has dim {lens[i]}"
        )
    null = col.is_null().to_numpy(zero_copy_only=False)
    V = np.zeros((batch.num_rows, dim))
    V[~null] = col.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
    return V, null


def _arrow_cell_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str = "v",
    with_ccos: bool = False,
) -> DataFrame:
    """df + ``cell`` int column (+ ``ccos`` double when requested): IVF
    cell assignment, argmax_j cosine(v, centroid_j) with ties to the
    lowest cell, in one Arrow stage. The numpy math is the JVM cosine
    fold (_cosine_cols) OP FOR OP: dot products and norms accumulate
    dimension by dimension (_seqdot), the denominator is (||v||*||c||)
    then one divide, np.argmin's first minimum gives the lowest-cell
    tie-break, and NaN cosines sort last (Spark NaN ordering) via np.inf
    on the negated score. ``ccos`` (cosine to the OWN centroid) reads the
    score the argmax used. Centroids ride the pickled closure, which
    PySpark itself broadcasts once it is large. NULL vectors get NULL
    cell/ccos; ragged ones raise naming *id_col* (_vector_batch).
    Pinned exactly against the expression twin in tests/vector_twins.py,
    the algebra the DuckDB oracles mirror."""
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    n_cells, dim = C.shape
    ncj = [math.sqrt(_seqdot(c, c)) for c in centroids]

    fields = list(df.schema.fields)
    names = [f.name for f in fields]
    vec_idx, id_idx = names.index(vec_col), names.index(id_col)
    fields.append(T.StructField("cell", T.IntegerType()))
    if with_ccos:
        fields.append(T.StructField("ccos", T.DoubleType()))
    out_names = [f.name for f in fields]

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            V, null = _vector_batch(batch, vec_idx, id_idx, dim)
            VT = V.T
            nv = np.sqrt(_seqdot(VT, VT))
            cos = np.empty((n, n_cells))
            for j in range(n_cells):
                cos[:, j] = _seqdot(VT, C[j]) / (nv * ncj[j])
            neg = -cos
            neg = np.where(np.isnan(neg), np.inf, neg)
            cells = np.argmin(neg, axis=1).astype(np.int32)
            arrays = batch.columns + [pa.array(cells, mask=null)]
            if with_ccos:
                arrays.append(pa.array(cos[np.arange(n), cells], mask=null))
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(assign, schema=T.StructType(fields))


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) assignment — one scan, no shuffle; the per-row argmax
    runs in the Arrow stage (_arrow_cell_assign). A NULL embedding keeps
    its row with a NULL cell; a ragged one raises naming its id."""
    base = _spread(
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
    )
    return _arrow_cell_assign(base, centroids, id_col).select(
        F.col(id_col), "cell"
    )


def ivf_probe_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The nprobe cells nearest the query, by the same sequential-fold
    cosine the assignment uses (math.fsum-free left fold, matching the
    Spark/DuckDB accumulation order), ties to the lowest cell index."""
    def cos(a: list[float], b: list[float]) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        denom = (na ** 0.5) * (nb ** 0.5)
        # zero-norm vector: Spark/DuckDB produce NaN; here rank such
        # cells last deterministically instead of raising
        return dot / denom if denom else float("-inf")

    ranked = sorted(
        range(len(centroids)),
        key=lambda j: (-cos(query_vec, centroids[j]), j),
    )
    return ranked[:nprobe]


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    n_iter: int = 0,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only the vectors assigned to the query's
    nprobe nearest cells. nprobe = n_cells degrades to exact brute force
    (every cell probed); the gate uses nprobe < n_cells against a full
    ANSI-SQL twin of the same centroid/assignment/probe algebra. Rows
    with a NULL embedding have no cell, so no probe reaches them; a query
    whose own embedding is NULL returns no rows."""
    if centroids is None:
        centroids = ivf_centroids(
            emb, n_cells, n_iter, id_col=id_col, vec_col=vec_col
        )
    if not centroids:
        return emb.select(
            F.col(id_col), F.lit(0.0).alias("cos")
        ).limit(0)
    qrow = (
        emb.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>").alias("qv"))
        .first()
    )
    if qrow is None or qrow["qv"] is None:
        return emb.select(F.col(id_col), F.lit(0.0).alias("cos")).limit(0)
    probes = ivf_probe_cells(list(qrow["qv"]), centroids, nprobe)
    v = _spread(
        emb.filter(F.col(id_col) != query_id).select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
    )
    v = (
        _arrow_cell_assign(v, centroids, id_col)
        .filter(F.col("cell").isin(probes))
        .select(F.col(id_col), "v")
    )
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).cast("array<double>").alias("qv")
    )
    return (
        v.crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine_expr("v", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def ivf_index_write(
    emb: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus partitioned by IVF cell (cell=N parquet
    dirs). This is the 100-TB layout: ivf_index_topk's cell filter then
    prunes at the DIRECTORY level, so a query reads ~nprobe/n_cells of
    the bytes regardless of corpus size. A row with a NULL embedding has
    no cell and is not written, so no query can return it."""
    base = _spread(
        emb.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    assigned = _arrow_cell_assign(base, centroids, id_col).filter(
        F.col("cell").isNotNull()
    )
    # assign in parallel (spread above), then one hash exchange on cell so
    # each cell directory stays ~one file instead of one per assign task
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a materialized IVF index: partition-pruned scan of the
    nprobe nearest cells + cosine top-k against the literal query."""
    probes = ivf_probe_cells(query_vec, centroids, nprobe)
    qv = _double_array_lit(query_vec)
    return (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probes))
        .withColumn("qv", qv)
        .select(F.col(id_col), cosine_expr("v", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def hard_negatives(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    margin: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neg_id, cos, rank) — denoised hard-negative mining for
    contrastive training (RocketQA, Qu et al. 2021; SBERT mining
    practice): for each query vector, the corpus nearest neighbor
    (excluding self) is the presumed positive; hard negatives are the
    next-most-similar examples whose cosine is STRICTLY below
    ``pos_cos - (1 - margin) * |pos_cos|`` — the margin skips near-ties
    that are likely unlabeled positives (false negatives poison the
    contrastive loss). The gap is scaled by ``|pos_cos|`` rather than
    multiplying ``pos_cos`` directly so the exclusion zone still sits
    BELOW the positive when ``pos_cos <= 0`` (a plain product flips the
    inequality there and would admit exactly the near-ties it exists to
    drop); for ``pos_cos > 0`` the two forms are identical.

    Deterministic (ties to the lower id), so an exact SQL twin exists
    (driver gate ``hard_negatives``). A corpus row with a NULL embedding
    has a NULL cosine and is never a negative; a query whose embedding is
    NULL gets no rows.

    Scale: the query set is broadcast against one corpus scan; per-query
    top-k is a window over the scored rows keyed by query_id — the same
    shape as cosine_topk_per_query, linear in |corpus| * |queries|. For
    huge query batches route candidates through the IVF/LSH indexes first
    and apply the same margin rule on the shortlist."""
    q = emb.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    scored = (
        _spread(
            emb.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
            )
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neg_id"), cosine_expr("v", "qv").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neg_id"))
    wq = Window.partitionBy("query_id")
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "pos_cos", F.max("cos").over(wq)
    )
    negs = ranked.filter(
        (F.col("rn") > 1)
        & (
            F.col("cos")
            < F.col("pos_cos")
            - F.lit(1.0 - margin) * F.abs(F.col("pos_cos"))
        )
    )
    wn = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neg_id"))
    return (
        negs.withColumn("rank", F.row_number().over(wn))
        .filter(F.col("rank") <= k)
        .select("query_id", "neg_id", "cos", "rank")
    )
