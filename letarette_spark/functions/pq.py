"""Product quantization (IVF-PQ's compression half) — the canonical way
to fit billion-vector ANN in memory (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011): split each
D-dim vector into m subvectors, vector-quantize each subspace with a
tiny k-entry codebook, and answer queries with asymmetric distance
computation (ADC) — per-query lookup tables of exact
query-subvector-to-centroid distances, so each database vector costs m
table lookups instead of D multiplies, at m*log2(k) bits of storage
(64-dim float64 = 512 bytes -> m=8,k=16 = 4 bytes, 128x).

Determinism contract (same as similarity.ivf_centroids): codebook
seeding is the k lowest-id vectors' subvectors, code j = position in
that id order, so the 0-iteration configuration is exactly expressible
in ANSI SQL (the pq_topk driver gate); Lloyd refinement (n_iter > 0) is
pytest-covered against a numpy reference. Distances use
d2 = s.s - 2*s.c + c.c with the same sequential-left-fold dot product
as similarity._cosine_cols (similarity._seqdot) — bit-identical to
DuckDB list_dot_product, so code assignment ties break identically
cross-engine.

Scale shape: training collects only k lowest-id vectors + (optionally
sampled) per-code means — never the corpus; encoding (pq_encode, every
Lloyd round, pq_index_write) is one scan through ONE Arrow kernel
(_arrow_codes), zero shuffle; ADC scoring bakes the m×k lookup table
into the plan as a literal (no join) and pays one orderBy-limit top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _arrow_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str = "v",
) -> DataFrame:
    """df + ``codes`` array<int>[m] column: per subspace s,
    argmin_j ||sub_s - codebooks[s][j]||^2 with ties to the lowest code,
    in one Arrow stage. The numpy math is the JVM fold OP FOR OP: d2 is
    (s.s - 2.0*s.c) + c.c, left-associated, each dot a sequential
    dimension-by-dimension fold (similarity._seqdot; numpy elementwise
    mul-then-add never fuses), so every distance is the identical
    IEEE-754 double; np.argmin's first minimum is the lowest-code
    tie-break and NaN distances sort last (Spark NaN ordering) via
    np.inf. NULL vectors get NULL codes; vectors that are not m*dsub
    long raise naming *id_col* (similarity._vector_batch). Pinned
    exactly against the expression twin in tests/vector_twins.py."""
    import numpy as np
    from pyspark.sql import types as T

    from letarette_spark.functions.similarity import _seqdot, _vector_batch

    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cc = [[_seqdot(c, c) for c in book] for book in codebooks]
    books = [np.asarray(book, dtype=np.float64) for book in codebooks]

    fields = list(df.schema.fields)
    names = [f.name for f in fields]
    vec_idx, id_idx = names.index(vec_col), names.index(id_col)
    fields.append(T.StructField("codes", T.ArrayType(T.IntegerType())))
    out_names = [f.name for f in fields]

    def enc(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            V, null = _vector_batch(batch, vec_idx, id_idx, m * dsub)
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                ST = V[:, s * dsub: (s + 1) * dsub].T
                t1 = _seqdot(ST, ST)
                d2 = np.empty((n, k))
                for j in range(k):
                    d2[:, j] = (t1 - 2.0 * _seqdot(ST, books[s][j])) + cc[s][j]
                d2 = np.where(np.isnan(d2), np.inf, d2)
                codes[:, s] = np.argmin(d2, axis=1)
            codes_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)),
                pa.array(codes.reshape(-1)),
                mask=pa.array(null),
            )
            yield pa.RecordBatch.from_arrays(
                batch.columns + [codes_arr], names=out_names
            )

    return df.mapInArrow(enc, schema=T.StructType(fields))


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: codebooks[s][j] = centroid j of
    subspace s. Seeds are the k lowest-id vectors' subvectors; each
    Lloyd round (L2 assign -> per-code subvector mean; empty codes keep
    their previous centroid) is one scan + one tiny (m*k*dsub) collect."""
    train = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).filter(F.col("v").isNotNull())
    seeds = [list(r["v"]) for r in train.orderBy(id_col).limit(k).collect()]
    if not seeds:
        return []
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = [
        [s_vec[s * dsub : (s + 1) * dsub] for s_vec in seeds]
        for s in range(m)
    ]
    if n_iter > 0 and sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    for _ in range(n_iter):
        # persist: the m-subspace encode scan runs ONCE per round; the m
        # per-subspace group-bys below read the cached frame
        assigned = _arrow_codes(train, books, id_col).persist()
        try:
            new = [list(b) for b in books]
            for s in range(m):
                means = (
                    assigned.groupBy(F.element_at("codes", s + 1).alias("c"))
                    .agg(
                        *[
                            F.avg(
                                F.element_at("v", s * dsub + i + 1)
                            ).alias(f"m{i}")
                            for i in range(dsub)
                        ]
                    )
                    .collect()
                )
                for r in means:
                    new[s][r["c"]] = [r[f"m{i}"] for i in range(dsub)]
        finally:
            assigned.unpersist()
        if new == books:
            break
        books = new
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>[m]) — one scan, zero shuffle. At m=8, k=16
    the codes column is ~4 bytes/vector: the representation a
    billion-vector corpus actually stores. NULL embeddings are dropped
    (they have no meaningful code and must not compete in ADC top-k).

    The per-row argmin (m*k*dsub fold ops — the dominant cost of pq_adc /
    ivf_pq at any corpus size) runs in the Arrow kernel _arrow_codes,
    pinned code-for-code against the JVM expression twin in
    tests/vector_twins.py. Vectors must all have dim == m*dsub (a ragged
    one raises naming its id rather than diverging silently)."""
    from letarette_spark.functions.similarity import _spread

    src = _spread(emb.filter(F.col(vec_col).isNotNull())).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    return _arrow_codes(src, codebooks, id_col).select(id_col, "codes")


def _adist_expr(lut: list[list[float]]) -> Column:
    """ADC distance of the ``codes`` column against a driver-side LUT
    baked into the plan as a literal: adist = sum_s lut[s][codes[s]],
    a left-fold over subspaces matching the twin's sequential sum.
    The ONE definition both pq_adc_topk and pq_index_topk score with —
    the cross-engine determinism contract depends on this exact fold
    shape staying identical everywhere."""
    from letarette_spark.functions.similarity import _nested_double_lit

    lut_lit = _nested_double_lit(lut)
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            lut_lit,
            lambda code, lutrow: F.element_at(lutrow, (code + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_adc_lut(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Driver-side ADC lookup table: lut[s][j] = ||q_s - codebook[s][j]||^2
    with the same sequential-fold accumulation as the cluster-side math."""
    from letarette_spark.functions.similarity import _seqdot

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = []
    for s in range(m):
        qs = query_vec[s * dsub : (s + 1) * dsub]
        lut.append(
            [
                _seqdot(qs, qs) - 2.0 * _seqdot(qs, c) + _seqdot(c, c)
                for c in codebooks[s]
            ]
        )
    return lut


def pq_adc_topk(
    emb: DataFrame,
    query_id: int,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_df: DataFrame | None = None,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """(id, adist) — top-k smallest ADC distances to the query vector,
    ties to the lowest id; the query itself is excluded. Pass a
    pre-encoded ``codes_df`` (from pq_encode) to score the compressed
    representation directly — the production path; otherwise vectors are
    encoded on the fly in the same scan. ``query_vec`` skips the lookup
    by id (needed when *emb* is already filtered to a candidate subset
    that may not contain the query, e.g. ivf_pq_topk)."""
    if query_vec is None:
        row = emb.filter(F.col(id_col) == query_id).select(
            F.col(vec_col).cast("array<double>").alias("v")
        ).first()
        if row is None:
            raise ValueError(f"query id {query_id} not found")
        query_vec = list(row["v"])
    lut = pq_adc_lut([float(x) for x in query_vec], codebooks)
    if codes_df is None:
        codes_df = pq_encode(emb, codebooks, id_col, vec_col)
    return (
        codes_df.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), _adist_expr(lut).alias("adist"))
        .orderBy(F.asc("adist"), F.asc(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_id: int,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """The full billion-scale ANN shape — IVF routing × PQ compression:
    probe the nprobe cells nearest the query (cosine, like ivf_topk),
    then rank ONLY those cells' vectors by ADC distance over their
    ~4-byte codes. Cost per query: n_cells centroid cosines + m lookups
    per candidate in ~nprobe/n_cells of the corpus; with a
    cell-partitioned codes table (pq_encode written partitionBy(cell),
    the ivf_index_write layout) the scan prunes to the probed
    directories. Ties to the lowest id; the query is excluded."""
    from letarette_spark.functions.similarity import (
        ivf_assign,
        ivf_probe_cells,
    )

    row = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).first()
    if row is None:
        raise ValueError(f"query id {query_id} not found")
    qvec = list(row["v"])
    probe = ivf_probe_cells(qvec, centroids, nprobe)
    cand_ids = (
        ivf_assign(emb, centroids, id_col, vec_col)
        .filter(F.col("cell").isin(probe))
        .select(id_col)
    )
    cand = emb.join(cand_ids, id_col, "left_semi")
    if codes_df is not None:
        codes_df = codes_df.join(cand_ids, id_col, "left_semi")
    return pq_adc_topk(
        cand, query_id, codebooks, k, id_col, vec_col,
        codes_df=codes_df, query_vec=qvec,
    )


def pq_index_write(
    emb: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ index: (id, codes) partitioned by IVF cell
    (cell=N parquet dirs). The 100-TB ANN layout both ways at once —
    a query's cell filter prunes at the DIRECTORY level (reads
    ~nprobe/n_cells of the files) and each surviving row is ~4 bytes of
    codes instead of the full vector (reads ~1/100 of the bytes per
    file). Raw vectors live elsewhere for optional exact re-ranking.
    Cells and codes come from the same Arrow kernels queries and
    pq_encode use (_arrow_cell_assign, then _arrow_codes). A row with a
    NULL embedding has no cell or codes and is not written."""
    from letarette_spark.functions.similarity import (
        _arrow_cell_assign,
        _spread,
    )

    base = _spread(
        emb.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
    )
    out = _arrow_codes(
        _arrow_cell_assign(base, centroids, id_col), codebooks, id_col
    ).select(id_col, "codes", "cell")
    # encode in parallel (spread above), then one hash exchange on cell so
    # each cell directory stays ~one file instead of one per encode task
    out.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def pq_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Query a materialized IVF-PQ index: partition-pruned scan of the
    nprobe nearest cells, ADC over the stored codes (LUT as a literal,
    m lookups per row), top-k ascending, ties to the lowest id."""
    from letarette_spark.functions.similarity import ivf_probe_cells

    probes = ivf_probe_cells(query_vec, centroids, nprobe)
    lut = pq_adc_lut([float(x) for x in query_vec], codebooks)
    df = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return (
        df.select(F.col(id_col), _adist_expr(lut).alias("adist"))
        .orderBy(F.asc("adist"), F.asc(id_col))
        .limit(k)
    )


def ivf_pq_rerank_topk(
    emb: DataFrame,
    query_id: int,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cos) — the full three-stage ANN pipeline: IVF cell routing →
    ADC shortlist over PQ codes → EXACT cosine re-rank of the shortlist
    (the standard recall-restoring refine step: quantization error only
    has to keep true neighbors inside the `shortlist`, not order them).
    At scale the re-rank is ``shortlist`` point lookups into the raw
    vector table — here one semi-join against the shortlist ids."""
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    from letarette_spark.functions.similarity import cosine_expr

    short = ivf_pq_topk(
        emb, query_id, centroids, codebooks,
        k=shortlist, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    ).select(id_col)
    from letarette_spark.functions.similarity import _double_array_lit

    row = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).first()
    qv = _double_array_lit([float(x) for x in row["v"]])
    return (
        emb.join(short, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("qv", qv)
        .select(F.col(id_col), cosine_expr("v", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


__all__ = [
    "pq_codebooks", "pq_encode", "pq_adc_lut", "pq_adc_topk", "ivf_pq_topk",
    "pq_index_write", "pq_index_topk", "ivf_pq_rerank_topk",
]
