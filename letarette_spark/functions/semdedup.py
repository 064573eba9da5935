"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): cluster the embedding space, compare pairs only WITHIN
a cluster, and drop all but one member of each semantic-duplicate pair.

Spark-first shape:
  1. cell assignment reuses the IVF machinery (similarity.ivf_centroids /
     _arrow_cell_assign) — one Arrow stage computes each vector's cell and
     its cosine to that centroid, so assignment is one scan, zero shuffle;
  2. within-cell pairs are an equi-join on ``cell`` (never a cross join) —
     the shuffle key is the cell id, and the quadratic blow-up is bounded
     per cell (the paper's own trick: more clusters => smaller cells; at
     100 TB you raise n_cells with corpus size so the expected cell stays
     ~constant and the join stays linear-ish);
  3. the keep rule is the paper's: within a duplicate pair, KEEP the
     example with LOWER cosine similarity to its cluster centroid (the
     more "peripheral" one preserves diversity), ties broken to the lower
     id. Deterministic, so an exact ANSI-SQL twin exists (driver gate
     ``semdedup_pairs`` / ``semdedup_kept``).

Reference relation: the letarette reference deduplicates documents by
identity only (docid upsert, internal/letarette/db.go); SemDeDup is one of
the beyond-reference training-data operators this engine adds, alongside
functions/dedup.py (MinHash/SimHash surface-form dedup) — SemDeDup catches
paraphrases those miss because it works in embedding space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from letarette_spark.functions.similarity import (
    _arrow_cell_assign,
    _blas_cosine_candidates,
    _spread,
    cosine_expr,
    ivf_centroids,
)


def _assigned(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, v, cell, ccos) — cell assignment plus cosine-to-own-centroid
    in one Arrow stage (similarity._arrow_cell_assign; ccos is read from
    the same score column the argmax used): one scan, no shuffle, no
    interpreted per-row fold. Rows with a NULL embedding are dropped:
    they have no cell."""
    v = F.col(vec_col).cast("array<double>")
    base = _spread(
        emb.select(F.col(id_col).alias("id"), v.alias("v")).filter(
            F.col("v").isNotNull()
        )
    )
    return _arrow_cell_assign(base, centroids, "id", with_ccos=True)


def semdedup_pairs(
    emb: DataFrame,
    centroids: list[list[float]] | None = None,
    n_cells: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cell, cos) — semantic-duplicate candidate pairs: same
    cluster cell, cosine(a, b) >= threshold, a < b.

    Scale: the join key is ``cell`` — candidates are generated per cell,
    so work is sum over cells of |cell|^2, not |corpus|^2; n_cells is the
    knob that bounds it (the SemDeDup paper uses 50k clusters at LAION
    scale). No crossJoin in the plan. A row with a NULL embedding is in
    no cell and never in a pair."""
    if centroids is None:
        centroids = ivf_centroids(
            emb, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )
    assigned = _assigned(emb, centroids, id_col, vec_col)
    idt = assigned.schema["id"].dataType.simpleString()
    # BLAS prefilter proposes within-cell pairs; the exact JVM fold
    # re-scores every candidate and applies the exact >= threshold cut,
    # so the result is bit-identical to the naive within-cell pair join
    # (see _blas_cosine_candidates) — but the quadratic comparison work
    # runs as one dgemm per cell instead of interpreted µs-per-pair.
    cand = _blas_cosine_candidates(assigned, ["cell"], threshold)
    pa = assigned.select(
        F.col("id").alias("a"), F.col("v").alias("va"), "cell"
    )
    pb = assigned.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    return (
        cand.join(pa, "a")
        .join(pb, "b")
        .select(
            F.col("a").cast(idt).alias("a"),
            F.col("b").cast(idt).alias("b"),
            "cell",
            cosine_expr("va", "vb").alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semdedup_kept(
    emb: DataFrame,
    centroids: list[list[float]] | None = None,
    n_cells: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eager_cleanup: bool = True,
) -> DataFrame:
    """(id) — the ids SemDeDup keeps.

    ``eager_cleanup`` (default) materializes the (small) kept-id set and
    releases the persisted assignment frame deterministically; pass False
    for the fully lazy plan (.explain / plan capture).

    Paper keep rule (arXiv:2303.09540 §3): within each duplicate pair keep
    the example LESS similar to its cluster centroid; ties to the lower
    id. Equivalently: drop x iff some same-cell y with cos(x, y) >=
    threshold ranks before x under (ccos ASC, id ASC). One within-cell
    join to find losers, one left_anti to subtract them — both keyed,
    no cross join. A row with a NULL embedding is in no cell, so it is
    not in the kept set."""
    if centroids is None:
        centroids = ivf_centroids(
            emb, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )
    assigned = _assigned(emb, centroids, id_col, vec_col).persist()
    try:
        # BLAS prefilter proposes within-cell pairs (a < b, cosine within
        # margin of the cut); the exact JVM fold then re-scores each
        # candidate pair and applies the exact >= threshold test, so the
        # surviving pair set — and therefore the kept set — is
        # bit-identical to the old all-within-cell pair join, while the
        # quadratic comparison work runs as one dgemm per cell instead of
        # interpreted µs-per-pair rows concentrated in n_cells tasks.
        cand = _blas_cosine_candidates(assigned, ["cell"], threshold)
        pa = assigned.select(
            F.col("id").alias("a"), F.col("v").alias("va"),
            F.col("ccos").alias("ca"),
        )
        pb = assigned.select(
            F.col("id").alias("b"), F.col("v").alias("vb"),
            F.col("ccos").alias("cb"),
        )
        dup = (
            cand.join(pa, "a")
            .join(pb, "b")
            .filter(cosine_expr("va", "vb") >= F.lit(threshold))
        )
        # within a duplicate pair the LATER-ranked member under
        # (ccos ASC, id ASC) loses; a < b, so ties (ca == cb) lose b
        losers = dup.select(
            F.when(F.col("ca") > F.col("cb"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("id")
        ).distinct()
        kept = (
            assigned.select("id")
            .join(losers, "id", "left_anti")
            .select(F.col("id").alias(id_col))
        )
        if not eager_cleanup:
            return kept
        return kept.localCheckpoint()
    finally:
        if eager_cleanup:
            assigned.unpersist()
