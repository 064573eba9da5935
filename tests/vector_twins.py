"""JVM expression twins of the Arrow vector kernels — the reference the
kernels are pinned against, exactly (``==`` on cells and codes, bitwise
on doubles). Each twin is a drop-in for its kernel (same signature, same
appended column), so a test can also run a whole operator on the twin
by monkeypatching it in:

  cell_assign  ~ similarity._arrow_cell_assign  (df + cell [+ ccos])
  codes        ~ pq._arrow_codes                 (df + codes)

The algebra is the one the DuckDB oracle_sql() twins mirror: zip_with
multiply + sequential aggregate fold (similarity._cosine_cols), then
array_min over (score, index) structs — field-lexicographic struct
ordering is ties-to-the-lowest-index, and Spark sorts NaN above every
number, so NaN scores lose. The tables ride the plan as ONE nested
literal, which is the right shape for the small tables tests use. A
NULL vector gets a NULL cell / NULL codes, like the kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from letarette_spark.functions.similarity import (
    _cosine_cols,
    _nested_double_lit,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _argmin(table: list[list[float]], score) -> Column:
    """Index of the lowest score(row) over the literal table, ties to
    the lowest index."""
    scored = F.transform(
        _nested_double_lit(table),
        lambda c, j: F.struct(score(c).alias("s"), j.alias("j")),
    )
    return F.array_min(scored)["j"]


def cell_expr(v: Column, centroids: list[list[float]]) -> Column:
    """argmax_j cosine(v, centroid_j), ties to the lowest cell."""
    return F.when(
        v.isNotNull(), _argmin(centroids, lambda c: -_cosine_cols(v, c))
    )


def cell_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str = "v",
    with_ccos: bool = False,
) -> DataFrame:
    v = F.col(vec_col)
    out = df.withColumn("cell", cell_expr(v, centroids))
    if with_ccos:
        own = F.element_at(_nested_double_lit(centroids), F.col("cell") + 1)
        out = out.withColumn("ccos", _cosine_cols(v, own))
    return out


def codes_expr(v: Column, codebooks: list[list[list[float]]]) -> Column:
    """Per subspace s: argmin_j ||v_s - codebooks[s][j]||^2 as
    (s.s - 2*s.c) + c.c, ties to the lowest code."""
    dsub = len(codebooks[0][0])
    per_sub = []
    for s, book in enumerate(codebooks):
        sub = F.slice(v, s * dsub + 1, dsub)
        per_sub.append(
            _argmin(
                book,
                lambda c, sub=sub: _dot(sub, sub)
                - F.lit(2.0) * _dot(sub, c)
                + _dot(c, c),
            )
        )
    return F.when(v.isNotNull(), F.array(*per_sub))


def codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str = "v",
) -> DataFrame:
    return df.withColumn("codes", codes_expr(F.col(vec_col), codebooks))
