"""The scoring contract's float and Column forms agree bit for bit.

executor.py holds the BM25 formula once, in two forms that live side by
side: ``idf`` (driver floats, math.log) beside ``idf_col`` (a JVM
expression, Spark's ln), and ``bm25_term`` evaluated over floats beside
the same function evaluated over Columns. The interactive path scores in
the driver and the batch path in the JVM, so a one-ulp drift between the
forms would split their rankings on ties."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from letarette_spark.query.executor import bm25_term, idf, idf_col

AVGDL = 9.25
# df > N/2 drives the raw idf to <= 0 (the 1e-6 clamp); df == N is the
# extreme of it; tf == 0 is a non-matching column
GRID = [
    (float(n), float(df), tf, float(dl))
    for n, df in (
        (1, 1), (2, 1), (2, 2), (3, 1), (3, 2), (7, 3), (7, 4), (7, 7),
        (10, 5), (10, 6), (500, 1), (500, 17), (500, 250), (500, 251),
        (500, 499), (500, 500), (123457, 1), (123457, 61728), (123457, 61729),
    )
    for tf, dl in itertools.product((0.0, 1.0, 5.0, 6.0, 17.5), (0, 1, 9, 40))
]


def test_float_and_column_forms_agree_bit_for_bit(spark):
    df = spark.createDataFrame(GRID, "n double, df double, tf double, dl double")
    idf_c = idf_col(F.col("n"), F.col("df"))
    rows = df.select(
        "n", "df", "tf", "dl",
        idf_c.alias("idf"),
        bm25_term(idf_c, F.col("tf"), F.col("dl"), AVGDL).alias("term"),
    ).collect()
    assert len(rows) == len(GRID)
    clamped = 0
    for r in rows:
        want_idf = idf(r["n"], r["df"])
        clamped += want_idf == 1e-6
        assert r["idf"].hex() == want_idf.hex(), (r["n"], r["df"])
        want = bm25_term(want_idf, r["tf"], r["dl"], AVGDL)
        assert r["term"].hex() == want.hex(), tuple(r)
    assert clamped  # the grid reaches the clamp
