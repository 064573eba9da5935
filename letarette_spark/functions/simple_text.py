"""Relational text operators over the "simple" analyzer (lowercase ASCII
``[a-z0-9]+`` runs, min length 2 — AnalyzerConfig(mode='simple')).

Everything here is pure JVM column arithmetic (whole-stage codegen, zero
Python in the hot path) and has an exactly equivalent ANSI-SQL formulation
(the DuckDB correctness oracles in __spark_entry__.py). The full-strength
engine path (unicode61 + stemming + positions + NEAR) lives in
letarette_spark.index / letarette_spark.query; these operators are the
scale-friendly relational counterparts used for corpus analytics, and they
reproduce the reference's index-stat tooling (GetIndexStats: doc count,
term counts, top terms — indextools.go:54-152; stopword derivation —
sql/stopwords.sql:15-21).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from letarette_spark.query.executor import bm25_term, idf_col

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def token_array(text_col: str = "text", min_len: int = 2) -> Column:
    """array<string> of simple-analyzer tokens, in document order."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE),
        lambda x: F.length(x) >= min_len,
    )


def tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, term) — one row per token instance."""
    return df.select(
        F.col(id_col), F.explode(token_array(text_col)).alias("term")
    )


def normalized_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, norm) where norm = ' t1 t2 … ' — padded so phrase containment is
    a LIKE '% a b %' test in any SQL engine."""
    return df.select(
        F.col(id_col),
        F.concat(F.lit(" "), F.array_join(token_array(text_col), " "), F.lit(" ")).alias(
            "norm"
        ),
    )


def term_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(term, df, cnt) — document frequency and total occurrences.
    Reference analog: fts5vocab row/instance scans (indextools.go:93-144)."""
    t = tokens(df, id_col, text_col)
    return t.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"),
        F.count(F.lit(1)).alias("cnt"),
    )


def doc_lengths(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, dl) token count per document — includes zero-token docs."""
    return df.select(F.col(id_col), F.size(token_array(text_col)).cast("long").alias("dl"))


def top_terms(df: DataFrame, n: int = 15, **kw) -> DataFrame:
    """Top-n common terms (indextools.go:109-112)."""
    return (
        term_stats(df, **kw)
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(n)
    )


def stopword_candidates(df: DataFrame, cutoff: float = 0.01, n: int = 15, **kw) -> DataFrame:
    """Terms whose occurrence count exceeds cutoff * total occurrences,
    top-n — the reference's auto-stopword rule (sql/stopwords.sql:15-21,
    cutoff default 1%, config.go:66)."""
    ts = term_stats(df, **kw)
    total = ts.agg(F.sum("cnt").alias("total"))
    return (
        ts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.col("total") * cutoff)
        .select("term", "df", "cnt")
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(n)
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, score) BM25 over a single text column, AND semantics (doc must
    contain every query term), the engine's scoring contract (executor.py
    ``idf_col``/``bm25_term``: FTS5 idf, k1=1.2, b=0.75). Higher = better
    (no FTS5 sign flip here — this is the relational operator; the
    engine's Searcher reproduces the negative-ascending convention).

    Plan shape: ONE tokenize pass producing per-doc (dl, tf per term) via
    array intrinsics — no explode, no groupBy; global stats (N, avgdl, df
    per term) come from a single 1-row aggregate broadcast back in. The
    only shuffles are the 1-row stats exchange and whatever the caller's
    top-k sort needs."""
    uterms = sorted(set(terms))
    arr = token_array(text_col)

    def _eq(t: str):
        # NB: a two-arg lambda would make F.filter bind the array INDEX to
        # the second parameter; capture the term via closure instead.
        return lambda x: x == F.lit(t)

    base = df.select(
        F.col(id_col),
        F.size(arr).cast("double").alias("dl"),
        *[
            F.size(F.filter(arr, _eq(t))).cast("double").alias(f"tf_{i}")
            for i, t in enumerate(uterms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dl").alias("sumdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"dfreq_{i}")
            for i in range(len(uterms))
        ],
    )
    cand = base.filter(
        " AND ".join(f"tf_{i} > 0" for i in range(len(uterms)))
    ).crossJoin(F.broadcast(stats))

    avgdl = F.col("sumdl") / F.col("n")
    score = F.lit(0.0)
    for i in range(len(uterms)):
        idf = idf_col(F.col("n"), F.col(f"dfreq_{i}"))
        score = score + bm25_term(idf, F.col(f"tf_{i}"), F.col("dl"), avgdl)
    return cand.select(F.col(id_col), score.alias("score"))


def match_all_terms(df: DataFrame, terms: list[str], **kw) -> DataFrame:
    """ids containing every term (FTS5 implicit AND)."""
    id_col = kw.get("id_col", "doc_id")
    t = tokens(df, **kw).filter(F.col("term").isin(terms)).distinct()
    return (
        t.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == len(set(terms)))
        .select(id_col)
    )


def match_any(df: DataFrame, terms: list[str], **kw) -> DataFrame:
    """ids containing ANY of the terms (FTS5 OR — the union merge of the
    per-term doclists, db_search.go:51-53's OR branch)."""
    id_col = kw.get("id_col", "doc_id")
    return (
        tokens(df, **kw)
        .filter(F.col("term").isin(terms))
        .select(id_col)
        .distinct()
    )


def match_not(df: DataFrame, include: str, exclude: str, **kw) -> DataFrame:
    """ids containing *include* but not *exclude* (NOT exclusion,
    db_search.go:51-53) via left_anti join."""
    id_col = kw.get("id_col", "doc_id")
    t = tokens(df, **kw)
    inc = t.filter(F.col("term") == include).select(id_col).distinct()
    exc = t.filter(F.col("term") == exclude).select(id_col).distinct()
    return inc.join(exc, id_col, "left_anti")


def match_prefix(df: DataFrame, prefix: str, **kw) -> DataFrame:
    """ids containing any term with the given prefix (wildcard queries,
    prefix='2 3 4' indexes in the reference, 1_init.up.sql:96)."""
    id_col = kw.get("id_col", "doc_id")
    return (
        tokens(df, **kw)
        .filter(F.col("term").startswith(prefix))
        .select(id_col)
        .distinct()
    )


def match_phrase(df: DataFrame, phrase_terms: list[str], **kw) -> DataFrame:
    """ids where the terms appear adjacent in order (quoted-phrase match)."""
    id_col = kw.get("id_col", "doc_id")
    needle = " " + " ".join(phrase_terms) + " "
    return (
        normalized_text(df, **kw)
        .filter(F.col("norm").contains(needle))
        .select(id_col)
    )
