"""Index statistics — analog of the reference's GetIndexStats / lrcli
``index stats`` tooling (internal/letarette/indextools.go:54-152: doc
count, unique/total terms, top-15 common terms, per-space counts)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from letarette_spark.index.builder import Index
from letarette_spark.query.spelling import SPELING_SCHEMA


@dataclass
class IndexStats:
    ndocs: int
    nterms: int
    total_tokens: int
    avgdl: float
    spaces: dict[str, int] = field(default_factory=dict)
    top_terms: list[tuple[str, int]] = field(default_factory=list)
    segments: int = 0


def spelling_lag(index: Index, min_count: int = 4, min_len: int = 4) -> int:
    """How many eligible terms are missing from the spelling dictionary —
    the reference's lag gate for spellfix rebuilds (indextools.go:317-361).
    Negative-free: 0 means the speling table is current."""
    import os

    eligible = (
        index.term_stats()
        .filter((F.length("term") >= min_len) & (F.col("cnt") >= min_count))
        .count()
    )
    path = os.path.join(index.root, "speling")
    have = (
        index.spark.read.schema(SPELING_SCHEMA).parquet(path).count()
        if os.path.exists(path)
        else 0
    )
    return max(0, eligible - have)


def index_stats(index: Index, top_n: int = 15) -> IndexStats:
    docs = index.docs()
    spaces = {
        r["space"]: r["c"]
        for r in docs.filter(F.col("alive"))
        .groupBy("space")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    top = [
        (r["term"], int(r["cnt"]))
        for r in index.term_stats()
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(top_n)
        .collect()
    ]
    ndocs = int(index.meta["ndocs"])
    return IndexStats(
        ndocs=ndocs,
        nterms=int(index.meta["nterms"]),
        total_tokens=int(index.meta["sum_dl"]),
        avgdl=float(index.meta["sum_dl"]) / ndocs if ndocs else 0.0,
        spaces=spaces,
        top_terms=top,
        segments=len(index.segments),
    )
