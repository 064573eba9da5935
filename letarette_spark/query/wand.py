"""Block-max WAND top-k over varbyte posting blocks.

Classic block-max WAND walks per-term cursors sequentially — a shape Spark
can't express. This is the Spark-native exact adaptation: a two-round
prune-then-verify plan.

  round 1 (seed): decode each query term's few highest-upper-bound blocks,
      sum the decoded contributions per doc -> achievable LOWER bounds;
      theta = k-th best lower bound.
  round 2 (prune): a block (t, b) can influence the final top-k only if
      ub(t, b) + sum over other terms of their global max block ub >= theta
      — every other block is skipped without decoding.
  verify: the exhaustive scorer (``_exact_topk``, shared with
      ``exhaustive_topk``) restricted to the candidate rowids, so the
      result is EXACT: any doc outside the candidate set has score upper
      bound < theta <= k-th best.

Upper bound per block: bm25_term(idf_t, w0*tf0_max + w1*tf1_max, dl_min)
— a BM25 term is increasing in tf and decreasing in dl, so block-max tf
with block-min dl bounds every doc in the block. Every score comes from
executor.py's ``idf``/``bm25_term``, the scoring contract's one
implementation.

Property-tested equal to exhaustive scoring in tests/test_wand.py and
FTS5 rank-identity-tested through Searcher.search_terms_df, the
bag-of-words API that routes through it.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letarette_spark.index.blocks import blocks_df
from letarette_spark.index.builder import BODY_WEIGHT, TITLE_WEIGHT, Index
from letarette_spark.index.varbyte import decode_ints, decode_rowids
from letarette_spark.query.executor import bm25_term, idf, index_avgdl, term_dfs

_EMPTY = "rowid long, space string, score double"

_DECODED = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("rowid", T.LongType(), False),
        T.StructField("tf0", T.IntegerType(), False),
        T.StructField("tf1", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def _decode(blocks: DataFrame) -> DataFrame:
    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                rowids = decode_rowids(r.rowids)
                frames.append(
                    pd.DataFrame(
                        {
                            "term": r.term,
                            "rowid": rowids,
                            "tf0": decode_ints(r.tf0s).astype(np.int32),
                            "tf1": decode_ints(r.tf1s).astype(np.int32),
                            "dl": decode_ints(r.dls).astype(np.int32),
                        }
                    )
                )
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame(
                    {
                        "term": pd.Series(dtype=object),
                        "rowid": pd.Series(dtype=np.int64),
                        "tf0": pd.Series(dtype=np.int32),
                        "tf1": pd.Series(dtype=np.int32),
                        "dl": pd.Series(dtype=np.int32),
                    }
                )
            )

    return blocks.mapInPandas(dec, schema=_DECODED)


def _term_idf(index: Index, terms: list[str], mode: str) -> dict[str, float] | None:
    """FTS5-convention idf per term; None when the query can have no hits
    (no term is indexed, or an AND over a missing term)."""
    ndocs = int(index.meta["ndocs"])
    dfs = {t: n for t, n in term_dfs(index, terms).items() if n > 0}
    if not dfs or (mode == "and" and len(dfs) < len(terms)):
        return None
    return {t: idf(ndocs, n) for t, n in dfs.items()}


def _by_term(values: dict[str, float]) -> Column:
    """The value of each row's ``term`` column, looked up in *values*."""
    return F.create_map(
        *[x for t in sorted(values) for x in (F.lit(t), F.lit(values[t]))]
    )[F.col("term")]


def _contrib(idfs: dict[str, float], avgdl: float, w_title: float, w_body: float) -> Column:
    """A (term, tf0, tf1, dl) row's BM25 term."""
    tfw = F.col("tf0") * w_title + F.col("tf1") * w_body
    return bm25_term(_by_term(idfs), tfw, F.col("dl"), avgdl)


def _exact_topk(
    index: Index,
    idfs: dict[str, float],
    k: int,
    mode: str,
    w_title: float,
    w_body: float,
    cand: DataFrame | None = None,
) -> DataFrame:
    """Exact bag-of-words top-k from the row postings of the terms in
    *idfs* (term-pruned scan -> per-row BM25 term -> one groupBy rowid ->
    AND filter -> top-k), optionally restricted to the rowids of *cand*."""
    live_terms = sorted(idfs)
    post = index.postings_for_terms(live_terms)
    if cand is not None:
        post = post.join(cand, "rowid", "inner")
    contrib = _contrib(idfs, index_avgdl(index), w_title, w_body)
    exact = (
        post.select("rowid", "space", contrib.alias("c"), F.lit(1).alias("one"))
        .groupBy("rowid")
        .agg(
            F.first("space").alias("space"),
            F.sum("c").alias("score"),
            F.count("one").alias("nterms"),
        )
    )
    if mode == "and":
        exact = exact.filter(F.col("nterms") == len(live_terms))
    return (
        exact.select("rowid", "space", (-F.col("score")).alias("score"))
        .orderBy("score", "rowid")
        .limit(k)
    )


def exhaustive_topk(
    index: Index,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    w_title: float = TITLE_WEIGHT,
    w_body: float = BODY_WEIGHT,
) -> DataFrame:
    """Exact bag-of-words BM25 top-k straight from the row postings
    (bucket-pruned term scan + one groupBy) — no blocks required, so it
    also serves indexes with pending delta segments. Same contract and
    scoring as wand_topk; WAND is strictly a pruning optimization."""
    idfs = _term_idf(index, sorted(set(terms)), mode)
    if not idfs:
        return index.spark.createDataFrame([], _EMPTY)
    return _exact_topk(index, idfs, k, mode, w_title, w_body)


def wand_topk(
    index: Index,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    w_title: float = TITLE_WEIGHT,
    w_body: float = BODY_WEIGHT,
) -> DataFrame:
    """Exact BM25 top-k (rowid, score — FTS5 negative/ascending convention)
    for a bag of terms, decoding only score-relevant blocks.

    mode='or': docs matching any term; mode='and': docs matching all."""
    idfs = _term_idf(index, sorted(set(terms)), mode)
    if not idfs:
        return index.spark.createDataFrame([], _EMPTY)
    live_terms = sorted(idfs)
    avgdl = index_avgdl(index)

    tfw_max = F.col("tf0_max") * w_title + F.col("tf1_max") * w_body
    meta = (
        blocks_df(index)
        .filter(F.col("term").isin(live_terms))
        .withColumn("ub", bm25_term(_by_term(idfs), tfw_max, F.col("dl_min"), avgdl))
        .cache()
    )

    # global max block-ub per term (tiny)
    gmax = {
        r["term"]: r["m"]
        for r in meta.groupBy("term").agg(F.max("ub").alias("m")).collect()
    }
    gsum = sum(gmax.values())

    # ---- round 1: seed theta from the top blocks of each term ----
    w = Window.partitionBy("term").orderBy(F.desc("ub"), F.asc("min_rowid"))
    block_size = int(index.meta.get("blocks", {}).get("block_size", 128))
    seed_blocks = meta.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= max(1, -(-k // block_size) + 1)
    )
    contrib = _contrib(idfs, avgdl, w_title, w_body)
    agg = (
        _decode(seed_blocks)
        .select("rowid", contrib.alias("c"), F.lit(1).alias("one"))
        .groupBy("rowid")
        .agg(F.sum("c").alias("lb"), F.count("one").alias("nterms"))
    )
    if mode == "and":
        agg = agg.filter(F.col("nterms") == len(live_terms))
    top_seed = agg.orderBy(F.desc("lb")).limit(k).collect()
    theta = top_seed[k - 1]["lb"] if len(top_seed) >= k else float("-inf")

    # ---- round 2: decode only blocks that can still matter ----
    # ub(t,b) + sum_{t'!=t} gmax(t') >= theta  <=>  ub + (gsum - gmax(t)) >= theta
    sel = meta.filter(F.col("ub") + (F.lit(gsum) - _by_term(gmax)) >= F.lit(theta))
    cand = _decode(sel).select("rowid").distinct()

    # ---- verify: the exhaustive scorer on the candidates ----
    out = _exact_topk(index, idfs, k, mode, w_title, w_body, cand)
    meta.unpersist()
    return out
