"""letarette_spark — a PySpark-native full-text indexing + BM25 query engine.

A from-scratch reimplementation of the query/data-processing capabilities of
erkkah/letarette (SQLite FTS5 + NATS, Go) re-expressed Spark-first:

- tokenization via vectorized Arrow/pandas UDFs (unicode61-style rules +
  Porter stemming, reproducing the reference tokenizer contract —
  /root/reference/internal/snowball/snowball.c:174-233);
- inverted-index build as a DataFrame pipeline (per-partition sorted posting
  lists, delta+varbyte compression, salted aggregation against Zipf skew);
- BM25(k1=1.2, b=0.75) top-k queries with column weights (title 5x, body 1x —
  /root/reference/internal/letarette/db.go:357-361) and the full Letarette
  query algebra (NEAR conjunction, NOT exclusion, quoted phrases, prefix
  wildcard — /root/reference/internal/letarette/db_search.go:27-56);
- checkpointed, resumable builds with per-partition lineage manifests
  (analog of the interest-list protocol,
  /root/reference/internal/letarette/db_index.go:122-176).

Nothing here is a port: the reference's architecture (SQLite B-trees, NATS
messaging, goroutines) is replaced by Catalyst plans over Parquet tables.
"""

__version__ = "0.1.0"


def __getattr__(name):
    # convenience re-exports without import-time Spark dependency costs
    if name in ("Analyzer", "AnalyzerConfig"):
        from letarette_spark.analysis import tokenizer

        return getattr(tokenizer, name)
    if name in ("Index", "build_index", "tokenize_postings"):
        from letarette_spark.index import builder

        return getattr(builder, name)
    if name in ("Searcher", "SearchResult", "Hit", "SearchTimeout"):
        from letarette_spark.query import executor

        return getattr(executor, name)
    if name == "ResultCache":
        from letarette_spark.query import cache

        return getattr(cache, name)
    if name in ("sharded_search", "merge_results"):
        from letarette_spark.query import sharded

        return getattr(sharded, name)
    if name in ("export_shard", "import_shard"):
        from letarette_spark.index import cloning

        return getattr(cloning, name)
    if name in ("upsert_documents", "compact_index"):
        from letarette_spark.index import incremental

        return getattr(incremental, name)
    if name == "get_spark":
        from letarette_spark.session import get_spark

        return get_spark
    if name in (
        "near_dedup",
        "connected_components",
        "duplicate_clusters",
        "drop_duplicates_by_pairs",
        "minhash_lsh_pairs",
        "lsh_embedding_duplicate_pairs",
    ):
        from letarette_spark.functions import dedup

        return getattr(dedup, name)
    if name in ("parse_mp4", "write_minimal_mp4"):
        from letarette_spark.functions import mp4

        return getattr(mp4, name)
    if name in ("video_metadata", "sample_frames", "synthesize_media"):
        from letarette_spark.functions import multimodal

        return getattr(multimodal, name)
    if name in (
        "cosine_topk",
        "ivf_centroids",
        "ivf_assign",
        "ivf_topk",
        "ivf_index_write",
        "ivf_index_topk",
        "lsh_cosine_topk",
    ):
        from letarette_spark.functions import similarity

        return getattr(similarity, name)
    raise AttributeError(name)
