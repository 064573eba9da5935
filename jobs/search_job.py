"""spark-submit entrypoint: run queries against a built index.

    spark-submit --py-files dist/letarette_spark.zip jobs/search_job.py \\
        --root s3://bucket/index_root --limit 10 \\
        --query "error handler" --query 'parse -buffer' --query 'tokeniz*'

Prints one JSON line per query: hits (doc_id, score, snippet), TotalHits,
Capped, respell metadata — the SearchResponse analog
(pkg/protocol/protocol.go:154-174)."""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--spaces", nargs="*", default=None)
    ap.add_argument("--limit", type=int, default=10)
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument("--strategy", type=int, default=1)
    ap.add_argument("--no-autocorrect", action="store_true")
    ap.add_argument("--timeout", type=float, default=30.0,
                    help="per-query budget in seconds (the reference's 4s default assumes a warm server; a cold Spark session needs more — the session is warmed before the budget is armed; <=0 disables)")
    ap.add_argument("--preload", action="store_true",
                    help="pin postings+docs in executor memory before the "
                         "first query (reference analog: preloadDB's "
                         "page-cache touch, db.go:504-540)")
    ap.add_argument("--cache-size", type=int, default=0,
                    help="enable the query result cache with this many "
                         "entries (0 = off); cache stats print at exit")
    ap.add_argument("--status", action="store_true",
                    help="print the worker IndexStatus line + metrics "
                         "JSON at exit (reference: status broadcasts + "
                         "expvar metrics surfaced by lrmon)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from letarette_spark.index.builder import Index
    from letarette_spark.query.executor import Searcher
    from letarette_spark.session import ENGINE_CONF

    spark = SparkSession.builder.appName("letarette_search").config(
        map=ENGINE_CONF
    ).getOrCreate()
    idx = Index.open(spark, args.root)
    # warm the session OUTSIDE the budget, like the reference's
    # long-lived worker: touch the index (file listing/metadata) AND fork
    # the Python workers (the NEAR evaluator is a pandas UDF; worker
    # cold-start is ~1s/core on shared hosts)
    idx.term_stats().limit(1).count()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(s):
        return s

    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).select(_warm("id")).count()
    if args.preload:
        idx.preload()  # pin postings+docs executor-side (db.go:504-540)
    cache = None
    if args.cache_size > 0:
        from letarette_spark.query.cache import ResultCache

        cache = ResultCache(max_entries=args.cache_size)
    searcher = Searcher(
        idx, timeout=args.timeout if args.timeout > 0 else None, cache=cache
    )
    from letarette_spark.monitoring import METRICS

    for q in args.query:
        t0 = time.perf_counter()
        METRICS.set("query_queue", 1)
        res = searcher.search(
            q, spaces=args.spaces, limit=args.limit, offset=args.offset,
            autocorrect=not args.no_autocorrect, strategy=args.strategy,
        )
        METRICS.set("query_queue", 0)
        print(json.dumps({
            "query": q,
            "status": res.status,
            "total_hits": res.total_hits,
            "capped": res.capped,
            "respelt": res.respelt,
            "respelt_distance": res.respelt_distance,
            "latency_sec": round(time.perf_counter() - t0, 4),
            "hits": [
                {"space": h.space, "id": h.doc_id, "rank": h.score,
                 "snippet": h.snippet}
                for h in res.hits
            ],
        }))
    if cache is not None:
        print(json.dumps({"cache_stats": cache.stats()}), file=sys.stderr)
    if args.status:
        from letarette_spark.monitoring import index_status

        print(str(index_status(idx)), file=sys.stderr)
        print(METRICS.to_json(), file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
