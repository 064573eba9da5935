"""Scatter-gather search across shard indexes — the reference client's
sharded Search + mergeResponses (pkg/client/agent.go:118-211).

Semantics reproduced exactly:
- each shard is queried with pageLimit // numShards (min 1) and the SAME
  pageOffset (agent.go:129-133 — a documented reference approximation:
  the merged page is assembled from per-shard pages);
- merge: hits concatenated then stable-sorted by rank (score) ONLY,
  TotalHits summed, Capped OR-ed, status = max by protocol code
  (no_hit < cache_hit < index_hit < timeout), respelt keeps the lowest
  positive distance (agent.go:186-211). The merged hit list is NOT
  re-truncated to pageLimit — reference behavior.

Determinism note: the reference's stable sort preserves network arrival
order for rank ties; here shard-list order plays that role, so results
are reproducible for a fixed shard ordering.

Scores are per-shard BM25 (each shard's own ndocs/avgdl/df) — identical
to the reference, where every shard worker ranks against its local
index. Tests pin this by comparing against per-shard FTS5 oracles merged
with the same rules.
"""

from __future__ import annotations

from letarette_spark.query.executor import SearchResult

# protocol.SearchStatusCode order (protocol.go:176-186)
_STATUS_CODE = {"no_hit": 42, "cache_hit": 43, "index_hit": 44, "timeout": 45}


def merge_results(results: list[SearchResult]) -> SearchResult:
    merged = SearchResult([], 0, False, status="no_hit")
    for r in results:
        if _STATUS_CODE.get(r.status, 0) > _STATUS_CODE.get(merged.status, 0):
            merged.status = r.status
        merged.capped = merged.capped or r.capped
        merged.total_hits += r.total_hits
        merged.hits.extend(r.hits)
        if merged.respelt == "" or (
            r.respelt_distance > 0 and merged.respelt_distance > r.respelt_distance
        ):
            merged.respelt = r.respelt
            merged.respelt_distance = r.respelt_distance
    merged.hits.sort(key=lambda h: h.score)  # stable: shard order breaks ties
    return merged


def sharded_search(
    searchers: list,
    query: str,
    spaces: list[str] | None = None,
    page_limit: int = 10,
    page_offset: int = 0,
    **search_kwargs,
) -> SearchResult:
    """Query every shard searcher and merge (agent.go Search). Shards are
    queried CONCURRENTLY (the reference scatters over NATS and gathers
    asynchronously; Spark actions are thread-safe, scheduled fairly
    across driver threads) — latency is max-of-shards, not sum."""
    from concurrent.futures import ThreadPoolExecutor

    n = len(searchers)
    if n == 0:
        return SearchResult([], 0, False, status="no_hit")
    sharded_limit = max(1, page_limit // n)
    with ThreadPoolExecutor(max_workers=min(16, n)) as ex:
        results = list(
            ex.map(
                lambda s: s.search(
                    query, spaces, sharded_limit, page_offset, **search_kwargs
                ),
                searchers,
            )
        )
    return merge_results(results)


class ShardedSearcher:
    """Scatter-gather deployment with a MERGE-LAYER result cache.

    A bare sharded_search() re-queries every shard even when each shard
    Searcher caches: the per-shard caches save the Spark scans but the
    deployment still pays N cache probes + a merge per repeat query.
    Caching the merged response at this layer serves repeats in one probe
    — the reference reaches the same state because its cache sits in each
    worker's Searcher and the agent's merge is driver-cheap; here the
    merge layer IS the client-facing searcher, so the cache belongs here.

    Per-document invalidation fans out: dropping a doc drops the merged
    entries containing it AND forwards to every shard Searcher's own
    cache (cache.go:183-185 semantics at both layers). The object
    implements invalidate_doc/clear, so it can ride directly in
    upsert_documents(caches=[...]).
    """

    def __init__(self, searchers: list, cache=None):
        from letarette_spark.query.cache import ResultCache

        self.searchers = list(searchers)
        self.cache = cache or ResultCache()

    def search(
        self,
        query: str,
        spaces: list[str] | None = None,
        page_limit: int = 10,
        page_offset: int = 0,
        **search_kwargs,
    ) -> SearchResult:
        from letarette_spark.query.cache import cache_key

        key = cache_key(query, spaces, page_limit, page_offset, **search_kwargs)
        return self.cache.get_or_compute(
            key,
            lambda: sharded_search(
                self.searchers, query, spaces, page_limit, page_offset,
                **search_kwargs,
            ),
        )

    def _caches(self) -> list:
        shard_caches = (getattr(s, "cache", None) for s in self.searchers)
        return [self.cache, *(c for c in shard_caches if c is not None)]

    def invalidate_doc(self, doc_id) -> int:
        """Drop *doc_id* from the merge-layer cache and every shard
        Searcher's cache. Returns total entries dropped."""
        return sum(c.invalidate_doc(doc_id) for c in self._caches())

    def clear(self) -> None:
        for c in self._caches():
            c.clear()
