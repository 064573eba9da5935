"""Query result cache with canonical keys and per-document invalidation.

Reference: internal/letarette/cache.go:30-185 — an LRU-ish cache keyed by
the canonicalized phrase list + spaces + page (parser.go:166-199), size-
and TTL-bounded, invalidated per docID when updates arrive. Driver-side
here (results are tiny top-k lists); the underlying Spark scans are the
expensive part being saved.
"""

from __future__ import annotations

import time
from collections import OrderedDict
from dataclasses import dataclass, field, replace
from typing import Hashable

from letarette_spark.query.parser import canonicalize, parse_query, reduce_phrases


def cache_key(
    query: str, spaces: list[str] | None, limit: int, offset: int, **opts
) -> Hashable:
    """Canonical cache key. Any option that changes the observable result
    (autocorrect can rewrite the query, snippets/strategy change hit
    payloads) MUST ride in the key — otherwise a respelt or
    snippet-bearing result would be served to a caller that disabled
    those flags."""
    phrases = canonicalize(reduce_phrases(parse_query(query)))
    return (
        phrases,
        tuple(sorted(spaces or [])),
        limit,
        offset,
        tuple(sorted(opts.items())),
    )


@dataclass
class ResultCache:
    max_entries: int = 1024
    ttl_seconds: float = 600.0  # reference default 10 min (config.go:72)
    _data: OrderedDict = field(default_factory=OrderedDict)
    # doc_id -> {keys of entries whose hit list contains it}: makes a
    # batch upsert's invalidation fan-out O(affected entries) instead of
    # O(batch docs x cached entries) (the reference scans the whole map
    # per doc, cache.go:183-185 — fine at its scale, but a streaming
    # micro-batch here can carry 10^5 doc ids)
    _by_doc: dict = field(default_factory=dict)
    hits: int = 0
    misses: int = 0

    def _forget(self, key: Hashable, doc_ids) -> None:
        for d in doc_ids:
            s = self._by_doc.get(d)
            if s is not None:
                s.discard(key)
                if not s:
                    del self._by_doc[d]

    def get(self, key: Hashable):
        now = time.monotonic()
        item = self._data.get(key)
        if item is None:
            self.misses += 1
            return None
        ts, doc_ids, value = item
        if now - ts > self.ttl_seconds:
            del self._data[key]
            self._forget(key, doc_ids)
            self.misses += 1
            return None
        self._data.move_to_end(key)
        self.hits += 1
        return value

    def stats(self) -> dict:
        return {
            "entries": len(self._data),
            "hits": self.hits,
            "misses": self.misses,
        }

    def put(self, key: Hashable, value, doc_ids: set) -> None:
        old = self._data.get(key)
        if old is not None:
            self._forget(key, old[1])
        ids = frozenset(doc_ids)
        self._data[key] = (time.monotonic(), ids, value)
        self._data.move_to_end(key)
        for d in ids:
            self._by_doc.setdefault(d, set()).add(key)
        while len(self._data) > self.max_entries:
            k, (_t, evicted_ids, _v) = self._data.popitem(last=False)
            self._forget(k, evicted_ids)

    def invalidate_doc(self, doc_id) -> int:
        """Drop every cached result containing *doc_id* (cache.go:183-185:
        updates invalidate per docID). Returns entries dropped."""
        keys = self._by_doc.pop(doc_id, None)
        if not keys:
            return 0
        n = 0
        for k in tuple(keys):
            item = self._data.pop(k, None)
            if item is not None:
                self._forget(k, item[1])
                n += 1
        return n

    def clear(self) -> None:
        self._data.clear()
        self._by_doc.clear()

    def get_or_compute(self, key: Hashable, compute):
        """The cached result for *key* marked ``cache_hit`` (reference:
        SearchStatusCacheHit, searcher.go:95-97), else ``compute()``'s
        result, stored unless it timed out — only successful searches are
        cached (searcher.go:98-103: cache.Put runs only when err == nil)."""
        hit = self.get(key)
        if hit is not None:
            return replace(hit, status="cache_hit")
        res = compute()
        if res.status != "timeout":
            self.put(key, res, {h.doc_id for h in res.hits})
        return res
