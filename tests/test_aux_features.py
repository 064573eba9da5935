"""Auxiliary parity features: auto-stopwords, synonyms, snippets, spelling
correction (SURVEY.md §7 Phase 5)."""

from __future__ import annotations

import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.auxiliary import (
    derive_stopwords,
    load_stopwords,
    load_synonyms,
    update_stopwords,
    update_synonyms,
)
from letarette_spark.index.builder import Index, build_index
from letarette_spark.query.executor import Searcher
from letarette_spark.query.spelling import (
    build_speling_table,
    edit_distance,
    phonetic_hash,
    respell_term,
)

DOCS = [
    # 'common' dominates term counts -> auto-stopword candidate
    (1, "alpha report", "common common common common error handler common common"),
    (2, "beta notes", "common common common failure in parser common common"),
    (3, "gamma", "common common common common err trace common common common"),
    (4, "delta", "common unrelated words here common common common common"),
    (5, "epsilon", "zephyr quixotic common common common common common common"),
]


@pytest.fixture(scope="module")
def aux_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("aux_index"))
    sdf = spark.createDataFrame(
        [
            {"doc_id": f"d{r}", "rowid": r, "space": "main", "title": t,
             "body": b, "alive": True}
            for r, t, b in DOCS
        ]
    )
    cfg = AnalyzerConfig(mode="porter")
    build_index(spark, sdf, root, config=cfg, n_build_partitions=2, chunk_size=2)
    return Index.open(spark, root, cfg)


class TestStopwords:
    def test_derivation_rule(self, aux_index):
        words = derive_stopwords(aux_index, cutoff=0.25, top_n=15)
        assert words == ["common"]  # > 25% of all occurrences

    def test_query_time_only_single_word(self, aux_index):
        update_stopwords(aux_index, cutoff=0.25)
        s = Searcher(aux_index)
        assert s.stopwords == frozenset({"common"})
        # single stopword phrase -> dropped -> empty query
        df, total, capped = s.search_df("common")
        assert df is None and total == 0
        # inside a multi-word phrase the stopword survives (snowball.c:252-258)
        df, total, _ = s.search_df('"common error"')
        assert total == 1
        # stopword alongside another term: stopword phrase dropped, other kept
        df, total, _ = s.search_df("common parser")
        assert total == 1

    def test_index_mode_unaffected(self, aux_index):
        # stopwords never affect indexed content: df('common') intact
        ts = aux_index.term_stats().filter("term = 'common'").collect()
        assert ts and ts[0]["df"] == 5


class TestSynonyms:
    def test_colocated_expansion(self, aux_index, spark):
        update_synonyms(aux_index, [("errors", ["err", "error", "failure"])])
        s = Searcher(aux_index)
        assert "error" in load_synonyms(aux_index)["err"]
        # 'error' matches docs containing error(1), failure(2), err(3)
        df, total, _ = s.search_df("error")
        assert total == 3
        # without synonyms only doc 1 matches
        s_plain = Searcher(aux_index, synonyms={})
        _, total_plain, _ = s_plain.search_df("error")
        assert total_plain == 1

    def test_prefix_query_skips_synonyms(self, aux_index):
        s = Searcher(aux_index)
        _df, total, _ = s.search_df("error*")
        assert total == 1  # only literal error* prefixes


class TestSnippets:
    def test_snippet_window_and_ellipses(self, aux_index):
        s = Searcher(aux_index, stopwords=frozenset(), synonyms={})
        res = s.search("parser", limit=5)
        assert res.hits and res.hits[0].doc_id == "d2"
        snip = res.hits[0].snippet
        # first match at body offset 4 ('parser') -> window starts at token 3
        assert "parser" in snip
        assert snip.startswith("…")  # match offset > 1
        assert not snip.endswith("…")  # column has <= 10 tokens... or does it?

    def test_title_match_snippet(self, aux_index):
        s = Searcher(aux_index, stopwords=frozenset(), synonyms={})
        res = s.search("alpha", limit=5)
        assert res.hits[0].snippet.startswith("alpha")


class TestSpelling:
    def test_phonetic_hash_clusters(self):
        assert phonetic_hash("parser") == phonetic_hash("parsur")
        assert phonetic_hash("handler") != phonetic_hash("zephyr")

    def test_edit_distance_ordering(self):
        assert edit_distance("parser", "parser") == 0
        assert edit_distance("parser", "parsur") < edit_distance("parser", "handler")
        assert edit_distance("color", "colour") < 100  # cheap vowel insert

    def test_respell_and_autocorrect(self, aux_index):
        build_speling_table(aux_index, min_count=1, min_len=4)
        got = respell_term(aux_index, "parsur")
        assert got is not None and got[0] == "parser"
        s = Searcher(aux_index, stopwords=frozenset(), synonyms={})
        res = s.search("parsur", limit=5)
        assert res.respelt and "parser" in res.respelt
        assert res.total_hits == 1 and res.hits[0].doc_id == "d2"

    def test_no_respell_when_hits_exist(self, aux_index):
        s = Searcher(aux_index, stopwords=frozenset(), synonyms={})
        res = s.search("zephyr", limit=5)
        assert res.respelt == "" and res.total_hits == 1

    def test_respell_is_batched_two_jobs(self, spark, aux_index):
        """A respell attempt costs two Spark jobs regardless of how many
        words need correction: one term_stats existence scan + one speling
        candidate scan (round-2 verdict task #6)."""
        build_speling_table(aux_index, min_count=1, min_len=4)
        s = Searcher(aux_index, stopwords=frozenset(), synonyms={})
        sc = spark.sparkContext
        group = "respell-batch-test"
        sc.setJobGroup(group, "respell batching assertion")
        try:
            fixed, dist, changed = s._respell("parsur handlur zephir")
        finally:
            sc.setJobGroup(None, None)
        assert changed and dist > 0
        assert "parser" in fixed and "handler" in fixed and "zephyr" in fixed
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 2, (
            f"respell of 3 misspelled words ran {len(jobs)} jobs; "
            "must batch into term_stats scan + speling scan"
        )


class TestResultCache:
    def test_cache_hit_status_and_timeout_not_cached(self, aux_index):
        from letarette_spark.query.cache import ResultCache, cache_key

        s = Searcher(
            aux_index, stopwords=frozenset(), synonyms={}, cache=ResultCache()
        )
        r1 = s.search("parser", limit=5)
        assert r1.status == "index_hit" and r1.hits
        r2 = s.search("parser", limit=5)
        assert r2.status == "cache_hit"
        assert [h.doc_id for h in r2.hits] == [h.doc_id for h in r1.hits]

        # timeouts are never cached (reference caches only err == nil)
        slow = Searcher(
            aux_index, timeout=0.001, stopwords=frozenset(), synonyms={},
            cache=ResultCache(),
        )
        t1 = slow.search("zephyr", limit=5)
        assert t1.status == "timeout"
        assert slow.cache.get(
            cache_key("zephyr", None, 5, 0, autocorrect=True, snippets=True, strategy=1)
        ) is None
        assert slow.cache.stats()["entries"] == 0

    def test_doc_invalidation(self, aux_index):
        from letarette_spark.query.cache import ResultCache

        s = Searcher(
            aux_index, stopwords=frozenset(), synonyms={}, cache=ResultCache()
        )
        r1 = s.search("parser", limit=5)
        dropped = s.cache.invalidate_doc(r1.hits[0].doc_id)
        assert dropped == 1
        assert s.search("parser", limit=5).status == "index_hit"  # re-computed

    def test_option_variance_is_keyed(self, aux_index):
        """Calls differing only in snippets/autocorrect/strategy must not
        share a cache entry (a snippet-bearing result would otherwise be
        served to a caller that disabled snippets)."""
        from letarette_spark.query.cache import ResultCache

        s = Searcher(
            aux_index, stopwords=frozenset(), synonyms={}, cache=ResultCache()
        )
        with_snip = s.search("parser", limit=5, snippets=True)
        assert with_snip.status == "index_hit" and with_snip.hits[0].snippet
        no_snip = s.search("parser", limit=5, snippets=False)
        assert no_snip.status == "index_hit"  # distinct key -> recomputed
        assert no_snip.hits[0].snippet == ""
        # each variant now hits its own entry
        assert s.search("parser", limit=5, snippets=True).status == "cache_hit"
        assert s.search("parser", limit=5, snippets=False).status == "cache_hit"

    def test_searcher_integrated_cache_upsert_invalidation(
        self, spark, tmp_path_factory
    ):
        """Searcher(cache=...) serves cache_hit; upsert_documents with the
        cache registered invalidates per updated docID (reference:
        indexer.go:82-84 + cache.go:183-185): hit -> upsert -> miss."""
        from letarette_spark.index.incremental import upsert_documents
        from letarette_spark.query.cache import ResultCache

        root = str(tmp_path_factory.mktemp("cache_upsert_idx"))
        sdf = spark.createDataFrame(
            [
                {"doc_id": f"d{r}", "rowid": r, "space": "main", "title": t,
                 "body": b, "alive": True}
                for r, t, b in DOCS
            ]
        )
        cfg = AnalyzerConfig(mode="porter")
        build_index(spark, sdf, root, config=cfg, n_build_partitions=2, chunk_size=2)
        cache = ResultCache()
        s = Searcher(
            Index.open(spark, root, cfg),
            stopwords=frozenset(), synonyms={}, cache=cache,
        )
        r1 = s.search("parser", limit=5)
        assert r1.status == "index_hit" and r1.hits
        assert s.search("parser", limit=5).status == "cache_hit"
        # an unrelated query's entry must survive the upsert below
        r_other = s.search("zephyr", limit=5)
        assert r_other.hits and r_other.hits[0].doc_id != r1.hits[0].doc_id

        hit_doc = r1.hits[0].doc_id
        upd = spark.createDataFrame(
            [{"doc_id": hit_doc, "space": "main", "title": "updated",
              "body": "totally different text now", "alive": True,
              "rowid": int(hit_doc[1:])}]
        )
        upsert_documents(spark, root, upd, caches=[cache])
        # a fresh searcher sees the new snapshot; the shared cache was
        # invalidated for exactly the updated doc
        s2 = Searcher(
            Index.open(spark, root, cfg),
            stopwords=frozenset(), synonyms={}, cache=cache,
        )
        # miss: recomputed against the new snapshot (the updated doc no
        # longer matches, so the status may be no_hit — never cache_hit)
        assert s2.search("parser", limit=5).status != "cache_hit"
        assert s2.search("zephyr", limit=5).status == "cache_hit"  # survived


class TestSpellfixExactness:
    def test_editdist1_and_phonetic_hash_goldens(self):
        """Bit-exact against SQLite spellfix1's editdist1/phoneticHash
        (139 captured vectors, both directions — the distance model is
        asymmetric via the final-insert discount)."""
        from tests.spellfix_goldens import GOLDENS

        for a, b, d_ab, d_ba, ha, hb in GOLDENS:
            assert edit_distance(a, b) == d_ab, (a, b)
            assert edit_distance(b, a) == d_ba, (b, a)
            assert phonetic_hash(a) == ha, a
            assert phonetic_hash(b) == hb, b

    def test_score_prefers_frequent_words(self):
        from letarette_spark.query.spelling import spelling_score

        # spellfix1Score: distance + 32 - bit_length(rank) — a slightly
        # more distant but much more frequent word can win
        assert spelling_score(80, 1024) < spelling_score(75, 2)
