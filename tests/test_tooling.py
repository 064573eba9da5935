"""Bulk JSON load, index stats, result cache (SURVEY.md §2.1/§2.4 tooling)."""

from __future__ import annotations

import gzip
import json

import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.builder import Index, build_index
from letarette_spark.index.stats import index_stats
from letarette_spark.query.cache import ResultCache, cache_key
from letarette_spark.query.executor import Searcher
from letarette_spark.sources.bulkload import load_json_docs

CFG = AnalyzerConfig(mode="porter")

DOCS = [
    {"id": "a1", "title": "first doc", "text": "hello indexing world"},
    {"id": None, "title": "second", "text": "auto assigned identifier"},
    {"id": "a3", "title": "third", "text": "hello again"},
]


@pytest.fixture(scope="module")
def json_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("bulk")
    # gzipped json-lines, like the reference's 1M.json.gz corpus
    with gzip.open(d / "docs.json.gz", "wt") as f:
        for doc in DOCS:
            f.write(json.dumps(doc) + "\n")
    return str(d / "docs.json.gz")


class TestBulkLoad:
    def test_load_and_autoassign(self, spark, json_path):
        docs = load_json_docs(spark, json_path, space="wiki", auto_assign_ids=True)
        rows = docs.collect()
        assert len(rows) == 3
        assert all(r["doc_id"] for r in rows)
        assert all(r["space"] == "wiki" for r in rows)
        # deterministic auto-id
        again = load_json_docs(spark, json_path, space="wiki", auto_assign_ids=True)
        assert sorted(r["doc_id"] for r in again.collect()) == sorted(
            r["doc_id"] for r in rows
        )

    def test_shard_filter_partitions_docs(self, spark, json_path):
        full = load_json_docs(spark, json_path, auto_assign_ids=True)
        parts = [
            load_json_docs(spark, json_path, auto_assign_ids=True, shard=(i, 2)).count()
            for i in range(2)
        ]
        assert sum(parts) == full.count()

    def test_end_to_end_build_and_search(self, spark, json_path, tmp_path):
        docs = load_json_docs(spark, json_path, auto_assign_ids=True)
        root = str(tmp_path / "bulk_idx")
        build_index(spark, docs, root, config=CFG, n_build_partitions=2, chunk_size=2)
        idx = Index.open(spark, root, CFG)
        s = Searcher(idx)
        res = s.search("hello", limit=10)
        assert res.total_hits == 2

        stats = index_stats(idx)
        assert stats.ndocs == 3 and stats.segments == 0
        assert stats.spaces == {"docs": 3}
        assert any(t == "hello" for t, _ in stats.top_terms)


class TestResultCache:
    def test_canonical_key_equivalence(self):
        assert cache_key("Yabba* -Dabba Doo Doo", None, 10, 0) == cache_key(
            '-daBBa -dAbBa "DOO" "YABBA" *', None, 10, 0
        )
        assert cache_key("a b", ["x"], 10, 0) != cache_key("a b", ["y"], 10, 0)

    def test_cache_roundtrip_and_invalidation(self):
        from letarette_spark.query.executor import Hit, SearchResult

        calls = []

        def compute():
            calls.append(1)
            return SearchResult([Hit("s", "d1", 1, -1.0)], 1, False)

        cache = ResultCache(ttl_seconds=60)
        r1 = cache.get_or_compute(cache_key("hello world", None, 10, 0), compute)
        r2 = cache.get_or_compute(  # canonically equal
            cache_key('"hello" "world"'.lower(), None, 10, 0), compute
        )
        assert len(calls) == 1
        assert r1.status == "index_hit" and r2.status == "cache_hit"
        assert [h.doc_id for h in r2.hits] == [h.doc_id for h in r1.hits]
        dropped = cache.invalidate_doc("d1")
        assert dropped == 1
        cache.get_or_compute(cache_key("hello world", None, 10, 0), compute)
        assert len(calls) == 2

    def test_ttl_expiry(self):
        c = ResultCache(ttl_seconds=0.0)
        c.put("k", "v", set())
        import time

        time.sleep(0.01)
        assert c.get("k") is None

    def test_doc_index_tracks_eviction_overwrite_and_expiry(self):
        """The doc_id -> keys reverse index must stay consistent through
        every path that removes or replaces an entry, or invalidation
        would miss (stale results served after an upsert) or over-count."""
        c = ResultCache(max_entries=2, ttl_seconds=60)
        c.put("k1", "v1", {"a", "b"})
        c.put("k2", "v2", {"b"})
        c.put("k3", "v3", {"a"})  # evicts k1 (LRU)
        assert c.invalidate_doc("b") == 1  # only k2 — k1 is gone
        assert c.get("k2") is None and c.get("k3") == "v3"
        # overwrite replaces the doc set
        c.put("k3", "v3b", {"c"})
        assert c.invalidate_doc("a") == 0
        assert c.get("k3") == "v3b"
        assert c.invalidate_doc("c") == 1
        # TTL expiry inside get() also unindexes
        c2 = ResultCache(ttl_seconds=0.0)
        c2.put("k", "v", {"d"})
        import time

        time.sleep(0.01)
        assert c2.get("k") is None
        assert c2.invalidate_doc("d") == 0
        # clear() resets both maps
        c3 = ResultCache()
        c3.put("k", "v", {"e"})
        c3.clear()
        assert c3.invalidate_doc("e") == 0


class TestDegenerateCorpora:
    """Empty and pathological inputs must not crash any public operator
    (ANSI mode turns sloppy arithmetic into runtime errors)."""

    def test_empty_documents_table(self, spark):
        from letarette_spark.functions.dedup import (
            exact_duplicate_groups, jaccard_pairs, minhash_lsh_pairs, simhash64,
        )
        from letarette_spark.functions.simple_text import (
            bm25_scores, match_all_terms, term_stats,
        )
        from letarette_spark.functions.textstats import (
            fingerprint64, lang_id, quality_scores,
        )

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert term_stats(empty).count() == 0
        assert bm25_scores(empty, ["key", "value"]).count() == 0
        assert match_all_terms(empty, ["key"]).count() == 0
        assert exact_duplicate_groups(empty).count() == 0
        assert jaccard_pairs(empty, n=3, threshold=0.1).count() == 0
        assert minhash_lsh_pairs(empty).count() == 0
        assert simhash64(empty).count() == 0
        assert fingerprint64(empty).count() == 0
        assert quality_scores(empty).count() == 0
        assert lang_id(empty).count() == 0

    def test_empty_corpus_engine(self, spark, tmp_path):
        from letarette_spark.analysis.tokenizer import AnalyzerConfig
        from letarette_spark.index.builder import Index, build_index
        from letarette_spark.query.executor import Searcher

        root = str(tmp_path / "empty_idx")
        empty = spark.createDataFrame(
            [], "doc_id string, rowid long, space string, title string, "
                "body string, alive boolean",
        )
        cfg = AnalyzerConfig(mode="porter")
        res = build_index(spark, empty, root, config=cfg,
                          n_build_partitions=2, chunk_size=2)
        assert res.ndocs == 0
        idx = Index.open(spark, root, cfg)
        s = Searcher(idx)
        df, total, capped = s.search_df("anything", limit=5)
        got = df.collect() if df is not None else []
        assert got == [] and total == 0 and not capped
        full = s.search("anything", limit=5)
        assert full.status in ("no_hit",) and full.hits == []

    def test_whitespace_and_punct_only_docs(self, spark):
        from letarette_spark.functions.dedup import simhash64
        from letarette_spark.functions.textstats import quality_scores

        df = spark.createDataFrame(
            [{"doc_id": 1, "text": "   \t\n  "}, {"doc_id": 2, "text": "!!! ... ???"}]
        )
        assert quality_scores(df).count() == 2
        assert simhash64(df).count() == 2


class TestLangIdTrigram:
    """Char-trigram language ID (round-3 verdict task #8): accuracy smoke
    over a labeled mini-set — the deterministic gate twin pins values; this
    pins that the heuristic actually identifies languages."""

    SAMPLES = {
        "en": [
            "the cat was sitting on the mat and it would not move from there",
            "they have been working with this for more than a year",
            "what can be said about the other side of the story",
            "there is only one way to know which of them will win",
            "this is the kind of thing that can only happen when nobody is looking",
        ],
        "de": [
            "der hund ist mit der katze durch den garten gelaufen",
            "die kinder haben nicht auf den bus gewartet",
            "das wetter wird morgen besser als heute sein",
            "sie wurde von einem freund nach hause gebracht",
            "zwischen den beiden gibt es noch einen unterschied",
        ],
        "fr": [
            "le chat est dans la maison avec les enfants",
            "il y a deux ans nous sommes alles a paris ensemble",
            "cette ville est plus belle que toutes les autres",
            "ils ont fait tout ce qui etait possible pour nous aider",
            "elle ne peut pas venir sans son frere et sa soeur",
        ],
        "es": [
            "el perro esta en la casa con los ninos pequenos",
            "cuando llegamos a madrid ya era muy tarde para cenar",
            "todos los dias hay algo nuevo que aprender sobre esto",
            "no se puede saber quien va a ganar hasta el final",
            "durante muchos anos vivimos entre dos ciudades distintas",
        ],
        "it": [
            "il gatto e nella casa con i bambini piccoli",
            "dopo molti anni sono tornati nella loro citta",
            "questo libro e piu interessante di quello che ho letto prima",
            "non si sa quando arriveranno tutti gli altri",
            "tra due giorni saremo di nuovo a roma con loro",
        ],
        "pt": [
            "o gato esta na casa com as criancas pequenas",
            "quando chegamos ao rio ja era muito tarde",
            "nao se pode saber quem vai ganhar ate o final",
            "depois de muitos anos ele voltou para a sua cidade",
            "isso tambem pode ser feito sem a ajuda dos outros",
        ],
        "nl": [
            "de kat zit in het huis met de kleine kinderen",
            "hij werd door een vriend naar huis gebracht",
            "er is nog geen nieuws over wat er is gebeurd",
            "tussen de twee staat nog een ander gebouw",
            "dit jaar hebben zij meer gedaan dan ooit tevoren",
        ],
        "sv": [
            "katten sitter i huset med de sma barnen",
            "han skulle inte komma utan att saga till",
            "det finns inget nytt att beratta om detta",
            "mellan de tva husen star ett annat hus",
            "hon har varit dar manga ganger genom aren",
        ],
        # round-4 verdict task #7: four more languages + the hard
        # confusion pairs (es/pt above, no/da below). ASCII-folded like
        # the rest (the simple analyzer splits on [^a-z0-9]+).
        "da": [
            "der var ikke noget nyt at sige om det hele",
            "hvad kan man vide om alt dette uden hjelp",
            "det er noget som de fleste ikke ville tro",
            "mellem husene var der en lille have med blomster",
            "hun har ikke sagt noget om hvad der skal ske",
        ],
        "no": [
            "han ble ikke sett etter den lange dagen",
            "hva kan man vite om alt dette uten hjelp",
            "det er noe som de fleste ikke ville tro",
            "mellom husene var det en liten hage med blomster",
            "hun har ikke sagt noe om hva som skal skje",
        ],
        "fi": [
            "kissa on talossa pienten lasten kanssa",
            "han tuli myohemmin kotiin koska oli paljon toita",
            "emme voi tietaa kuka voittaa ennen loppua",
            "monien vuosien jalkeen he palasivat kaupunkiin",
            "tama kirja on parempi kuin se jonka luin aiemmin",
        ],
        "pl": [
            "kot jest w domu z malymi dziecmi",
            "po wielu latach wrocil do swojego miasta",
            "nie mozna wiedziec kto wygra przed koncem",
            "to takze mozna zrobic bez pomocy innych",
            "jeszcze nie wiadomo kiedy przyjda wszyscy inni",
        ],
    }

    def _guesses(self, spark):
        from letarette_spark.functions.textstats import lang_id

        rows = [
            {"doc_id": f"{lang}-{i}", "text": text}
            for lang, texts in self.SAMPLES.items()
            for i, text in enumerate(texts)
        ]
        return {
            r["doc_id"]: r["lang_guess"]
            for r in lang_id(spark.createDataFrame(rows)).collect()
        }

    def test_accuracy_on_labeled_miniset(self, spark):
        got = self._guesses(spark)
        correct = sum(1 for d, g in got.items() if g == d.split("-")[0])
        total = len(got)
        assert correct / total >= 0.90, {
            d: g for d, g in got.items() if g != d.split("-")[0]
        }

    def test_confusion_pairs(self, spark):
        """The close-cousin pairs must not bleed into each other: every
        es sample must NOT be classified pt and vice versa; same for
        no/da (the share-weighted tiers exist exactly for this)."""
        got = self._guesses(spark)
        for a, b in (("es", "pt"), ("pt", "es"), ("no", "da"), ("da", "no")):
            for d, g in got.items():
                if d.startswith(f"{a}-"):
                    assert g != b, (d, g)

    def test_trigram_tables_deterministic(self):
        from letarette_spark.functions.textstats import (
            LANG_TRIGRAM_TIERS, LANG_TRIGRAMS, LANG_WORDS, _trigram_profile,
            _trigram_tiers,
        )

        assert len(LANG_TRIGRAMS) == 12
        for lang, tris in LANG_TRIGRAMS.items():
            # the 200 cap is non-binding for ~45-word lists — profiles
            # carry every distinct trigram; fairness across languages
            # comes from the share weighting, not equal sizes
            assert 100 <= len(tris) <= 200 and len(set(tris)) == len(tris)
            assert tris == _trigram_profile(LANG_WORDS[lang])
        assert LANG_TRIGRAM_TIERS == _trigram_tiers(LANG_TRIGRAMS)
        for lang, tiers in LANG_TRIGRAM_TIERS.items():
            # tiers are nested: tier k+1 is a subset of tier k
            for hi, lo in zip(tiers[1:], tiers):
                assert set(hi) <= set(lo), lang
            # weighted score of a profile-only trigram >= 1
            assert tiers[0] == LANG_TRIGRAMS[lang]
