"""Prefix posting aggregates — the analog of the reference's prefix='2 3 4'
B-trees (1_init.up.sql:96).

Wildcard queries must (a) stay rank-identical to live FTS5 through the
aggregates, (b) agree exactly with the dictionary-expansion fallback
(an index built with prefix_lengths=()), (c) scan ONLY prefix-aggregate
files for covered lengths — never the postings table — and (d) stay
correct through upserts (query-time segment overlay) and compaction
(aggregate rebuild under a versioned dir)."""

from __future__ import annotations

import math
import os

import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.builder import Index, build_index
from letarette_spark.query.executor import Searcher
from letarette_spark.query.parser import (
    compile_match_string,
    parse_query,
    reduce_phrases,
)
from letarette_spark.sources.corpus import docs_from_corpus, generate_corpus_local
from tests.fts5_oracle import Fts5Index

N_DOCS = 120

# covered lengths (2-4), below-minimum (digit survives reduction), above
# -maximum (dictionary-expansion fallback), wildcard inside NEAR / phrase /
# exclude combinations, and 1-byte letters (reduced away -> no hits)
QUERIES = [
    "pa*", "par*", "pars*", "bu*", "er*", "to*", "tok*",
    "4*", "p*", "e*",
    "tokeniz*", "error pa*", '"error pa"*', "err* -buffer", "buffer er*",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pfx_index"))
    root_plain = str(tmp_path_factory.mktemp("pfx_index_plain"))
    corpus = spark.createDataFrame(generate_corpus_local(N_DOCS, seed=11))
    docs = docs_from_corpus(corpus)
    cfg = AnalyzerConfig(mode="porter")
    build_index(spark, docs, root, config=cfg, n_build_partitions=4, chunk_size=2)
    build_index(
        spark, docs, root_plain, config=cfg, n_build_partitions=4, chunk_size=2,
        prefix_lengths=(),
    )
    local = docs.select("rowid", "title", "body").collect()
    oracle = Fts5Index.build([(r["rowid"], r["title"], r["body"]) for r in local])
    return (
        Index.open(spark, root, cfg),
        Index.open(spark, root_plain, cfg),
        oracle,
        docs,
        cfg,
    )


def _results(searcher, q, limit=10):
    df, total, capped = searcher.search_df(q, limit=limit)
    rows = (
        [(r["rowid"], r["score"]) for r in df.collect()] if df is not None else []
    )
    return rows, total


@pytest.mark.parametrize("query", QUERIES)
def test_wildcard_rank_identity_and_fallback_agreement(built, query):
    index, plain, oracle, _docs, _cfg = built
    got, total = _results(Searcher(index), query)
    # (a) live FTS5
    match = compile_match_string(reduce_phrases(parse_query(query)))
    expected = oracle.search(match, limit=10) if match else []
    assert [r for r, _ in got] == [r for r, _ in expected], query
    for (_, sg), (_, se) in zip(got, expected):
        assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), query
    # (b) dictionary-expansion fallback build agrees exactly
    got_p, total_p = _results(Searcher(plain), query)
    assert got == got_p and total == total_p, query


def test_covered_lengths_scan_only_prefix_files(built):
    """The core scale property: a covered-length prefix lookup reads ONLY
    the one (plen, first-char-bucket) aggregate dir — no postings files,
    no dictionary scan — regardless of how many terms match."""
    index, _plain, _oracle, _docs, _cfg = built
    for p in ("pa", "par", "pars", "bu", "err"):
        files = index.prefix_rows(p).inputFiles()
        assert files, p
        assert all(f"/prefix/plen={len(p)}/" in f for f in files), (p, files)


def test_below_minimum_length_prunes_to_one_bucket_dir(built):
    """'4*' (digit survives phrase reduction): served from the plen=2
    aggregates of ONE first-char bucket dir plus an exact-pruned postings
    lookup for bare short terms — never a full postings scan."""
    index, _plain, _oracle, _docs, _cfg = built
    files = index.prefix_rows("4").inputFiles()
    pfx = [f for f in files if "/prefix/" in f]
    assert pfx and all("/prefix/plen=2/" in f for f in pfx)
    # the one aggregate dir, not all of them
    dirs = {f.rsplit("/", 1)[0] for f in pfx}
    assert len(dirs) == 1


def test_longer_than_max_serves_from_term_range_tail(built):
    """5+-char prefixes read ONLY the plen=-1 term-range tail of the one
    first-char bucket dir — never the postings table, never the
    dictionary, at ANY number of completions."""
    index, plain, _oracle, _docs, _cfg = built
    for p in ("parse", "tokeniz"):
        df = index.prefix_rows(p)
        assert df is not None, p
        files = df.inputFiles()
        assert files, p
        assert all("/prefix/plen=-1/" in f for f in files), (p, files)
        dirs = {f.rsplit("/", 1)[0] for f in files}
        assert len(dirs) == 1, (p, dirs)
    assert index.prefix_rows("") is None
    # a pre-tail index (prefix_lengths=()) still reports no coverage
    assert plain.prefix_rows("parse") is None


def test_huge_expansion_stays_on_tail(spark, tmp_path_factory):
    """The round-4 corner: a 5-char prefix with >4096 completions. The
    tail serves it from one partition dir (no dictionary collect, no
    full postings scan) and the result matches a direct computation."""
    import pyspark.sql.functions as F

    n_terms, n_docs = 4200, 64
    docs = spark.createDataFrame(
        [
            {
                "doc_id": f"d{d}", "rowid": d, "space": "m",
                "title": "filler",
                "body": " ".join(
                    f"zqxwv{t:04d}" for t in range(d, n_terms, n_docs)
                ),
                "alive": True,
            }
            for d in range(1, n_docs + 1)
        ]
    )
    cfg = AnalyzerConfig(mode="porter")
    root = str(tmp_path_factory.mktemp("pfx_huge"))
    build_index(spark, docs, root, config=cfg, n_build_partitions=2,
                chunk_size=32)
    index = Index.open(spark, root, cfg)
    assert index.term_stats().filter(
        F.col("term").startswith("zqxwv")).count() > 4096

    hits = index.prefix_rows("zqxwv")
    files = hits.inputFiles()
    assert files and all("/prefix/plen=-1/" in f for f in files), files
    assert len({f.rsplit("/", 1)[0] for f in files}) == 1
    # every doc contains zqxwv* terms; tf == its share of the terms
    got = {}
    for r in hits.collect():
        got[r["rowid"]] = got.get(r["rowid"], 0) + len(r["pos1"])
    want = {
        d: len(range(d, n_terms, n_docs)) for d in range(1, n_docs + 1)
    }
    assert got == want
    # end-to-end through the Searcher (rank path) for a narrower prefix:
    # terms zqxwv0000..zqxwv0099 live in docs d where some t<100 hits
    # d's arithmetic progression — every doc 1..64 (t=d qualifies)
    s = Searcher(index)
    df, total, _c = s.search_df("zqxwv00*", limit=5)
    assert df is not None and total == n_docs


def test_wildcards_through_upsert_and_compaction(spark, tmp_path_factory, built):
    """Segment overlay: upserts must be visible to wildcard queries without
    rewriting the base aggregates; compaction rebuilds them under a
    versioned dir and drops the old one."""
    from letarette_spark.index.incremental import compact_index, upsert_documents

    _i, _p, _o, docs, cfg = built
    root = str(tmp_path_factory.mktemp("pfx_upsert"))
    # upsert batches carry the documented (doc_id, space, title, body,
    # alive) columns — build the base without the optional sha column so
    # base and segment schemas agree
    docs = docs.drop("content_sha256")
    build_index(spark, docs, root, config=cfg, n_build_partitions=2, chunk_size=2)

    rows = docs.collect()
    # update one matching doc (changes its tf), delete another, add a new one
    upd = spark.createDataFrame(
        [
            {
                "doc_id": rows[0]["doc_id"], "rowid": rows[0]["rowid"],
                "space": rows[0]["space"],
                "title": "parser parser parser",
                "body": "parse parsing parsed paragraph particle",
                "alive": True,
            },
            {
                "doc_id": rows[1]["doc_id"], "rowid": rows[1]["rowid"],
                "space": rows[1]["space"], "title": "", "body": "",
                "alive": False,
            },
            {
                "doc_id": "brand-new", "rowid": 10_000_001,
                "space": rows[0]["space"],
                "title": "particular pattern",
                "body": "pattern particle parchment paper",
                "alive": True,
            },
        ]
    )
    upsert_documents(spark, root, upd)
    idx = Index.open(spark, root, cfg)
    assert idx.segments  # still overlaying

    state = {
        r["rowid"]: (r["title"], r["body"]) for r in rows
    }
    state[rows[0]["rowid"]] = (
        "parser parser parser", "parse parsing parsed paragraph particle"
    )
    del state[rows[1]["rowid"]]
    state[10_000_001] = ("particular pattern", "pattern particle parchment paper")
    oracle = Fts5Index.build(
        [(rid, t, b) for rid, (t, b) in sorted(state.items())]
    )

    def check(index):
        s = Searcher(index)
        for q in ("pa*", "par*", "pars*", "patt*", "4*"):
            got, _t = _results(s, q)
            match = compile_match_string(reduce_phrases(parse_query(q)))
            exp = oracle.search(match, limit=10)
            assert [r for r, _ in got] == [r for r, _ in exp], q
            for (_, sg), (_, se) in zip(got, exp):
                assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), q

    check(idx)

    compact_index(spark, root)
    idx2 = Index.open(spark, root, cfg)
    assert not idx2.segments
    assert idx2.meta["prefix_dir"].startswith("prefix.v")
    assert os.path.isdir(os.path.join(root, idx2.meta["prefix_dir"]))
    assert not os.path.isdir(os.path.join(root, "prefix"))  # old dir GC'd
    check(idx2)
    # compacted aggregates serve covered lengths from prefix files only
    files = idx2.prefix_rows("par").inputFiles()
    assert files and all(f"/{idx2.meta['prefix_dir']}/plen=3/" in f for f in files)
