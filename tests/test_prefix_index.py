"""The prefix tail — the term-range copy of the postings that serves every
wildcard query (FTS5's term-range scan; the reference's prefix='2 3 4'
indexes, 1_init.up.sql:96, only speed that scan up).

Wildcard queries must (a) stay rank-identical to live FTS5 at every prefix
length, (b) read ONLY one first-character dir of the tail — never the
postings table or the dictionary — and (c) stay correct through upserts
(query-time segment overlay) and compaction (tail rewrite under a
versioned dir)."""

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

# prefixes of 1 (a digit survives reduction) to 7 characters, wildcards
# inside NEAR / phrase / exclude combinations, and 1-byte letters (reduced
# away -> no hits)
QUERIES = [
    "pa*", "par*", "pars*", "bu*", "er*", "to*", "tok*",
    "4*", "p*", "e*",
    "tokeniz*", "error pa*", '"error pa"*', "err* -buffer", "buffer er*",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pfx_index"))
    corpus = spark.createDataFrame(generate_corpus_local(N_DOCS, seed=11))
    docs = docs_from_corpus(corpus)
    cfg = AnalyzerConfig(mode="porter")
    build_index(spark, docs, root, config=cfg, n_build_partitions=4, chunk_size=2)
    local = docs.select("rowid", "title", "body").collect()
    oracle = Fts5Index.build([(r["rowid"], r["title"], r["body"]) for r in local])
    return Index.open(spark, root, cfg), oracle, docs, cfg


def _results(searcher, q, limit=10):
    df, total, capped = searcher.search_df(q, limit=limit)
    rows = (
        [(r["rowid"], r["score"]) for r in df.collect()] if df is not None else []
    )
    return rows, total


def _assert_fts5(searcher, oracle, query):
    got, total = _results(searcher, query)
    match = compile_match_string(reduce_phrases(parse_query(query)))
    expected = oracle.search(match, limit=10) if match else []
    assert total == (len(oracle.match_rowids(match)) if match else 0), query
    assert [r for r, _ in got] == [r for r, _ in expected], query
    for (_, sg), (_, se) in zip(got, expected):
        assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), query


def _tail_dirs(files):
    """The prefix-tail partition dirs a scan reads."""
    return {f.rsplit("/", 1)[0] for f in files}


@pytest.mark.parametrize("query", QUERIES)
def test_wildcard_rank_identity_and_fallback_agreement(built, query):
    """Live FTS5 rank identity and hit count for every wildcard shape."""
    index, oracle, _docs, _cfg = built
    _assert_fts5(Searcher(index), oracle, query)


def _assert_one_tail_dir(index, p):
    """A wildcard of any length reads ONLY the one first-character dir of
    the prefix tail — no postings files, no dictionary scan."""
    files = index.prefix_rows(p).inputFiles()
    assert files, p
    assert all("/prefix/pb=" in f for f in files), (p, files)
    assert not any("/postings/" in f or "/term_stats" in f for f in files)
    assert len(_tail_dirs(files)) == 1, (p, files)


def test_covered_lengths_scan_only_prefix_files(built):
    """The core scale property: a 2-4-char prefix lookup (the lengths the
    reference indexes with prefix='2 3 4') reads ONLY its one tail dir,
    regardless of how many terms match."""
    index, _oracle, _docs, _cfg = built
    for p in ("pa", "par", "pars", "bu", "err"):
        _assert_one_tail_dir(index, p)


def test_below_minimum_length_prunes_to_one_bucket_dir(built):
    """'4*' (a digit survives phrase reduction): a 1-char prefix is served
    from the same one bucket dir — no dictionary collect, no postings
    scan."""
    index, _oracle, _docs, _cfg = built
    _assert_one_tail_dir(index, "4")


def test_longer_than_max_serves_from_term_range_tail(built):
    """5+-char prefixes read ONLY the one first-char dir of the term-range
    tail; an empty prefix matches every term and reads the whole tail."""
    index, _oracle, _docs, _cfg = built
    for p in ("parse", "tokeniz"):
        _assert_one_tail_dir(index, p)
    n_postings = index.postings().count()
    assert index.prefix_rows("").count() == n_postings


CYRILLIC = (
    "парус пароход парк память пакет правда право привет прибор книга "
    "кошка корабль мир море молоко Парк"
).split()


def test_non_ascii_first_character(spark, tmp_path_factory):
    """The tail dir is picked twice — md5 of the first character in Python
    (prefix_bucket_of) and in Spark (prefix_bucket_expr). For a multibyte
    first character both must name the same dir: a one-rune wildcard
    (2 UTF-8 bytes, so it survives phrase reduction) and a three-rune one
    read one pb= dir and match live FTS5."""
    import random

    rng = random.Random(5)
    rows = [
        (d, " ".join(rng.choices(CYRILLIC, k=2)),
         " ".join(rng.choices(CYRILLIC, k=rng.randint(4, 12))))
        for d in range(1, 41)
    ]
    docs = spark.createDataFrame(
        [
            {"doc_id": f"d{d}", "rowid": d, "space": "m", "title": t,
             "body": b, "alive": True}
            for d, t, b in rows
        ]
    )
    cfg = AnalyzerConfig(mode="porter")
    root = str(tmp_path_factory.mktemp("pfx_cyrillic"))
    build_index(spark, docs, root, config=cfg, n_build_partitions=2,
                chunk_size=2)
    index = Index.open(spark, root, cfg)
    oracle = Fts5Index.build(rows)
    for p in ("п", "пар", "к"):
        files = index.prefix_rows(p).inputFiles()
        assert files and all("/prefix/pb=" in f for f in files), (p, files)
        assert len(_tail_dirs(files)) == 1, (p, files)
    s = Searcher(index)
    for q in ("п*", "пар*", "к*", "мо* -море", "пар* кош*"):
        _assert_fts5(s, oracle, q)


def test_huge_expansion_stays_on_tail(spark, tmp_path_factory):
    """A 5-char prefix with >4096 completions: the tail serves it from one
    partition dir (no dictionary collect, no full postings scan) and the
    result matches a direct computation."""
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
    assert files and all("/prefix/pb=" in f for f in files), files
    assert len(_tail_dirs(files)) == 1
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
    rewriting the base tail; compaction rewrites it under a versioned dir
    and drops the old one."""
    from letarette_spark.index.incremental import compact_index, upsert_documents

    _i, _o, docs, cfg = built
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
            _assert_fts5(s, oracle, q)

    check(idx)

    compact_index(spark, root)
    idx2 = Index.open(spark, root, cfg)
    assert not idx2.segments
    assert idx2.meta["prefix_dir"].startswith("prefix.v")
    assert os.path.isdir(os.path.join(root, idx2.meta["prefix_dir"]))
    assert not os.path.isdir(os.path.join(root, "prefix"))  # old dir GC'd
    check(idx2)
    # the compacted tail serves wildcards from one of its dirs only
    files = idx2.prefix_rows("par").inputFiles()
    assert files and all(f"/{idx2.meta['prefix_dir']}/pb=" in f for f in files)
    assert len(_tail_dirs(files)) == 1
