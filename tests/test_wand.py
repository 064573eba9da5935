"""Varbyte codec roundtrips + block-max WAND exactness.

WAND is a pruning optimization that must remain rank-identical
(SURVEY.md §4.2: 'a pruning optimization that must remain rank-identical
for top-k'). The oracle here is exhaustive scoring over the same index."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.blocks import build_blocks, has_blocks
from letarette_spark.index.builder import Index, build_index
from letarette_spark.index.varbyte import (
    decode_ints,
    decode_rowids,
    encode_ints,
    encode_rowids,
)
from letarette_spark.query.wand import wand_topk
from letarette_spark.sources.corpus import docs_from_corpus, generate_corpus_local


class TestVarbyte:
    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=50))
    def test_ints_roundtrip(self, vals):
        arr = np.array(vals, dtype=np.int64)
        assert decode_ints(encode_ints(arr)).tolist() == vals

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=1,
            max_size=50,
            unique=True,
        )
    )
    def test_rowids_roundtrip(self, vals):
        arr = np.array(sorted(vals), dtype=np.int64)
        assert decode_rowids(encode_rowids(arr)).tolist() == sorted(vals)

    def test_empty(self):
        assert decode_ints(encode_ints(np.array([], dtype=np.int64))).size == 0


@pytest.fixture(scope="module")
def blocked_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wand_index"))
    corpus = spark.createDataFrame(generate_corpus_local(400, seed=11))
    cfg = AnalyzerConfig(mode="porter")
    build_index(spark, docs_from_corpus(corpus), root, config=cfg,
                n_build_partitions=4, chunk_size=4)
    idx = Index.open(spark, root, cfg)
    build_blocks(idx, block_size=32)  # small blocks -> pruning actually kicks in
    assert has_blocks(idx)
    return idx


def _exhaustive(idx, terms, k, mode):
    """Reference scorer: full scan over row postings."""
    import pyspark.sql.functions as F

    ndocs = int(idx.meta["ndocs"])
    avgdl = float(idx.meta["sum_dl"]) / ndocs
    stats = {
        r["term"]: int(r["df"])
        for r in idx.term_stats().filter(F.col("term").isin(terms)).collect()
    }
    idf = {}
    for t in set(terms):
        n = stats.get(t, 0)
        if n == 0:
            if mode == "and":
                return []
            continue
        v = math.log((ndocs - n + 0.5) / (n + 0.5))
        idf[t] = v if v > 0.0 else 1e-6
    if not idf:
        return []
    rows = (
        idx.postings()
        .filter(F.col("term").isin(sorted(idf)))
        .select("term", "rowid", "tf0", "tf1", "dl")
        .collect()
    )
    scores: dict[int, float] = {}
    counts: dict[int, int] = {}
    for r in rows:
        tf = 5.0 * r["tf0"] + 1.0 * r["tf1"]
        c = idf[r["term"]] * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * r["dl"] / avgdl))
        scores[r["rowid"]] = scores.get(r["rowid"], 0.0) + c
        counts[r["rowid"]] = counts.get(r["rowid"], 0) + 1
    if mode == "and":
        scores = {d: s for d, s in scores.items() if counts[d] == len(idf)}
    ranked = sorted(((-s, d) for d, s in scores.items()))
    return ranked[:k]


QUERY_SETS = [
    (["parser"], "or"),
    (["error"], "or"),
    (["zephyr"], "or"),               # rare term
    (["error", "handler"], "or"),
    (["error", "handler"], "and"),
    (["func", "main", "return"], "or"),
    (["func", "main", "return"], "and"),
    (["parser", "nonexistentxyz"], "or"),
    (["parser", "nonexistentxyz"], "and"),
    (["42"], "or"),
]


@pytest.mark.parametrize("terms,mode", QUERY_SETS, ids=[f"{'+'.join(t)}:{m}" for t, m in QUERY_SETS])
def test_wand_matches_exhaustive(blocked_index, terms, mode):
    k = 10
    expected = _exhaustive(blocked_index, terms, k, mode)
    got = [
        (r["score"], r["rowid"])
        for r in wand_topk(blocked_index, terms, k=k, mode=mode).collect()
    ]
    assert [d for _s, d in got] == [d for _s, d in expected]
    for (sg, _), (se, _) in zip(got, expected):
        assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)


def test_wand_prunes_blocks(blocked_index):
    """The pruning must actually skip work: selected blocks in round 2 for a
    selective query should be well under the total."""
    import pyspark.sql.functions as F

    from letarette_spark.index.blocks import blocks_df

    total = blocks_df(blocked_index).filter(F.col("term") == "error").count()
    # with k=1 and block_size=32, only a handful of 'error' blocks can matter
    got = wand_topk(blocked_index, ["error"], k=1).collect()
    assert total > 3 and len(got) == 1


def test_searcher_bag_of_words_rank_identity(blocked_index, monkeypatch):
    """Searcher.search_terms_df routes 2+-term bag-of-words top-k through
    WAND and must be rank-identical to live FTS5 (OR and implicit-AND);
    the exhaustive no-blocks fallback must be identical too."""
    from letarette_spark.query.executor import Searcher
    from tests.fts5_oracle import Fts5Index
    import letarette_spark.query.wand as wand_mod

    docs = blocked_index.docs().select("rowid", "title", "body").collect()
    oracle = Fts5Index.build([(r["rowid"], r["title"], r["body"]) for r in docs])
    s = Searcher(blocked_index, stopwords=frozenset(), synonyms={})

    calls = {"wand": 0}
    real = wand_mod.wand_topk

    def counting(*a, **k):
        calls["wand"] += 1
        return real(*a, **k)

    monkeypatch.setattr(wand_mod, "wand_topk", counting)

    cases = [
        (["error", "handler"], "or", '"error" OR "handler"'),
        (["error", "handler"], "and", '"error" "handler"'),
        (["func", "main", "return"], "or", '"func" OR "main" OR "return"'),
        (["func", "main", "return"], "and", '"func" "main" "return"'),
    ]

    def check():
        for words, mode, match in cases:
            expected = oracle.search(match, limit=10)
            got = [
                (r["rowid"], r["score"])
                for r in s.search_terms_df(words, mode=mode, limit=10).collect()
            ]
            assert [r for r, _ in got] == [r for r, _ in expected], (words, mode)
            for (_, sg), (_, se) in zip(got, expected):
                assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)

    check()
    assert calls["wand"] == len(cases)  # the fast path actually served them

    import letarette_spark.index.blocks as blocks_mod

    monkeypatch.setattr(blocks_mod, "has_blocks", lambda idx: False)
    check()
    assert calls["wand"] == len(cases)  # fallback did not touch WAND


def test_bag_of_words_scores_every_token_of_a_word(blocked_index, monkeypatch):
    """A word that analyzes to several tokens contributes every token:
    ["error-handler"] ranks exactly like ["error", "handler"] and like
    FTS5 '"error" OR "handler"', on the WAND and the exhaustive route."""
    from letarette_spark.query.executor import Searcher
    from tests.fts5_oracle import Fts5Index
    import letarette_spark.index.blocks as blocks_mod
    import letarette_spark.query.wand as wand_mod

    docs = blocked_index.docs().select("rowid", "title", "body").collect()
    oracle = Fts5Index.build([(r["rowid"], r["title"], r["body"]) for r in docs])
    expected = oracle.search('"error" OR "handler"', limit=10)
    s = Searcher(blocked_index, stopwords=frozenset(), synonyms={})

    def ranked(words):
        return [
            (r["rowid"], r["score"])
            for r in s.search_terms_df(words, limit=10).collect()
        ]

    def boom(*a, **k):  # pragma: no cover - failure signal
        raise AssertionError("wrong bag-of-words route")

    for route in ("wand", "exhaustive"):
        with monkeypatch.context() as m:
            if route == "wand":
                m.setattr(wand_mod, "exhaustive_topk", boom)
            else:
                m.setattr(blocks_mod, "has_blocks", lambda idx: False)
                m.setattr(wand_mod, "wand_topk", boom)
            got = ranked(["error-handler"])
            assert got == ranked(["error", "handler"]), route
        assert [r for r, _ in got] == [r for r, _ in expected], route
        for (_, sg), (_, se) in zip(got, expected):
            assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)


def test_query_timeout_budget(blocked_index):
    """Reference behavior: a blown per-query budget (4s default,
    config.go:69) maps to SearchStatusTimeout with an empty result."""
    from letarette_spark.query.executor import Searcher

    s = Searcher(blocked_index, timeout=0.01, stopwords=frozenset(), synonyms={})
    res = s.search("error handler parser", limit=10)
    assert res.status == "timeout" and res.hits == [] and res.total_hits == 0

    s2 = Searcher(blocked_index, timeout=120.0, stopwords=frozenset(), synonyms={})
    res2 = s2.search("error handler parser", limit=10)
    assert res2.status == "index_hit" and res2.hits
