"""One candidate action for every single-phrase shape (space filters,
excludes, synonyms) and WAND routing for bag-of-words queries.

Results are asserted rank-identical to live FTS5 (space filters
reproduced with rowid-IN restrictions — FTS5 BM25 stats stay table-wide,
exactly like the engine observes phrase df beneath the space filter).
Routes are asserted by spying on the candidate frame or poisoning the path
a query must NOT take."""

from __future__ import annotations

import math
import random
import re

import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.builder import Index, build_index
from letarette_spark.query.executor import Searcher
from tests.fts5_oracle import Fts5Index

WORDS = (
    "engine parser buffer token stream error handler rotor wing panel "
    "cache index shard merge split scan probe"
).split()


def _docs(n=140, seed=13):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        space = "alpha" if i % 3 else "beta"
        title = " ".join(rng.choices(WORDS, k=rng.randint(1, 3)))
        body = " ".join(rng.choices(WORDS, k=rng.randint(10, 40)))
        out.append((i + 1, space, title, body))
    return out


@pytest.fixture(scope="module")
def spaced(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("spaced_index"))
    docs = _docs()
    sdf = spark.createDataFrame(
        [
            {"doc_id": f"d{r}", "rowid": r, "space": sp, "title": t,
             "body": b, "alive": True}
            for r, sp, t, b in docs
        ]
    )
    cfg = AnalyzerConfig(mode="porter")
    build_index(spark, sdf, root, config=cfg, n_build_partitions=2, chunk_size=2)
    idx = Index.open(spark, root, cfg)
    from letarette_spark.index.blocks import build_blocks

    build_blocks(idx, block_size=32)
    oracle = Fts5Index.build([(r, t, b) for r, _sp, t, b in docs])
    space_rowids = {
        sp: sorted(r for r, s, _t, _b in docs if s == sp)
        for sp in ("alpha", "beta")
    }
    return idx, oracle, space_rowids


def _expected_in_rowids(oracle, match, rowids, limit=10):
    """FTS5 top-k restricted to a rowid set — BM25 stats stay table-wide,
    like the engine's index-wide phrase df under a space filter."""
    if not rowids:
        return []
    return oracle.con.execute(
        "SELECT rowid, bm25(fts, 5.0, 1.0) AS r FROM fts WHERE fts MATCH ? "
        f"AND rowid IN ({','.join(map(str, rowids))}) "
        f"ORDER BY r, rowid LIMIT {limit}",
        (match,),
    ).fetchall()


def _got(searcher, q, **kw):
    df, total, capped = searcher.search_df(q, **kw)
    rows = (
        [(r["rowid"], r["score"]) for r in df.collect()] if df is not None else []
    )
    return rows, total, capped


def _assert_scores(got, expected, ctx):
    assert [r for r, _ in got] == [r[0] for r in expected], ctx
    for (_, sg), (_, se) in zip(got, expected):
        assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), ctx


class TestNarrowSinglePhrase:
    def test_space_filtered_rank_identity(self, spaced):
        idx, oracle, space_rowids = spaced
        s = Searcher(idx, stopwords=frozenset(), synonyms={})
        for term, sp in (("rotor", "alpha"), ("parser", "beta"), ("cache", "alpha")):
            got, total, _ = _got(s, term, spaces=[sp])
            all_match = oracle.match_rowids(f'"{term}"')
            in_space = [r for r in all_match if r in set(space_rowids[sp])]
            exp = _expected_in_rowids(oracle, f'"{term}"', in_space)
            _assert_scores(got, exp, (term, sp))
            assert total == len(in_space), (term, sp)

    def test_exclude_rank_identity(self, spaced):
        idx, oracle, _sr = spaced
        s = Searcher(idx, stopwords=frozenset(), synonyms={})
        got, total, _ = _got(s, "rotor -wing")
        exp = oracle.search('"rotor" NOT ("wing")', limit=10)
        _assert_scores(got, exp, "rotor -wing")
        assert total == len(oracle.match_rowids('"rotor" NOT ("wing")'))

    def test_routing_skips_position_machinery(self, spaced, monkeypatch):
        """A space-filtered single-term query reads only the narrow
        (rowid, space, dl, tf0, tf1) posting columns: the pos0/pos1 arrays
        (the bulk of postings I/O) are never scanned."""
        idx, oracle, space_rowids = spaced
        s = Searcher(idx, stopwords=frozenset(), synonyms={})
        frames = []
        real = Searcher._candidates

        def spy(self, *a, **k):
            cand, obs = real(self, *a, **k)
            frames.append(cand)
            return cand, obs

        monkeypatch.setattr(Searcher, "_candidates", spy)
        got, total, _ = _got(s, "rotor", spaces=["alpha"])
        assert got and total > 0
        plan = frames[0]._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scans and not any("pos0" in ln or "pos1" in ln for ln in scans), plan

    def test_capped_space_filtered(self, spaced):
        """cap+1 rowid-order truncation applies within the space filter."""
        idx, oracle, space_rowids = spaced
        s = Searcher(idx, stopwords=frozenset(), synonyms={}, cap=3)
        all_match = oracle.match_rowids('"error"')
        in_space = [r for r in all_match if r in set(space_rowids["alpha"])]
        assert len(in_space) > 4, "fixture must have > cap+1 matches in space"
        got, total, capped = _got(s, "error", spaces=["alpha"])
        assert capped and total == 3
        exp = _expected_in_rowids(oracle, '"error"', in_space[:4])
        _assert_scores(got, exp, "capped error alpha")

    def test_synonym_counts_rank_identity(self, spaced):
        """Colocated-synonym tf is the sum of the alternative terms' hit
        counts (their positions are disjoint). FTS5 twin: rewrite every
        group member to the canonical word in the oracle corpus — tf, df
        and dl then coincide with the query-side posting-list union."""
        idx, _oracle, space_rowids = spaced
        s = Searcher(idx, stopwords=frozenset(), synonyms={"rotor": ["wing"]})
        oracle = Fts5Index.build(
            [
                (r, re.sub(r"\bwing\b", "rotor", t), re.sub(r"\bwing\b", "rotor", b))
                for r, _sp, t, b in _docs()
            ]
        )
        got, total, _ = _got(s, "rotor")
        _assert_scores(got, oracle.search('"rotor"', limit=10), "syn rotor")
        assert total == len(oracle.match_rowids('"rotor"'))
        got, total, _ = _got(s, "rotor", spaces=["beta"])
        in_space = [
            r for r in oracle.match_rowids('"rotor"')
            if r in set(space_rowids["beta"])
        ]
        _assert_scores(
            got, _expected_in_rowids(oracle, '"rotor"', in_space), "syn beta"
        )
        assert total == len(in_space)


class TestWandRouting:
    def test_single_term_is_one_candidate_action(self, spaced, monkeypatch):
        """A single-term query under the cap, blocks current: search_df
        ranks it from its one bounded candidate collect — WAND is not
        consulted (its posting list is <= cap rows anyway)."""
        import letarette_spark.query.wand as wand_mod

        idx, oracle, _sr = spaced
        s = Searcher(idx, stopwords=frozenset(), synonyms={})

        def boom(*a, **k):  # pragma: no cover - failure signal
            raise AssertionError("search_df routed through WAND")

        monkeypatch.setattr(wand_mod, "wand_topk", boom)
        monkeypatch.setattr(wand_mod, "exhaustive_topk", boom)
        got, total, capped = _got(s, "rotor")
        exp = oracle.search('"rotor"', limit=10)
        _assert_scores(got, exp, "one action rotor")
        assert total == len(oracle.match_rowids('"rotor"')) and not capped

    def test_bag_of_words_multi_term_routes_through_wand(
        self, spaced, monkeypatch
    ):
        """search_terms_df multi-term implicit-AND/OR goes through the
        multi-term WAND mode when blocks are current."""
        import letarette_spark.query.executor as ex_mod

        idx, oracle, _sr = spaced
        s = Searcher(idx, stopwords=frozenset(), synonyms={})

        import letarette_spark.query.wand as wand_mod

        def boom(*a, **k):  # pragma: no cover - failure signal
            raise AssertionError("exhaustive path used despite blocks")

        monkeypatch.setattr(wand_mod, "exhaustive_topk", boom)
        for mode, match in (("and", '"rotor" AND "panel"'),
                            ("or", '"rotor" OR "panel"')):
            got = [
                (r["rowid"], r["score"])
                for r in s.search_terms_df(
                    ["rotor", "panel"], mode=mode, limit=10
                ).collect()
            ]
            exp = oracle.search(match, limit=10)
            _assert_scores(got, exp, mode)
