"""Batch retrieval (query/batch.py): N queries in one distributed job.

Contracts tested:
* single-phrase queries (incl. excludes) are rank- AND score-identical to
  the interactive Searcher path at 1e-9 — the same identity the engine
  holds against live FTS5;
* multi-phrase and/or modes match an independent brute-force BM25
  computed in plain Python from the collected postings;
* phrase df stays exact through delta-segment upserts (in-plan window,
  not term_stats);
* unsupported shapes (wildcards, quoted phrases) raise or skip;
* DataFrame-input (distributed analysis) equals list-input results;
* the physical plan reads the narrow posting columns only (no position
  arrays) and broadcasts the query-terms side.
"""

from __future__ import annotations

import math

import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.builder import Index, build_index
from letarette_spark.query.batch import UnsupportedBatchQuery, search_batch
from letarette_spark.query.executor import B, K1, Searcher, analyze_query
from letarette_spark.sources.corpus import docs_from_corpus, generate_corpus_local

N_DOCS = 150
CFG = AnalyzerConfig(mode="porter")

SINGLE_PHRASE_QUERIES = [
    "parser",
    "zephyr",
    "42",
    "buffer -error",
    "error -handler -buffer",
    "nonexistenttermxyz",
]
MULTI_PHRASE_QUERIES = [
    "error handler",
    "parser buffer token",
    "query search -",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bindex"))
    corpus = spark.createDataFrame(generate_corpus_local(N_DOCS, seed=7))
    docs = docs_from_corpus(corpus)
    build_index(spark, docs, root, config=CFG, n_build_partitions=4, chunk_size=2)
    return Index.open(spark, root, CFG)


def _by_query(df):
    out: dict[str, list] = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["rowid"], r["space"], r["score"])
        )
    return out


def test_single_phrase_identity(built):
    s = Searcher(built)
    got = _by_query(search_batch(s, SINGLE_PHRASE_QUERIES, limit=10))
    for i, q in enumerate(SINGLE_PHRASE_QUERIES):
        df, _t, _c = s.search_df(q, limit=10)
        want = (
            [(r["rowid"], r["score"]) for r in df.collect()]
            if df is not None else []
        )
        rows = got.get(str(i), [])
        assert [r for _, r, _, _ in rows] == [r for r, _ in want], q
        for (_, _, _, sg), (_, sw) in zip(rows, want):
            assert math.isclose(sg, sw, rel_tol=1e-9, abs_tol=1e-12), q
        assert [k for k, *_ in rows] == list(range(1, len(rows) + 1)), q


def _brute(index, searcher, query, mode, limit=10):
    """Independent BM25 from collected postings (pure Python)."""
    inc, exc = analyze_query(
        searcher.analyzer, searcher.stopwords, searcher.synonyms, query
    )
    inc = [alts[0] for _p, alts in inc]
    exc = [alts[0] for alts, _wildcard in exc]
    all_terms = sorted({t for ph in inc + exc for t in ph})
    rows = index.postings_for_terms(all_terms).select(
        "term", "rowid", "space", "dl", "tf0", "tf1"
    ).collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)

    def phrase_docs(terms):
        docs: dict[int, list] = {}
        for t in terms:
            for r in by_term.get(t, []):
                tfw = r["tf0"] * searcher.w_title + r["tf1"] * searcher.w_body
                d = docs.setdefault(r["rowid"], [0.0, r["space"], r["dl"]])
                d[0] += tfw
        return docs

    inc_docs = [phrase_docs(ph) for ph in inc]
    excluded = set()
    for ph in exc:
        excluded |= set(phrase_docs(ph))

    if mode == "and":
        keys = set(inc_docs[0]) if inc_docs else set()
        for d in inc_docs[1:]:
            keys &= set(d)
    else:
        keys = set().union(*[set(d) for d in inc_docs]) if inc_docs else set()
    keys -= excluded

    scored = []
    for rowid in keys:
        score = 0.0
        space = dl = None
        for d in inc_docs:
            if rowid not in d:
                continue
            tfw, space, dl = d[rowid]
            df_p = float(len(d))
            raw = math.log((searcher.ndocs - df_p + 0.5) / (df_p + 0.5))
            idf = 1e-6 if raw <= 0.0 else raw
            score += idf * tfw * (K1 + 1.0) / (
                tfw + K1 * (1.0 - B + B * dl / searcher.avgdl)
            )
        scored.append((-score, rowid, space))
    scored.sort(key=lambda x: (x[0], x[1]))
    return scored[:limit]


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("query", MULTI_PHRASE_QUERIES)
def test_multi_phrase_vs_brute_force(built, query, mode):
    s = Searcher(built)
    got = _by_query(search_batch(s, [query], limit=10, mode=mode)).get("0", [])
    want = _brute(built, s, query, mode)
    assert [(r, sp) for _, r, sp, _ in got] == [(r, sp) for _, r, sp in want]
    for (_, _, _, sg), (sw, _, _) in zip(got, want):
        assert math.isclose(sg, sw, rel_tol=1e-9, abs_tol=1e-12)


def test_unsupported_raises_and_skips(built):
    s = Searcher(built)
    with pytest.raises(UnsupportedBatchQuery):
        search_batch(s, ['"error handler"'], limit=5)
    with pytest.raises(UnsupportedBatchQuery):
        search_batch(s, ["tokeniz*"], limit=5)
    got = _by_query(
        search_batch(
            s, ["parser", "tokeniz*", '"error handler"'],
            limit=5, on_unsupported="skip",
        )
    )
    assert "0" in got and "1" not in got and "2" not in got


def test_dataframe_input_matches_list(built, spark):
    s = Searcher(built)
    qs = ["parser", "error handler", "buffer -error"]
    want = _by_query(search_batch(s, qs, limit=10))
    qdf = spark.createDataFrame(
        [(str(i), q) for i, q in enumerate(qs)], "query_id string, query string"
    )
    got = _by_query(search_batch(s, qdf, limit=10))
    assert got == want


def test_spaces_filter(built):
    s = Searcher(built)
    all_rows = _by_query(search_batch(s, ["parser"], limit=50)).get("0", [])
    go_rows = _by_query(
        search_batch(s, ["parser"], limit=50, spaces=["go"])
    ).get("0", [])
    assert go_rows and all(sp == "go" for _, _, sp, _ in go_rows)
    assert any(sp != "go" for _, _, sp, _ in all_rows)
    # df (idf) is index-wide: the filtered scores must be a subsequence of
    # the unfiltered ones, not rescored
    unf = {r: sc for _, r, _, sc in all_rows}
    for _, r, _, sc in go_rows:
        if r in unf:
            assert math.isclose(sc, unf[r], rel_tol=1e-12)


def test_exact_after_upsert(built, spark, tmp_path_factory):
    """Phrase df comes from the live overlaid postings (in-plan window),
    so batch results track upserts exactly — identical to the engine."""
    from letarette_spark.index.incremental import upsert_documents

    root = str(tmp_path_factory.mktemp("bidx_up"))
    base = spark.createDataFrame(
        [
            {"doc_id": f"d{r}", "rowid": r, "space": "main", "title": t,
             "body": b, "alive": True}
            for r, t, b in [
                (1, "alpha", "quick brown fox jumps"),
                (2, "beta", "quick blue hare sleeps"),
                (3, "gamma", "slow green turtle walks"),
            ]
        ]
    )
    build_index(spark, base, root, config=CFG, n_build_partitions=2, chunk_size=2)
    upd = spark.createDataFrame(
        [
            {"doc_id": "d3", "rowid": 3, "space": "main", "title": "gamma",
             "body": "quick green turtle runs", "alive": True},
            {"doc_id": "d1", "rowid": 1, "space": "main", "title": "alpha",
             "body": "", "alive": False},
        ]
    )
    idx = upsert_documents(spark, root, upd, batch_id=1)
    s = Searcher(idx)
    got = _by_query(search_batch(s, ["quick"], limit=10)).get("0", [])
    df, _t, _c = s.search_df("quick", limit=10)
    want = [(r["rowid"], r["score"]) for r in df.collect()]
    assert [r for _, r, _, _ in got] == [r for r, _ in want]
    for (_, _, _, sg), (_, sw) in zip(got, want):
        assert math.isclose(sg, sw, rel_tol=1e-9, abs_tol=1e-12)
    assert 1 not in {r for _, r, _, _ in got}  # tombstoned doc gone


def test_plan_narrow_scan_and_broadcast(built):
    s = Searcher(built)
    out = search_batch(s, ["parser buffer"], limit=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "pos0" not in plan and "pos1" not in plan, (
        "batch scan must never read the position arrays"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
        "query-terms side must broadcast into the postings scan"
    )
