"""Spark job budget of one query: search_df is one bounded candidate
collect, search() adds one point-lookup page fetch.

Jobs are counted with the status tracker under a per-measurement job
group. On a segment-free index search_df starts at most 3 jobs (the
candidate collect; one shuffle-map job when phrases are grouped by rowid)
and a whole search() at most 4; a delta segment adds none, since its
tombstones are literal filters read once per Index handle. Every class is
also checked rank-identical to live FTS5, so the budget never buys a
different answer."""

from __future__ import annotations

import math
import os
import random
import shutil
import string
import uuid
from contextlib import contextmanager

import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.blocks import blocks_df, build_blocks
from letarette_spark.index.builder import Index, build_index
from letarette_spark.index.incremental import compact_index, upsert_documents
from letarette_spark.query.executor import Searcher
from letarette_spark.query.parser import compile_match_string, parse_query, reduce_phrases
from tests.fts5_oracle import Fts5Index

WORDS = (
    "engine parser buffer token stream error handler rotor wing panel "
    "cache index shard merge split scan probe"
).split()
CFG = AnalyzerConfig(mode="porter")

# (class, query, spaces)
CLASSES = [
    ("single", "rotor", None),
    ("near2", "rotor panel", None),
    ("near3", "rotor panel cache", None),
    ("not", "rotor -wing", None),
    ("phrase", '"error handler"', None),
    ("prefix", "pars*", None),
    ("prefix2", "ro*", None),
    ("prefix6", "handl*", None),
    ("nohit", '"zzqq xxvv"', None),
    ("spaced", "rotor", ["alpha"]),
]


def _docs(n=120, seed=7):
    rng = random.Random(seed)
    return [
        (
            i + 1,
            "alpha" if i % 3 else "beta",
            " ".join(rng.choices(WORDS, k=rng.randint(1, 3))),
            " ".join(rng.choices(WORDS, k=rng.randint(10, 30))),
        )
        for i in range(n)
    ]


def _frame(spark, docs):
    return spark.createDataFrame(
        [
            {"doc_id": f"d{r}", "rowid": r, "space": sp, "title": t,
             "body": b, "alive": True}
            for r, sp, t, b in docs
        ]
    )


@contextmanager
def _jobs(spark):
    """Yields a list that receives the number of Spark jobs started in
    the block (this thread's job group)."""
    sc = spark.sparkContext
    group = f"qjobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "query job budget")
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("jobs_idx"))
    docs = _docs()
    build_index(spark, _frame(spark, docs), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    oracle = Fts5Index.build([(r, t, b) for r, _sp, t, b in docs])
    return Index.open(spark, root, CFG), oracle, docs


@pytest.fixture(scope="module")
def segmented(spark, tmp_path_factory):
    """The same corpus plus one delta segment: 10 docs replaced, 15 added."""
    root = str(tmp_path_factory.mktemp("jobs_seg_idx"))
    docs = _docs()
    build_index(spark, _frame(spark, docs), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    fresh = _docs(n=135, seed=8)
    batch = [d for d in fresh if d[0] <= 10 or d[0] > 120]
    upsert_documents(spark, root, _frame(spark, batch), batch_id=1)
    final = {d[0]: d for d in docs}
    final.update({d[0]: d for d in batch})
    oracle = Fts5Index.build([(r, t, b) for r, _sp, t, b in final.values()])
    return root, oracle, list(final.values())


def _expected(oracle, docs, query, spaces, limit=10, cap=None):
    """FTS5 top-k and total over the first cap+1 matches in rowid order
    (all of them without a cap); bm25 stats stay table-wide."""
    match = compile_match_string(reduce_phrases(parse_query(query)))
    rowids = sorted(oracle.match_rowids(match))
    if spaces:
        keep = {r for r, sp, _t, _b in docs if sp in spaces}
        rowids = [r for r in rowids if r in keep]
    if not rowids:
        return [], 0
    total = len(rowids)
    if cap is not None:
        rowids, total = rowids[: cap + 1], min(total, cap)
    rows = oracle.con.execute(
        "SELECT rowid, bm25(fts, 5.0, 1.0) AS r FROM fts WHERE fts MATCH ? "
        f"AND rowid IN ({','.join(map(str, rowids))}) "
        f"ORDER BY r, rowid LIMIT {limit}",
        (match,),
    ).fetchall()
    return rows, total


def _check(got, total, expected, ctx):
    exp_rows, exp_total = expected
    assert total == exp_total, ctx
    assert [r for r, _ in got] == [r for r, _ in exp_rows], ctx
    for (_, sg), (_, se) in zip(got, exp_rows):
        assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), ctx


@pytest.mark.parametrize("cls,query,spaces", CLASSES, ids=[c[0] for c in CLASSES])
def test_search_df_job_budget(spark, clean, cls, query, spaces):
    idx, oracle, docs = clean
    s = Searcher(idx, stopwords=frozenset(), synonyms={})
    s.search_df(query, spaces=spaces)  # warm: file listing, JIT
    with _jobs(spark) as n:
        df, total, _ = s.search_df(query, spaces=spaces)
    assert n[0] <= 3, f"{cls}: search_df ran {n[0]} Spark jobs"
    with _jobs(spark) as n_local:
        got = [(r["rowid"], r["score"]) for r in df.collect()]
    assert n_local[0] == 0, "the returned frame must be a local relation"
    _check(got, total, _expected(oracle, docs, query, spaces), cls)


@pytest.mark.parametrize("cls,query,spaces", CLASSES, ids=[c[0] for c in CLASSES])
def test_search_job_budget(spark, clean, cls, query, spaces):
    idx, oracle, docs = clean
    s = Searcher(idx, stopwords=frozenset(), synonyms={})
    s.search(query, spaces=spaces)
    with _jobs(spark) as n:
        res = s.search(query, spaces=spaces)
    assert n[0] <= 4, f"{cls}: search() ran {n[0]} Spark jobs"
    got = [(h.rowid, h.score) for h in res.hits]
    _check(got, res.total_hits, _expected(oracle, docs, query, spaces), cls)
    assert all(h.doc_id == f"d{h.rowid}" for h in res.hits)
    if cls == "nohit":
        assert res.status == "no_hit" and not res.hits


def test_open_and_read_start_no_job(spark, segmented, tmp_path):
    """Opening an index with a delta segment and building every read the
    query path uses (postings overlay, docs overlay, point lookup, prefix
    rows, the candidate frame, the WAND blocks) starts no Spark job: every
    parquet read carries the writer's schema, and the overlay's tombstones
    are read in the driver."""
    root = str(tmp_path / "idx")
    shutil.copytree(segmented[0], root)
    build_blocks(Index.open(spark, root, CFG))
    with _jobs(spark) as n:
        idx = Index.open(spark, root, CFG)
        assert idx.segments
        idx.postings()
        idx.docs()
        idx.docs_for_rowids([3, 4, 125])
        idx.prefix_rows("rot")
        blocks_df(idx)
        s = Searcher(idx, stopwords=frozenset(), synonyms={})
        s._candidates([[["rotor"]], [["panel"]]], [False, False], [], None)
    assert n[0] == 0, f"{n[0]} Spark jobs before the first action"


@pytest.mark.parametrize("cls,query,spaces", CLASSES, ids=[c[0] for c in CLASSES])
def test_segmented_search(spark, segmented, monkeypatch, cls, query, spaces):
    """Over a delta segment a search() runs at most 3 jobs, like one over
    a clean index (up to 6 with a tombstone broadcast per overlay); the
    answer stays FTS5-identical and the page comes from the point lookup,
    never from a docs() overlay scan."""
    root, oracle, docs = segmented
    idx = Index.open(spark, root, CFG)
    s = Searcher(idx, stopwords=frozenset(), synonyms={})
    s.search(query, spaces=spaces)
    calls = []
    real = Index.docs
    monkeypatch.setattr(Index, "docs", lambda self: calls.append(1) or real(self))
    with _jobs(spark) as n:
        res = s.search(query, spaces=spaces)
    assert not calls, "the page fetch must not scan the docs() overlay"
    assert n[0] <= 3, f"{cls}: segmented search() ran {n[0]} Spark jobs"
    got = [(h.rowid, h.score) for h in res.hits]
    _check(got, res.total_hits, _expected(oracle, docs, query, spaces), cls)


@pytest.mark.parametrize("cls,query,spaces", CLASSES, ids=[c[0] for c in CLASSES])
def test_capped_df_counts_every_match(spark, clean, segmented, cls, query, spaces):
    """With a small cap the candidate collect stops at cap+1 rows, but
    each phrase's df still counts every match in the index (FTS5's
    table-wide stats), on the clean and on the segmented index."""
    idx, oracle, docs = clean
    seg_root, seg_oracle, seg_docs = segmented
    for index, orc, dd in (
        (idx, oracle, docs),
        (Index.open(spark, seg_root, CFG), seg_oracle, seg_docs),
    ):
        s = Searcher(index, stopwords=frozenset(), synonyms={}, cap=3)
        df, total, capped = s.search_df(query, spaces=spaces)
        got = [(r["rowid"], r["score"]) for r in df.collect()]
        expected = _expected(orc, dd, query, spaces, cap=3)
        _check(got, total, expected, cls)
        assert capped == (len(expected[0]) > 3), cls


# A vocabulary wide enough that every tree a read lists has more dirs than
# Spark's default parallel-listing threshold (32): first characters from
# ASCII letters, digits and Cyrillic fill > 32 prefix-tail pb= dirs, and
# the distinct terms fill > 32 postings bucket= dirs in the base and in
# the delta segment.
WIDE_WORDS = [
    c + suffix
    for c in string.ascii_lowercase + string.digits + "абвгдежзиклмнопрстуф"
    for suffix in ("rotor", "panel")
]


def _wide_docs(ids, seed):
    rng = random.Random(seed)
    return [
        (i, "alpha", " ".join(rng.choices(WIDE_WORDS, k=3)),
         " ".join(rng.choices(WIDE_WORDS, k=25)))
        for i in ids
    ]


def _dirs(path, key):
    return [d for d in os.listdir(path) if d.startswith(key + "=")]


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """A base index plus one delta segment whose postings, prefix tail and
    segment postings each hold more than 32 partition dirs."""
    root = str(tmp_path_factory.mktemp("jobs_wide_idx"))
    build_index(spark, _frame(spark, _wide_docs(range(1, 61), 1)), root,
                config=CFG, n_build_partitions=1, chunk_size=1)
    upsert_documents(spark, root, _frame(spark, _wide_docs(range(50, 71), 2)))
    idx = Index.open(spark, root, CFG)
    (seg,) = idx.segments
    assert len(_dirs(os.path.join(idx.postings_base_dir(), "chunk=0"), "bucket")) > 32
    assert len(_dirs(idx.prefix_base_dir(), "pb")) > 32
    assert len(_dirs(os.path.join(root, seg["postings"]), "bucket")) > 32
    return root


def test_wide_index_reads_start_no_listing_job(spark, wide):
    """Trees with more sub-dirs than Spark's parallel-listing threshold
    would each cost a 64-task listing job per read; the engine conf lists
    the index's dir levels serially, so opening the index and building
    every read the query path uses still starts no Spark job."""
    with _jobs(spark) as n:
        idx = Index.open(spark, wide, CFG)
        idx.postings()
        idx.term_stats()
        idx.docs()
        idx.docs_for_rowids([3, 55, 70])
        for prefix in ("a", "9p", "жr"):
            idx.prefix_rows(prefix)
        s = Searcher(idx, stopwords=frozenset(), synonyms={})
        s._candidates([[["arotor"]], [["bpanel"]]], [False, False], [], None)
    assert n[0] == 0, f"{n[0]} Spark jobs before the first action"


BUILD_JOBS = 12
UPSERT_JOBS = 16
COMPACT_JOBS = 11
SEGMENTED_WILDCARD_JOBS = 3


def test_wide_index_build_job_budget(spark, tmp_path):
    """Spark jobs of the wide fixture's 60-doc, one-chunk build: 12, as
    measured with the chunk's alive count observed on its docs write
    (14 with a finalize job re-reading the docs tree to count it)."""
    frame = _frame(spark, _wide_docs(range(1, 61), 1))
    with _jobs(spark) as n:
        res = build_index(spark, frame, str(tmp_path / "idx"), config=CFG,
                          n_build_partitions=1, chunk_size=1)
    assert res.ndocs == 60
    assert n[0] <= BUILD_JOBS, f"build ran {n[0]} Spark jobs"


@pytest.mark.parametrize("query", ["aro*", "bpanel aro*"])
def test_segmented_wildcard_job_budget(spark, wide, query):
    """A wildcard over a delta segment reads the prefix tail through the
    one segment overlay every read uses, whose tombstones are literal
    filters: search() runs at most 3 jobs (5 with a tombstone broadcast per
    overlay; 6 for `aro*` and 7 for `bpanel aro*` with a second,
    distinct-collected tombstone set), FTS5-identical."""
    idx = Index.open(spark, wide, CFG)
    s = Searcher(idx, stopwords=frozenset(), synonyms={})
    s.search(query)
    with _jobs(spark) as n:
        res = s.search(query)
    assert n[0] <= SEGMENTED_WILDCARD_JOBS, f"{query}: ran {n[0]} Spark jobs"
    final = {d[0]: d for d in _wide_docs(range(1, 61), 1)}
    final.update({d[0]: d for d in _wide_docs(range(50, 71), 2)})
    oracle = Fts5Index.build([(r, t, b) for r, _sp, t, b in final.values()])
    got = [(h.rowid, h.score) for h in res.hits]
    _check(got, res.total_hits,
           _expected(oracle, list(final.values()), query, None), query)


def test_wide_index_write_job_budgets(spark, wide, tmp_path):
    """Spark jobs of one 20-doc upsert (10 replaced, 5 new, 5 deleted) and
    of the compaction after it, on a copy of the wide index: 16 for
    upsert_documents and 11 for compact_index, as measured with serial
    listing, one key collect per upsert, totals observed on the writes and
    the overlay's tombstones as literal filters (18 and 15 with a
    tombstone broadcast per overlay read; 25 and 23 also with parallel
    listing jobs, a distinct-collect, a count, a second distinct-collect
    and a term_stats read-back)."""
    root = str(tmp_path / "idx")
    shutil.copytree(wide, root)
    batch = _frame(spark, _wide_docs(list(range(40, 50)) + list(range(71, 76)), 3))
    gone = spark.createDataFrame(
        [{"doc_id": f"d{r}", "rowid": r, "space": "alpha", "title": None,
          "body": None, "alive": False} for r in range(1, 6)],
        batch.schema,
    )
    batch = batch.unionByName(gone)
    batch.count()
    with _jobs(spark) as n_upsert:
        upsert_documents(spark, root, batch)
    with _jobs(spark) as n_compact:
        compact_index(spark, root)
    assert n_upsert[0] <= UPSERT_JOBS, f"upsert ran {n_upsert[0]} Spark jobs"
    assert n_compact[0] <= COMPACT_JOBS, f"compaction ran {n_compact[0]} Spark jobs"


def test_build_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every job build_index, an upsert and compact_index start, their
    pool threads' included (the build's chunk writes, the term-table
    writes of the build's finalize and of compaction), carries the job
    group set around the calls."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    group = f"build-{uuid.uuid4().hex}"
    root = str(tmp_path / "idx")
    sc.setJobGroup(group, "build job group")
    try:
        build_index(spark, _frame(spark, _docs(n=40)), root,
                    config=CFG, n_build_partitions=2, chunk_size=1)
        upsert_documents(spark, root, _frame(spark, _docs(n=45, seed=9)[35:]))
        compact_index(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup(group)) > 2
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
