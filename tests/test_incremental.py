"""Incremental upsert / delete / compaction / streaming ingest.

The strongest check: after a sequence of upserts, the engine must be
rank-identical to a fresh FTS5 index built from the FINAL corpus state —
incremental maintenance must be observationally equivalent to a rebuild
(the reference gets this from SQLite triggers; we get it from delta
segments + tombstones + stats refresh)."""

from __future__ import annotations

import json
import math
import os
import shutil

import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.builder import (
    LAYOUT_VERSION, Index, build_index,
)
from letarette_spark.index.incremental import compact_index, upsert_documents
from letarette_spark.query.executor import Searcher
from tests.fts5_oracle import Fts5Index

CFG = AnalyzerConfig(mode="porter")


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [
            {"doc_id": f"d{r}", "rowid": r, "space": "main", "title": t,
             "body": b, "alive": a}
            for r, t, b, a in rows
        ]
    )


BASE = [
    (1, "alpha one", "the quick brown fox jumps over the lazy dog", True),
    (2, "beta two", "pack my box with five dozen liquor jugs", True),
    (3, "gamma three", "sphinx of black quartz judge my vow", True),
    (4, "delta four", "quick zephyrs blow vexing daft jim", True),
]

UPDATES_1 = [
    (2, "beta two v2", "a quick movement of the enemy will jeopardize gold", True),
    (5, "epsilon five", "the five boxing wizards jump quickly", True),
]

UPDATES_2 = [
    (3, "gamma three", "", False),                      # tombstone
    (1, "alpha one v2", "jinxed wizards pluck ivy from the big quilt quickly", True),
]

FINAL = [
    (1, "alpha one v2", "jinxed wizards pluck ivy from the big quilt quickly"),
    (2, "beta two v2", "a quick movement of the enemy will jeopardize gold"),
    (4, "delta four", "quick zephyrs blow vexing daft jim"),
    (5, "epsilon five", "the five boxing wizards jump quickly"),
]

QUERIES = ["quick", "wizard*", "five", "quick jump", '"my box"', "quartz", "the -gold"]


def _assert_matches_final_oracle(searcher, oracle, queries=QUERIES):
    from letarette_spark.query.parser import (
        compile_match_string, parse_query, reduce_phrases,
    )

    for q in queries:
        match = compile_match_string(reduce_phrases(parse_query(q)))
        expected = oracle.search(match, limit=10) if match else []
        df, _t, _c = searcher.search_df(q, limit=10)
        got = [(r["rowid"], r["score"]) for r in df.collect()] if df is not None else []
        assert [r for r, _ in got] == [r for r, _ in expected], (q, got, expected)
        for (_, sg), (_, se) in zip(got, expected):
            assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), (q, sg, se)


@pytest.fixture(scope="module")
def upserted(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inc_index"))
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    upsert_documents(spark, root, _docs_df(spark, UPDATES_1), batch_id=1)
    upsert_documents(spark, root, _docs_df(spark, UPDATES_2), batch_id=2)
    oracle = Fts5Index.build(FINAL)
    return root, oracle


def test_upserts_match_fresh_oracle(spark, upserted):
    root, oracle = upserted
    idx = Index.open(spark, root, CFG)
    assert len(idx.segments) == 2
    assert idx.meta["ndocs"] == 4
    _assert_matches_final_oracle(Searcher(idx), oracle)


def test_batch_replay_is_noop(spark, upserted):
    root, oracle = upserted
    idx = upsert_documents(spark, root, _docs_df(spark, UPDATES_2), batch_id=2)
    assert len(idx.segments) == 2  # replayed batch id -> unchanged
    _assert_matches_final_oracle(Searcher(idx), oracle)


def test_compaction_preserves_results(spark, upserted):
    root, oracle = upserted
    idx = compact_index(spark, root)
    assert idx.segments == []
    assert idx.meta["ndocs"] == 4
    _assert_matches_final_oracle(Searcher(idx), oracle)
    # tombstoned doc really gone from storage, not just filtered
    assert idx.docs().filter("rowid = 3 AND alive").count() == 0


def test_streaming_ingest(spark, tmp_path):
    import pandas as pd

    from letarette_spark.streaming.indexer import stream_document_updates

    root = str(tmp_path / "stream_index")
    # no explicit rowid: both builder and upsert derive xxhash64(doc_id),
    # the identity contract that makes streamed tombstones land
    base = _docs_df(spark, BASE).drop("rowid")
    build_index(spark, base, root, config=CFG, n_build_partitions=2, chunk_size=2)

    src = tmp_path / "updates"
    src.mkdir()
    pdf = pd.DataFrame(
        [
            {"doc_id": "d5", "space": "main", "title": "epsilon five",
             "body": "the five boxing wizards jump quickly", "alive": True},
            {"doc_id": "d3", "space": "main", "title": "gamma three",
             "body": "", "alive": False},
        ]
    )
    pdf["updated_at"] = pd.Series([pd.NaT, pd.NaT], dtype="datetime64[us]")
    pdf.to_parquet(src / "batch1.parquet")

    q = stream_document_updates(
        spark, root, str(src), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    idx = Index.open(spark, root, CFG)
    s = Searcher(idx)
    _df, total, _ = s.search_df("wizard*")
    assert total == 1
    _df, total, _ = s.search_df("sphinx")
    assert total == 0  # d3 tombstoned
    assert idx.meta["ndocs"] == 4


def test_upsert_invalidates_wand_blocks(spark, tmp_path):
    """Blocks built before an upsert reflect the old snapshot; the upsert
    must invalidate them or the WAND fast path would serve deleted docs."""
    from letarette_spark.index.blocks import build_blocks, has_blocks

    root = str(tmp_path / "blk_inval")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    idx = Index.open(spark, root, CFG)
    build_blocks(idx, block_size=16)
    assert has_blocks(idx)

    idx = upsert_documents(spark, root, _docs_df(spark, UPDATES_2), batch_id=9)
    assert not has_blocks(idx)
    s = Searcher(idx)
    _df, total, _ = s.search_df("sphinx")   # d3 tombstoned by UPDATES_2
    assert total == 0


def test_housekeeping_rebuilds_wand_blocks(spark, tmp_path, monkeypatch):
    """A churning index must regain the block-max fast path: upsert drops
    the stale blocks, housekeeping compacts and REBUILDS them, and a
    bag-of-words query routes through wand_topk again with rank-identical
    results (round-2 verdict task #3). search_df over the same index stays
    on its one bounded candidate action, equally rank-identical."""
    from letarette_spark.index.blocks import build_blocks, has_blocks
    from letarette_spark.query import wand as wand_mod
    from letarette_spark.streaming.indexer import run_housekeeping

    root = str(tmp_path / "blk_rebuild")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    build_blocks(Index.open(spark, root, CFG), block_size=16)

    upsert_documents(spark, root, _docs_df(spark, UPDATES_1), batch_id=1)
    upsert_documents(spark, root, _docs_df(spark, UPDATES_2), batch_id=2)
    idx = Index.open(spark, root, CFG)
    assert not has_blocks(idx) and idx.segments

    did = run_housekeeping(spark, root, compact_segments_over=0)
    assert did["compacted"] and did["blocks"]
    idx = Index.open(spark, root, CFG)
    assert has_blocks(idx) and not idx.segments

    hits = []
    real = wand_mod.wand_topk
    monkeypatch.setattr(
        wand_mod, "wand_topk",
        lambda *a, **k: hits.append(1) or real(*a, **k),
    )
    # housekeeping refreshed auto-stopwords over the tiny corpus; pin an
    # empty set so the FTS5 oracle comparison stays apples-to-apples
    s = Searcher(idx, stopwords=frozenset(), synonyms={})
    expected = Fts5Index.build(FINAL).search('"quick"', limit=10)
    df, total, _ = s.search_df("quick", limit=10)
    assert not hits, "search_df must not route through WAND"
    got_df = [(r["rowid"], r["score"]) for r in df.collect()]
    got_wand = [
        (r["rowid"], r["score"])
        for r in s.search_terms_df(["quick"], limit=10).collect()
    ]
    assert hits, "bag-of-words query must route through the WAND fast path"
    for got in (got_df, got_wand):
        assert [r for r, _ in got] == [r for r, _ in expected]
        for (_, sg), (_, se) in zip(got, expected):
            assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)


def test_maintain_runs_idle_cadence(spark, tmp_path):
    """maintain() is the scheduler glue for the reference's 5-min idle
    housekeeping cadence (indexer.go:479-487): ticks fire every
    idle_seconds on the injected clock, busy ticks are skipped, idle
    ticks run run_housekeeping, and a compacting tick clears registered
    result caches."""
    from letarette_spark.query.cache import ResultCache
    from letarette_spark.streaming.indexer import maintain

    root = str(tmp_path / "maintain_idx")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    upsert_documents(spark, root, _docs_df(spark, UPDATES_1), batch_id=1)

    now = [0.0]
    slept = []

    def clock():
        return now[0]

    def sleep(s):
        slept.append(s)
        now[0] += s

    busy = [True, False, False]  # first tick busy, then idle

    cache = ResultCache()
    cache.put(("sentinel",), "value", {"d1"})
    reports = maintain(
        spark, root, idle_seconds=300.0, max_cycles=3,
        is_idle=lambda: not (busy.pop(0) if busy else False),
        clock=clock, sleep=sleep, caches=[cache],
        compact_segments_over=0,
    )
    assert reports[0] == {"skipped": "busy"}
    assert reports[1]["compacted"] and reports[1]["stopwords"]
    assert not reports[2]["compacted"]  # already compacted
    # the cadence actually waited between ticks
    assert slept and all(s <= 300.0 for s in slept)
    # compaction cleared the registered cache
    assert cache.get(("sentinel",)) is None
    idx = Index.open(spark, root, CFG)
    assert not idx.segments


def test_streaming_batch_latest_version_wins(spark, tmp_path):
    """A micro-batch carrying v1 and v2 of a document must index the row
    with the max updated_at (the reference serializes writes in order);
    dropDuplicates would keep an arbitrary one."""
    import pandas as pd

    from letarette_spark.streaming.indexer import stream_document_updates

    root = str(tmp_path / "ver_index")
    base = _docs_df(spark, BASE).drop("rowid")
    build_index(spark, base, root, config=CFG, n_build_partitions=2, chunk_size=2)

    src = tmp_path / "updates"
    src.mkdir()
    pdf = pd.DataFrame(
        [
            {"doc_id": "d9", "space": "main", "title": "niner",
             "body": "stale version mentioning unicorns", "alive": True},
            {"doc_id": "d9", "space": "main", "title": "niner",
             "body": "fresh version mentioning dragons", "alive": True},
        ]
    )
    pdf["updated_at"] = pd.Series(
        pd.to_datetime(["2024-01-01 00:00:00", "2024-01-02 00:00:00"]),
        dtype="datetime64[us]",
    )
    pdf.to_parquet(src / "batch1.parquet")

    q = stream_document_updates(
        spark, root, str(src), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    s = Searcher(Index.open(spark, root, CFG))
    _df, total, _ = s.search_df("dragons")
    assert total == 1
    _df, total, _ = s.search_df("unicorns")
    assert total == 0


def test_upsert_does_not_scan_base_postings(spark, tmp_path, monkeypatch):
    """The additive stats merge must never read the base postings table —
    the one genuine scale-killer of a recompute-per-micro-batch design."""
    root = str(tmp_path / "merge_index")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)

    def boom(self):
        raise AssertionError("upsert path read base postings")

    monkeypatch.setattr(Index, "postings", boom)
    idx = upsert_documents(spark, root, _docs_df(spark, UPDATES_1), batch_id=1)
    monkeypatch.undo()
    assert idx.meta["ndocs"] == 5  # 4 base + d5 new, d2 replaced

    # exactness after the merge: rank-identical to a rebuild oracle
    mid = [
        (1, "alpha one", "the quick brown fox jumps over the lazy dog"),
        (2, "beta two v2", "a quick movement of the enemy will jeopardize gold"),
        (3, "gamma three", "sphinx of black quartz judge my vow"),
        (4, "delta four", "quick zephyrs blow vexing daft jim"),
        (5, "epsilon five", "the five boxing wizards jump quickly"),
    ]
    _assert_matches_final_oracle(Searcher(idx), Fts5Index.build(mid))


def _scanned_files(df) -> list[int]:
    """numFiles of every file scan in *df*'s executed plan, after an action
    on *df*: the files left after partition pruning (inputFiles() lists a
    relation's files before any pruning)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    leaves = plan.collectLeaves()
    metrics = (leaves.apply(i).metrics() for i in range(leaves.size()))
    return [m.apply("numFiles").value() for m in metrics if m.contains("numFiles")]


def test_docs_point_lookup_prunes_buckets(spark, tmp_path):
    """The point lookup reads only the rowid-bucket dir its key hashes to,
    in the base and in every delta segment."""
    import glob

    root = str(tmp_path / "prune_index")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    for batch, title in ((None, "beta two"), (UPDATES_1, "beta two v2")):
        if batch:
            upsert_documents(spark, root, _docs_df(spark, batch))
        idx = Index.open(spark, root, CFG)
        got = idx.docs_for_rowids([2])
        assert [(r["doc_id"], r["title"]) for r in got.collect()] == [("d2", title)]
        trees = [idx.docs_base_dir()] + [
            os.path.join(root, seg["docs"]) for seg in idx.segments
        ]

        def files(pattern):
            return [
                f for d in trees
                for f in glob.glob(os.path.join(d, "**", pattern), recursive=True)
            ]

        wanted = files(f"rb={2 % idx.meta['docs_buckets']}/*.parquet")
        assert len(wanted) >= len(trees)
        assert sum(_scanned_files(got)) == len(wanted) < len(files("*.parquet"))


# three segments over BASE: d1 (a base doc) is replaced in seg 1, deleted
# in seg 2 and re-added in seg 3; d6 is added in seg 1 and replaced in
# seg 2. Each segment tombstones its own rowids, so a branch filtered by
# every segment's tombstones loses d1's and d6's live versions.
SEQ_BATCHES = [
    [(1, "alpha one v1", "wizards draft quartz notes", True),
     (6, "zeta six", "first draft of the wizards list", True)],
    [(1, "", "", False),
     (6, "zeta six v2", "quick final fox of the list", True)],
    [(1, "alpha returns", "returning wizards judge the quick quartz", True)],
]
SEQ_FINAL = [
    (1, "alpha returns", "returning wizards judge the quick quartz"),
    *[(r, t, b) for r, t, b, _a in BASE[1:]],
    (6, "zeta six v2", "quick final fox of the list"),
]
SEQ_QUERIES = ["wizard*", "quick", "quartz", "draft", "return*", "fox", "list",
               "zeta", "alpha", "final -fox"]


@pytest.mark.parametrize("path", ["literal", "broadcast", "bound_over_rows"])
def test_overlay_seq_rule(spark, tmp_path, monkeypatch, path):
    """A row of seq S is dead only when a segment with seq > S tombstoned
    it, on the literal-filter path and on the broadcast anti-join taken
    above OVERLAY_MAX_LITERALS literals: rank-identical to FTS5 over the
    final corpus. The bound counts the literals every branch carries (a
    segment's tombstones filter the base and each earlier segment), not
    the tombstone rows: a bound between the two takes the broadcast."""
    import pyarrow.parquet as pq

    from letarette_spark.index import builder

    root = str(tmp_path / "idx")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    for batch in SEQ_BATCHES:
        upsert_documents(spark, root, _docs_df(spark, batch))
    idx = Index.open(spark, root, CFG)
    assert len(idx.segments) == 3 and idx.meta["ndocs"] == 5
    rows = [
        sum(pq.read_metadata(f).num_rows
            for f in builder._data_entries(os.path.join(root, s["tombstones"])))
        for s in idx.segments
    ]
    literals = sum((i + 1) * n for i, n in enumerate(rows))
    assert sum(rows) < literals
    bound = {"literal": literals, "broadcast": 0, "bound_over_rows": sum(rows)}
    monkeypatch.setattr(builder, "OVERLAY_MAX_LITERALS", bound[path])
    assert (idx._tombstone_filters() is None) == (path != "literal")
    _assert_matches_final_oracle(
        Searcher(idx), Fts5Index.build(SEQ_FINAL), SEQ_QUERIES
    )
    alive = idx.docs().filter("alive").select("rowid", "title").collect()
    assert sorted((r["rowid"], r["title"]) for r in alive) == sorted(
        (r, t) for r, t, _b in SEQ_FINAL
    )


def test_delete_only_upsert_makes_no_failing_read(spark, tmp_path, monkeypatch):
    """A delete-only batch leaves its segment postings dir without a data
    file; the known-schema read of that dir is empty, so neither the
    upsert nor a search after it starts a parquet read that fails."""
    from pyspark.sql.readwriter import DataFrameReader

    root = str(tmp_path / "idx")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    failed = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        try:
            return real(self, *paths, **kw)
        except Exception as e:
            failed.append((paths, e))
            raise

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    idx = upsert_documents(spark, root, _docs_df(spark, [(3, "", "", False)]))
    seg_post = os.path.join(root, idx.segments[0]["postings"])
    assert [n for n in os.listdir(seg_post) if not n.startswith(("_", "."))] == []
    _assert_matches_final_oracle(
        Searcher(Index.open(spark, root, CFG)),
        Fts5Index.build([(r, t, b) for r, t, b, _a in BASE if r != 3]),
    )
    assert failed == []


@pytest.mark.parametrize("table", ["postings", "tombstones"])
def test_missing_segment_dir_fails_the_read(spark, tmp_path, table):
    """A segment dir the manifest lists but the disk lacks is an error,
    never an empty overlay branch: empty tombstones would resurrect
    deleted documents, empty postings would vanish the new versions."""
    import shutil

    root = str(tmp_path / "idx")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    idx = upsert_documents(spark, root, _docs_df(spark, UPDATES_1))
    shutil.rmtree(os.path.join(root, idx.segments[0][table]))
    with pytest.raises(Exception, match="(?i)not (found|exist)|missing"):
        Searcher(Index.open(spark, root, CFG)).search("alpha")


def test_upsert_commit_is_crash_atomic(spark, tmp_path, monkeypatch):
    """A kill anywhere before the manifest pointer flip leaves the previous
    snapshot fully readable (stats dirs are staged, never mutated)."""
    root = str(tmp_path / "crash_index")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    before = Index.open(spark, root, CFG).meta

    from letarette_spark.index.manifest import Manifest

    def boom(self, meta):
        raise RuntimeError("injected crash at commit point")

    monkeypatch.setattr(Manifest, "commit_snapshot", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_documents(spark, root, _docs_df(spark, UPDATES_1), batch_id=1)
    monkeypatch.undo()

    idx = Index.open(spark, root, CFG)
    assert idx.meta["snapshot_id"] == before["snapshot_id"]
    assert idx.segments == []
    assert idx.term_stats().count() == before["nterms"]
    s = Searcher(idx)
    _df, total, _ = s.search_df("sphinx")
    assert total == 1  # pre-upsert corpus intact

    # the retried upsert then lands normally
    idx = upsert_documents(spark, root, _docs_df(spark, UPDATES_1), batch_id=1)
    assert idx.meta["ndocs"] == 5
    _df, total, _ = Searcher(idx).search_df("wizard*")
    assert total == 1


def test_streaming_housekeeping_compacts_and_maintains(spark, tmp_path):
    """Housekeeping cadence (reference: idle-cycle doHousekeeping every
    5 min — indexer.go:476-487): compaction bounds segment pileup,
    stopwords refresh, spelling rebuilds when lag exceeds MaxLag."""
    import os

    import pandas as pd

    from letarette_spark.streaming.indexer import (
        run_housekeeping,
        stream_document_updates,
    )

    root = str(tmp_path / "hk_index")
    build_index(spark, _docs_df(spark, BASE).drop("rowid"), root, config=CFG,
                n_build_partitions=2, chunk_size=2)

    src = tmp_path / "updates"
    src.mkdir()
    for i, (rid, title, body, alive) in enumerate(UPDATES_1):
        pdf = pd.DataFrame([{
            "doc_id": f"d{rid}", "space": "main", "title": title,
            "body": body, "alive": alive,
        }])
        pdf["updated_at"] = pd.Series([pd.NaT], dtype="datetime64[us]")
        pdf.to_parquet(src / f"batch{i}.parquet")

    q = stream_document_updates(
        spark, root, str(src), str(tmp_path / "ckpt"),
        available_now=True, max_files_per_trigger=1,
        housekeep_every_batches=1, compact_segments_over=0,
    )
    q.awaitTermination(180)

    idx = Index.open(spark, root, CFG)
    assert idx.segments == []  # compacted away by housekeeping
    assert os.path.exists(os.path.join(root, "stopwords.json"))
    _df, total, _ = Searcher(idx, stopwords=frozenset()).search_df("wizard*")
    assert total == 1

    # force a spelling rebuild via the lag gate
    did = run_housekeeping(spark, root, spelling_min_count=1,
                           spelling_max_lag=0, compact_segments_over=None)
    assert did["spelling"] and os.path.exists(os.path.join(root, "speling"))


def test_randomized_upsert_sequences_match_rebuild_oracle(spark, tmp_path):
    """Property-style: a random sequence of inserts/replaces/deletes over
    several batches, through the ADDITIVE stats-merge path, must stay
    rank-identical to FTS5 rebuilt from the final state — then again
    after compaction. Also drives the bag-of-words API through the
    with-segments exhaustive fallback."""
    import random

    rnd = random.Random(5)
    words = ("quick brown fox lazy dog wizard sphinx quartz zephyr parser "
             "buffer token stream index merge gold silver copper vector").split()

    def make_body():
        return " ".join(rnd.choice(words) for _ in range(rnd.randint(6, 14)))

    state: dict[int, tuple[str, str]] = {}
    initial = []
    for r in range(1, 9):
        t, b = f"title {rnd.choice(words)}", make_body()
        state[r] = (t, b)
        initial.append((r, t, b, True))

    root = str(tmp_path / "rand_index")
    build_index(spark, _docs_df(spark, initial), root, config=CFG,
                n_build_partitions=2, chunk_size=2)

    next_id = 9
    for batch_no in range(3):
        ops = []
        for _ in range(rnd.randint(2, 4)):
            kind = rnd.choice(["insert", "replace", "delete"])
            if kind == "insert" or not state:
                rid, next_id = next_id, next_id + 1
                t, b = f"title {rnd.choice(words)}", make_body()
                state[rid] = (t, b)
                ops.append((rid, t, b, True))
            elif kind == "replace":
                rid = rnd.choice(sorted(state))
                t, b = f"title {rnd.choice(words)} v2", make_body()
                state[rid] = (t, b)
                ops.append((rid, t, b, True))
            else:
                rid = rnd.choice(sorted(state))
                del state[rid]
                ops.append((rid, "", "", False))
        # one row per doc_id per batch (the upsert contract)
        dedup = {}
        for rid, t, b, alive in ops:
            dedup[rid] = (rid, t, b, alive)
        upsert_documents(spark, root, _docs_df(spark, list(dedup.values())),
                         batch_id=100 + batch_no)

    oracle = Fts5Index.build([(r, t, b) for r, (t, b) in sorted(state.items())])
    queries = ["quick", "wizard*", '"lazy dog"', "parser -buffer",
               "gold silver", "sphinx"]

    def check(idx):
        from letarette_spark.query.parser import (
            compile_match_string, parse_query, reduce_phrases,
        )

        s = Searcher(idx)
        for q in queries:
            match = compile_match_string(reduce_phrases(parse_query(q)))
            expected = oracle.search(match, limit=10) if match else []
            df, _t, _c = s.search_df(q, limit=10)
            got = ([(r["rowid"], r["score"]) for r in df.collect()]
                   if df is not None else [])
            assert [r for r, _ in got] == [r for r, _ in expected], (q, got, expected)
            for (_, sg), (_, se) in zip(got, expected):
                assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12), q

    idx = Index.open(spark, root, CFG)
    assert idx.meta["ndocs"] == len(state)
    check(idx)

    # bag-of-words API through the exhaustive with-segments fallback
    s = Searcher(idx)
    bw = s.search_terms_df(["quick", "wizard"], mode="or", limit=10)
    exp = oracle.search('"quick" OR "wizard"', limit=10)
    got = [(r["rowid"], r["score"]) for r in bw.collect()]
    assert [r for r, _ in got] == [r for r, _ in exp]
    for (_, sg), (_, se) in zip(got, exp):
        assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)

    check(compact_index(spark, root))


# ---- the layout contract: Index.open is the one gate ----

@pytest.fixture(scope="module")
def built_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("built"))
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)
    return root


def _tree(root):
    """Every file under *root* with its size and mtime."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.mark.parametrize(
    "stamp", [3, 4, None], ids=["layout3", "layout4", "no_layout"]
)
def test_stale_layout_is_refused_everywhere(spark, built_root, tmp_path, stamp):
    root = str(tmp_path / "stale")
    shutil.copytree(built_root, root)
    current = os.path.join(root, "_manifest", "CURRENT.json")
    with open(current) as f:
        state = json.load(f)
    if stamp is None:
        state.pop("layout")
    else:
        state["layout"] = stamp
    snap = os.path.join(root, "_manifest", "snapshots", f"{state['snapshot_id']}.json")
    for path in (current, snap):
        with open(path, "w") as f:
            json.dump(state, f)

    for kwargs in ({}, {"snapshot_id": state["snapshot_id"]}):
        with pytest.raises(ValueError) as err:
            Index.open(spark, root, **kwargs)
        msg = str(err.value)
        assert f"layout {stamp}" in msg and f"layout {LAYOUT_VERSION}" in msg, msg
        assert "rebuild" in msg, msg

    before = _tree(root)
    with pytest.raises(ValueError, match="rebuild"):
        upsert_documents(spark, root, _docs_df(spark, UPDATES_1), batch_id=1)
    with pytest.raises(ValueError, match="rebuild"):
        compact_index(spark, root)
    assert _tree(root) == before


def test_build_stamps_every_key_readers_index(spark, built_root):
    """Readers index these manifest keys without a default, so every build
    must stamp them."""
    meta = Index.open(spark, built_root).meta
    assert meta["layout"] == LAYOUT_VERSION
    assert AnalyzerConfig.from_key(meta["analyzer"]) == CFG
    for key in ("ndocs", "sum_dl", "nterms", "postings_buckets", "docs_buckets"):
        assert isinstance(meta[key], int) and meta[key] >= 1, (key, meta[key])


@pytest.mark.parametrize(
    "param", ["n_buckets", "docs_buckets", "n_build_partitions", "chunk_size"]
)
def test_build_rejects_nonpositive_sizes(spark, tmp_path, param):
    root = tmp_path / "never"
    with pytest.raises(ValueError, match=f"{param} must be >= 1"):
        build_index(spark, _docs_df(spark, BASE), str(root), config=CFG,
                    **{param: 0})
    assert not root.exists()


def _assert_stamped_totals(spark, root, ndocs):
    """The manifest's (ndocs, nterms, sum_dl), stamped from observations
    on the writes, equal a recount of the written term_stats and docs."""
    from pyspark.sql import functions as F

    idx = Index.open(spark, root, CFG)
    ts = idx.term_stats().agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("cnt"), F.lit(0)).alias("s")
    ).collect()[0]
    dl = idx.postings().select("rowid", "dl").distinct().agg(
        F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    alive = idx.docs().filter(F.col("alive")).count()
    assert (idx.meta["ndocs"], idx.meta["nterms"], idx.meta["sum_dl"]) == (
        alive, ts["n"], ts["s"]
    )
    assert (alive, dl["s"]) == (ndocs, ts["s"])


def test_stamped_totals_match_a_recount(spark, tmp_path):
    """After a build, an upsert, a delete-only upsert and a compaction, and
    again once every document is deleted (an empty term_stats frame)."""
    root = str(tmp_path / "idx")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=1)
    _assert_stamped_totals(spark, root, 4)
    upsert_documents(spark, root, _docs_df(spark, UPDATES_1))
    _assert_stamped_totals(spark, root, 5)
    upsert_documents(spark, root, _docs_df(spark, [(4, "", "", False)]))
    _assert_stamped_totals(spark, root, 4)
    compact_index(spark, root)
    _assert_stamped_totals(spark, root, 4)
    gone = [(r, "", "", False) for r in (1, 2, 3, 5)]
    upsert_documents(spark, root, _docs_df(spark, gone))
    _assert_stamped_totals(spark, root, 0)
    compact_index(spark, root)
    _assert_stamped_totals(spark, root, 0)


def _empty_docs_df(spark):
    return _docs_df(spark, [(1, "", "", True)]).limit(0)


def test_empty_index_upsert_and_compaction(spark, tmp_path):
    """A build over no documents, an empty upsert and the compaction after
    it each leave an index of 0 documents; every docs dir is footerless,
    so the observed writes see plans that AQE proves empty."""
    root = str(tmp_path / "idx")
    res = build_index(spark, _empty_docs_df(spark), root, config=CFG,
                      n_build_partitions=2, chunk_size=1)
    assert res.ndocs == 0
    _assert_stamped_totals(spark, root, 0)
    idx = upsert_documents(spark, root, _empty_docs_df(spark))
    assert idx.meta["ndocs"] == 0
    _assert_stamped_totals(spark, root, 0)
    idx = compact_index(spark, root)
    assert idx.meta["ndocs"] == 0 and not idx.segments
    _assert_stamped_totals(spark, root, 0)


def test_build_with_empty_chunks_stamps_recounted_totals(spark, tmp_path):
    """One document over four one-partition chunks: at least three chunks
    write no docs, and their recorded alive counts are 0."""
    root = str(tmp_path / "idx")
    res = build_index(spark, _docs_df(spark, BASE[:1]), root, config=CFG,
                      n_build_partitions=4, chunk_size=1)
    assert (res.ndocs, res.chunks_built) == (1, 4)
    _assert_stamped_totals(spark, root, 1)


def test_large_batch_upsert_does_not_scan_base_postings(spark, tmp_path, monkeypatch):
    """Above MERGE_MAX_BATCH the replaced versions come from the docs
    overlay semi-joined with the batch: still no postings read, exact
    BM25 after each batch, stamped totals equal to a recount and the
    result caches cleared wholesale."""
    from letarette_spark.index import incremental

    root = str(tmp_path / "idx")
    build_index(spark, _docs_df(spark, BASE), root, config=CFG,
                n_build_partitions=2, chunk_size=2)

    class Cache:
        cleared = 0

        def clear(self):
            self.cleared += 1

        def invalidate_doc(self, doc_id):
            raise AssertionError("a large batch clears the cache wholesale")

    def boom(self):
        raise AssertionError("upsert path read base postings")

    cache = Cache()
    monkeypatch.setattr(incremental, "MERGE_MAX_BATCH", 0)
    monkeypatch.setattr(Index, "postings", boom)
    upsert_documents(spark, root, _docs_df(spark, UPDATES_1), caches=[cache])
    upsert_documents(spark, root, _docs_df(spark, UPDATES_2), caches=[cache])
    monkeypatch.undo()
    assert cache.cleared == 2
    _assert_stamped_totals(spark, root, 4)
    _assert_matches_final_oracle(
        Searcher(Index.open(spark, root, CFG)), Fts5Index.build(FINAL)
    )
