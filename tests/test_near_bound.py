"""The NEAR/conjunction path must be bounded: match filtering happens in
pure JVM expressions (Searcher._cluster_exists) before the cap+1 rowid-order
truncation, and driver-side NEAR participation scoring only ever sees the
<= cap+1 matches FTS5 itself would rank (search_1.sql:29 binds
:cap = resultCap+1).

Three contracts:
  1. the JVM existence expression agrees with the Python interval evaluator
     (_near_participants) on randomized position arrays;
  2. a high-co-occurrence query with a small cap scores at most cap+1 rows
     in the driver;
  3. the capped NEAR ranking is rank/score-identical to live FTS5 over the
     same cap+1 rowid-order pool.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.builder import Index, build_index
from letarette_spark.query.executor import NEAR_RANGE, Searcher, _near_participants
from tests.fts5_oracle import Fts5Index


@pytest.mark.parametrize("k", [2, 3, 4])
def test_cluster_exists_matches_python_evaluator(spark, k):
    rng = np.random.default_rng(1234 + k)
    lens = [int(rng.integers(1, 4)) for _ in range(k)]
    rows = []
    for rid in range(300):
        row = {"rowid": rid}
        for i in range(k):
            for c in (0, 1):
                n = int(rng.integers(0, 5))
                # dense positions so clusters are common but not universal
                arr = sorted(int(x) for x in rng.integers(0, 60, size=n))
                row[f"p{i}c{c}"] = arr if (n or rng.random() < 0.5) else None
        rows.append(row)
    schema = "rowid long, " + ", ".join(
        f"p{i}c{c} array<int>" for i in range(k) for c in (0, 1)
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        r["rowid"]: r["ok"]
        for r in df.select(
            "rowid", Searcher._cluster_exists(k, lens, NEAR_RANGE).alias("ok")
        ).collect()
    }
    for row in rows:
        want = False
        for c in (0, 1):
            lists = [list(row[f"p{i}c{c}"] or []) for i in range(k)]
            if _near_participants(lists, lens, NEAR_RANGE) is not None:
                want = True
        assert got[row["rowid"]] == want, f"rowid {row['rowid']}: {row}"


@pytest.fixture(scope="module")
def cooccur(spark, tmp_path_factory):
    """40 docs all containing an adjacent 'alpha beta' pair (every doc is a
    NEAR match) plus filler terms to vary scores."""
    root = str(tmp_path_factory.mktemp("near_bound_idx"))
    fillers = ["gamma", "delta", "epsilon", "zeta"]
    rows = []
    for i in range(40):
        extra = " ".join(fillers[: (i % 4) + 1] * ((i % 3) + 1))
        rows.append(
            {
                "doc_id": f"d{i}",
                "space": "docs",
                "title": f"alpha beta note {i}",
                "body": f"{extra} alpha beta trailing text number {i}",
                "alive": True,
            }
        )
    docs = spark.createDataFrame(rows).withColumn(
        "rowid", F.col("doc_id").substr(F.lit(2), F.lit(10)).cast("long") + 1
    )
    cfg = AnalyzerConfig(mode="porter")
    build_index(spark, docs, root, config=cfg, n_build_partitions=2, chunk_size=2)
    index = Index.open(spark, root, cfg)
    local = docs.select("rowid", "title", "body").collect()
    oracle = Fts5Index.build([(r["rowid"], r["title"], r["body"]) for r in local])
    return index, oracle


def test_near_scoring_sees_at_most_cap_plus_one_rows(cooccur, monkeypatch):
    import letarette_spark.query.executor as ex

    index, _ = cooccur
    s = Searcher(index, cap=5)
    scored, cols = [], []
    real_score, real_near = Searcher._score, ex._near_participants
    monkeypatch.setattr(
        Searcher, "_score",
        lambda self, rows, *a: scored.append(len(rows)) or real_score(self, rows, *a),
    )
    monkeypatch.setattr(
        ex, "_near_participants",
        lambda *a: cols.append(1) or real_near(*a),
    )
    df, total, capped = s.search_df("alpha beta", limit=10)

    rows = df.collect()
    assert capped and total == 5
    assert len(rows) == 6  # cap+1 matches ranked, page limit 10
    # one driver-side scoring pass over the cap+1 rowid-order matches,
    # one participation evaluation per (row, column)
    assert scored == [6], f"NEAR scoring saw {scored} rows; bound is cap+1"
    assert len(cols) == 2 * 6


def test_capped_near_rank_identity_vs_fts5(cooccur):
    index, oracle = cooccur
    s = Searcher(index, cap=5)
    df, total, capped = s.search_df("alpha beta", limit=10)
    match = 'NEAR("alpha" "beta", 15)'
    all_rowids = oracle.match_rowids(match)
    assert len(all_rowids) == 40
    pool = all_rowids[:6]  # cap+1 in rowid order
    expected = oracle.con.execute(
        "SELECT rowid, bm25(fts, 5.0, 1.0) AS r FROM fts WHERE fts MATCH ? "
        f"AND rowid IN ({','.join(map(str, pool))}) ORDER BY r, rowid LIMIT 10",
        (match,),
    ).fetchall()
    got = [(r["rowid"], r["score"]) for r in df.collect()]
    assert capped and total == 5
    assert [r for r, _ in got] == [r[0] for r in expected]
    for (_, sg), (_, se) in zip(got, [(r[0], r[1]) for r in expected]):
        assert math.isclose(sg, se, rel_tol=1e-9, abs_tol=1e-12)
