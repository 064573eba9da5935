"""End-to-end behavior of the default 'letarette' analyzer mode
(unicode61 + reference token rules + Snowball english/Porter2) plus
sharding parity and plan-shape checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from letarette_spark.analysis.tokenizer import Analyzer, AnalyzerConfig
from letarette_spark.functions.sharding import fnv1a32, shard_expr, shard_of
from letarette_spark.index.builder import Index, build_index
from letarette_spark.query.executor import Searcher

DOCS = [
    (1, "running notes", "the runner runs quickly through the generation"),
    (2, "analysis", "we analyzed the analyzer while analyzing analyses"),
    (3, "numbers", "error code 42 on line 7 a b c"),
    (4, "skies", "the skies were dying early"),
]


@pytest.fixture(scope="module")
def leta_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("leta_index"))
    sdf = spark.createDataFrame(
        [
            {"doc_id": f"d{r}", "rowid": r, "space": "main", "title": t,
             "body": b, "alive": True}
            for r, t, b in DOCS
        ]
    )
    cfg = AnalyzerConfig()  # mode=letarette, languages=(english,) — the default
    build_index(spark, sdf, root, config=cfg, n_build_partitions=2, chunk_size=2)
    return Index.open(spark, root, cfg)


class TestLetaretteMode:
    def test_stemming_congruence(self, leta_index):
        s = Searcher(leta_index)
        # query 'run' stems to 'run'; doc terms running/runner/runs stem too
        _df, total, _ = s.search_df("running")
        assert total == 1
        _df2, total2, _ = s.search_df("runs")
        assert total2 == 1
        # analyzed/analyzer/analyzing share the stem
        _df3, total3, _ = s.search_df("analyzing")
        assert total3 == 1

    def test_digit_exemption_and_short_drop(self, leta_index):
        s = Searcher(leta_index)
        _df, total, _ = s.search_df("42")
        assert total == 1
        # the digit exemption holds on BOTH sides: index-time
        # (snowball.c:184-187 keeps all-digit tokens under min length) and
        # query-time (reducePhrase cuts 1-rune phrases only when
        # !unicode.IsNumber, parser.go:136-138) — so '7' is searchable,
        # while 1-letter words are dropped from query and index alike
        terms = {r["term"] for r in leta_index.term_stats().collect()}
        assert "7" in terms and "b" not in terms
        df, total, _ = s.search_df("7")
        assert total == 1
        df, total, _ = s.search_df("b")
        assert df is None and total == 0

    def test_porter2_exceptional_forms_in_index(self, leta_index):
        terms = {r["term"] for r in leta_index.term_stats().collect()}
        assert "sky" in terms      # skies -> sky (porter2 exception)
        assert "die" in terms      # dying -> die
        assert "earli" in terms    # early -> earli

    def test_snippets_work_in_default_mode(self, leta_index):
        s = Searcher(leta_index)
        res = s.search("generation", limit=3)
        assert res.hits and "generation" in res.hits[0].snippet


class TestSharding:
    def test_fnv1a32_known_vectors(self):
        # public FNV-1a test vectors
        assert fnv1a32("") == 0x811C9DC5
        assert fnv1a32("a") == 0xE40C292C
        assert fnv1a32("foobar") == 0xBF9CF968

    def test_uniform_spread(self, spark):
        # reference property test: 1076 docs over 5 shards, each within
        # ideal +/- 2/3 (sharding_test.go:25-43)
        n, shards = 1076, 5
        counts = [0] * shards
        for i in range(n):
            counts[shard_of(str(i), shards)] += 1
        ideal = n / shards
        for c in counts:
            assert abs(c - ideal) <= ideal * 2 / 3
        # Spark expression agrees with the driver-side function
        df = spark.range(50).select(F.col("id").cast("string").alias("doc_id"))
        rows = df.select("doc_id", shard_expr("doc_id", shards).alias("s")).collect()
        for r in rows:
            assert r["s"] == shard_of(r["doc_id"], shards)


class TestPlanShape:
    def test_term_filter_pushed_to_parquet(self, leta_index):
        """Query-term lookups must reach the postings scan as pushed
        filters (row-group pruning — the B-tree analog)."""
        post = leta_index.postings().filter(F.col("term") == "run")
        plan = post._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "run" in plan, plan

    def test_searcher_uses_single_scan_per_phrase_term(self, leta_index, monkeypatch):
        """The candidate collect scans each phrase term once, with the term
        pushed to parquet, and groups the scans in one exchange."""
        frames = []
        real = Searcher._candidates

        def spy(self, *a, **k):
            cand, obs = real(self, *a, **k)
            frames.append(cand)
            return cand, obs

        monkeypatch.setattr(Searcher, "_candidates", spy)
        s = Searcher(leta_index)
        s.search_df("running quickly")
        plan = frames[0]._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # the executed AQE plan
        assert "PushedFilters" in plan, plan
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
        assert len(scans) == 2, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
