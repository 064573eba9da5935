"""Round-5 selection/hygiene operators: SemDeDup semantic dedup, DSIR
importance resampling, hard-negative mining, URL canonicalization.

Each operator also carries a hash-verified DuckDB driver gate in
__spark_entry__ (semdedup_pairs/kept, dsir_weights/sample,
hard_negatives, url_canonical/url_dup_groups); these tests pin the
library semantics directly (brute-force recomputes, invariants, plan
shapes) on controlled inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _vec(*xs):
    return [float(x) for x in xs]


@pytest.fixture(scope="module")
def emb(spark):
    # two tight clusters on orthogonal axes + one isolated vector.
    rows = [
        {"vec_id": 0, "embedding": _vec(1.0, 0.02, 0.0)},
        {"vec_id": 1, "embedding": _vec(0.99, 0.0, 0.01)},   # dup of 0
        {"vec_id": 2, "embedding": _vec(0.97, -0.03, 0.0)},  # dup of 0/1
        {"vec_id": 3, "embedding": _vec(0.0, 1.0, 0.02)},
        {"vec_id": 4, "embedding": _vec(0.01, 0.98, 0.0)},   # dup of 3
        {"vec_id": 5, "embedding": _vec(-0.7, -0.7, 0.1)},   # isolated
    ]
    return spark.createDataFrame(rows).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def _null_rows(spark):
    return spark.createDataFrame(
        [(98, None), (99, None)], "vec_id long, embedding array<float>"
    )


class TestSemDeDup:
    def test_pairs_match_brute_force_within_cells(self, spark, emb):
        from letarette_spark.functions.semdedup import semdedup_pairs
        from letarette_spark.functions.similarity import ivf_centroids, ivf_assign

        cents = ivf_centroids(emb, n_cells=2)
        cells = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
        vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
        expected = {
            (a, b)
            for a in vecs
            for b in vecs
            if a < b and cells[a] == cells[b] and _cos(vecs[a], vecs[b]) >= 0.9
        }
        got = {
            (r["a"], r["b"])
            for r in semdedup_pairs(emb, centroids=cents, threshold=0.9).collect()
        }
        assert got == expected
        assert expected  # the fixture must actually produce dup pairs

    def test_kept_is_paper_rule(self, spark, emb):
        """Within each dup pair the survivor is the member LESS similar to
        its centroid (ties to the lower id); kept + dropped = corpus."""
        from letarette_spark.functions.semdedup import semdedup_kept, _assigned
        from letarette_spark.functions.similarity import ivf_centroids

        cents = ivf_centroids(emb, n_cells=2)
        assigned = {
            r["id"]: (r["cell"], r["ccos"])
            for r in _assigned(emb, cents, "vec_id", "embedding").collect()
        }
        vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
        losers = set()
        for x in vecs:
            for y in vecs:
                if x == y or assigned[x][0] != assigned[y][0]:
                    continue
                if _cos(vecs[x], vecs[y]) < 0.9:
                    continue
                cx, cy = assigned[x][1], assigned[y][1]
                if cy < cx or (cy == cx and y < x):
                    losers.add(x)
        expected = set(vecs) - losers
        got = {
            r["vec_id"]
            for r in semdedup_kept(emb, centroids=cents, threshold=0.9).collect()
        }
        assert got == expected
        assert losers  # something was actually dropped

    def test_null_embedding_is_never_paired_or_kept(self, spark, emb):
        from letarette_spark.functions.semdedup import (
            semdedup_kept,
            semdedup_pairs,
        )

        mixed = emb.unionByName(_null_rows(spark))
        for op in (semdedup_pairs, semdedup_kept):
            got = sorted(op(mixed, n_cells=2, threshold=0.9).collect())
            assert got == sorted(op(emb, n_cells=2, threshold=0.9).collect())
            assert got and not {98, 99} & {v for r in got for v in r}

    def test_no_cartesian_product_in_plan(self, spark, emb):
        from letarette_spark.functions.semdedup import semdedup_pairs
        from letarette_spark.functions.similarity import ivf_centroids

        cents = ivf_centroids(emb, n_cells=2)
        plan = semdedup_pairs(emb, centroids=cents)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


@pytest.fixture(scope="module")
def dsir_docs(spark):
    rows = [
        # target-flavored docs (lang en): spark/query vocabulary
        {"doc_id": 0, "lang": "en", "text": "spark query engine spark query planner"},
        {"doc_id": 1, "lang": "en", "text": "query engine optimizer spark shuffle"},
        {"doc_id": 2, "lang": "en", "text": "columnar spark engine query pushdown"},
        # raw-only docs: cooking vocabulary
        {"doc_id": 3, "lang": "xx", "text": "tomato soup recipe with fresh basil leaves"},
        {"doc_id": 4, "lang": "xx", "text": "slow roasted garlic butter potatoes recipe"},
        # a mixed doc and an empty doc
        {"doc_id": 5, "lang": "xx", "text": "spark query recipe"},
        {"doc_id": 6, "lang": "xx", "text": ""},
    ]
    return spark.createDataFrame(rows)


class TestDSIR:
    def test_weights_rank_target_like_docs_higher(self, dsir_docs):
        from letarette_spark.functions.dsir import dsir_log_weights

        target = dsir_docs.filter(F.col("lang") == "en")
        w = {
            r["doc_id"]: r["log_w"]
            for r in dsir_log_weights(dsir_docs, target, n_buckets=64).collect()
        }
        assert len(w) == 7  # one row per raw doc, empty doc included
        assert w[6] == 0.0  # zero-feature doc: weight 1
        # every target-vocabulary doc outweighs every cooking doc
        assert min(w[0], w[1], w[2]) > max(w[3], w[4])
        # the mixed doc lands between the pure groups
        assert max(w[3], w[4]) < w[5] < min(w[0], w[1], w[2])

    def test_sample_is_deterministic_topk(self, dsir_docs):
        from letarette_spark.functions.dsir import dsir_sample

        target = dsir_docs.filter(F.col("lang") == "en")
        s1 = dsir_sample(dsir_docs, target, k=3, n_buckets=64, seed=7).collect()
        s2 = dsir_sample(dsir_docs, target, k=3, n_buckets=64, seed=7).collect()
        assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]
        assert len(s1) == 3
        # keys are sorted descending
        keys = [r["gumbel"] for r in s1]
        assert keys == sorted(keys, reverse=True)


    def test_target_filter_plan_is_shuffle_light(self, dsir_docs):
        """The fast path never explodes grams into rows at all (the Arrow
        bucket stage emits one compact array per doc — zero Generate) and
        never exchanges gram- or (doc, bucket)-level rows: every hash
        exchange keys on the doc id alone (PLANS.md §13). The histogram
        job is eager inside the call and map-side by construction; the
        scoring output joins in as a materialized one-row-per-doc
        frame."""
        from letarette_spark.functions.dsir import dsir_log_weights

        df = dsir_log_weights(
            dsir_docs, n_buckets=64, target_filter=F.col("lang") == "en"
        )
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Generate") == 0
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "bucket" not in line

    def test_target_filter_fast_path_identical(self, dsir_docs):
        """The single-scan target_filter path must produce EXACTLY the
        two-frame path's weights (and reject ambiguous arguments)."""
        import pytest as _pytest

        from letarette_spark.functions.dsir import dsir_log_weights

        target = dsir_docs.filter(F.col("lang") == "en")
        two = {
            r["doc_id"]: r["log_w"]
            for r in dsir_log_weights(dsir_docs, target, n_buckets=64).collect()
        }
        one = {
            r["doc_id"]: r["log_w"]
            for r in dsir_log_weights(
                dsir_docs, n_buckets=64, target_filter=F.col("lang") == "en"
            ).collect()
        }
        assert set(one) == set(two)
        for d in two:
            # same algebra, different float summation order
            assert one[d] == _pytest.approx(two[d], rel=1e-9, abs=1e-12)
        with _pytest.raises(ValueError):
            dsir_log_weights(dsir_docs, n_buckets=64)
        with _pytest.raises(ValueError):
            dsir_log_weights(
                dsir_docs, target, n_buckets=64,
                target_filter=F.col("lang") == "en",
            )

    def test_bigrams_contribute(self, spark):
        """Two docs with identical unigram bags but different orderings
        must get different bucket profiles (bigrams are real features)."""
        from letarette_spark.functions.dsir import hashed_ngram_counts

        df = spark.createDataFrame(
            [
                {"doc_id": 0, "text": "alpha beta gamma"},
                {"doc_id": 1, "text": "gamma beta alpha"},
            ]
        )
        prof = (
            hashed_ngram_counts(df, n_buckets=4096)
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.concat_ws(":", "bucket", "cnt"))).alias("p"))
            .collect()
        )
        profiles = {r["doc_id"]: r["p"] for r in prof}
        assert profiles[0] != profiles[1]


class TestHardNegatives:
    def test_margin_and_exclusions(self, spark, emb):
        from letarette_spark.functions.similarity import hard_negatives

        vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
        got = hard_negatives(emb, query_ids=[0, 3], k=3, margin=0.95).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rows in by_q.items():
            cand = {v: _cos(vecs[qid], vecs[v]) for v in vecs if v != qid}
            pos_id = min(cand, key=lambda v: (-cand[v], v))
            pos_cos = max(cand.values())
            expected = sorted(
                (
                    (v, c)
                    for v, c in cand.items()
                    if v != pos_id
                    and c < pos_cos - (1.0 - 0.95) * abs(pos_cos)
                ),
                key=lambda vc: (-vc[1], vc[0]),
            )[:3]
            assert [r["neg_id"] for r in rows] == [v for v, _ in expected]
            # the positive never leaks into the negatives
            assert pos_id not in {r["neg_id"] for r in rows}
            for r, (_, c) in zip(rows, expected):
                assert r["cos"] == pytest.approx(c, abs=1e-9)
                assert r["cos"] < pos_cos - (1.0 - 0.95) * abs(pos_cos)

    def test_null_embedding_is_never_a_negative(self, spark, emb):
        from letarette_spark.functions.similarity import hard_negatives

        mixed = emb.unionByName(_null_rows(spark))
        got = sorted(hard_negatives(mixed, query_ids=[0, 3, 99], k=5).collect())
        assert got == sorted(hard_negatives(emb, query_ids=[0, 3], k=5).collect())
        assert got and not {98, 99} & {r["neg_id"] for r in got}

    def test_margin_holds_when_pos_cos_negative(self, spark):
        """When the best corpus cosine is negative, the exclusion zone
        must still sit BELOW the positive: a near-tie of the (negative)
        positive is skipped, a clearly-worse candidate is admitted. The
        old multiplicative rule (cos < 0.95 * pos_cos) inverted here and
        admitted the near-tie."""
        from letarette_spark.functions.similarity import hard_negatives

        rows = [
            (0, [1.0, 0.0]),            # query
            (1, [-0.1, 0.9949874371]),  # positive, cos ~= -0.1
            (2, [-0.1002, 0.9949]),     # near-tie, cos ~= -0.1002
            (3, [-0.9, 0.4358898944]),  # real negative, cos = -0.9
        ]
        emb = spark.createDataFrame(
            [{"vec_id": i, "embedding": v} for i, v in rows]
        )
        got = hard_negatives(emb, query_ids=[0], k=3, margin=0.95).collect()
        neg_ids = [r["neg_id"] for r in got]
        assert 2 not in neg_ids  # within the margin of the positive
        assert neg_ids == [3]


class TestUrls:
    CASES = [
        # (input, canonical)
        ("  HTTP://WWW.Example.COM.:80/a//b/c?utm_source=x&b=2&a=1#frag  ",
         "http://www.example.com/a/b/c?a=1&b=2"),
        ("https://Example.com:443/", "https://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),  # non-default port kept
        ("http://example.com:443/x", "http://example.com:443/x"),      # 443 is not http's default
        ("https://example.com", "https://example.com/"),               # empty path -> /
        ("https://example.com/p?gclid=1&fbclid=2&msclkid=3&ref=r&utm_campaign=c",
         "https://example.com/p"),                                     # all-tracker query dropped
        ("https://example.com/p?z=1&y=2&z=0", "https://example.com/p?y=2&z=0&z=1"),
        ("not a url at all", "not a url at all"),                      # passthrough, trimmed
        ("  plain-text  ", "plain-text"),
    ]

    def test_canonical_cases(self, spark):
        from letarette_spark.functions.urls import canonical_url

        df = spark.createDataFrame(
            [{"i": i, "url": u} for i, (u, _) in enumerate(self.CASES)]
        )
        got = {
            r["i"]: r["c"]
            for r in df.select("i", canonical_url("url").alias("c")).collect()
        }
        for i, (_, want) in enumerate(self.CASES):
            assert got[i] == want, f"case {i}: {self.CASES[i][0]!r} -> {got[i]!r}"

    def test_url_dedup_keeps_min_id_per_canonical(self, spark):
        from letarette_spark.functions.urls import url_dedup

        df = spark.createDataFrame(
            [
                {"doc_id": 1, "url": "http://A.com/x?b=1&a=1"},
                {"doc_id": 2, "url": "HTTP://a.COM/x?a=1&b=1#f"},  # same canon as 1
                {"doc_id": 3, "url": "http://a.com/y"},
            ]
        )
        kept = sorted(r["doc_id"] for r in url_dedup(df).collect())
        assert kept == [1, 3]

    def test_null_urls_are_never_dups(self, spark):
        """Rows without a URL are not duplicates of anything: url_dedup
        keeps ALL of them (the old groupBy collapsed every NULL into one
        bogus group and kept only the min id), and url_dup_groups never
        reports a NULL-canon group."""
        from letarette_spark.functions.urls import url_dedup, url_dup_groups

        df = spark.createDataFrame(
            [
                {"doc_id": 1, "url": "http://a.com/x"},
                {"doc_id": 2, "url": None},
                {"doc_id": 3, "url": None},
                {"doc_id": 4, "url": "HTTP://A.com/x"},  # dup of 1
            ]
        )
        kept = sorted(r["doc_id"] for r in url_dedup(df).collect())
        assert kept == [1, 2, 3]
        groups = url_dup_groups(df).collect()
        assert all(r["canon"] is not None for r in groups)
        assert len(groups) == 1 and groups[0]["n_docs"] == 2

    def test_ipv6_literal_hosts_pass_through(self, spark):
        """Bracketed IPv6 hosts would be mangled by the ':' host/port
        split — they pass through untouched (never-destroy policy), so
        distinct IPv6 URLs cannot collide in url_dedup."""
        from letarette_spark.functions.urls import canonical_url, url_dedup

        urls = ["http://[::1]:8080/x", "http://[2001:db8::1]/x"]
        df = spark.createDataFrame(
            [{"doc_id": i, "url": u} for i, u in enumerate(urls)]
        )
        got = {
            r["url"]: r["c"]
            for r in df.select("url", canonical_url("url").alias("c")).collect()
        }
        assert got == {u: u for u in urls}
        assert url_dedup(df).count() == 2

    def test_zero_shuffle_plan(self, spark):
        """Canonicalization itself is one scan: no Exchange in the plan."""
        from letarette_spark.functions.urls import canonicalize

        df = spark.createDataFrame([{"doc_id": 1, "url": "http://a.com/x"}])
        plan = canonicalize(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
