"""BM25 top-k query execution over the inverted index.

Spark-first translation of the reference search path
(/root/reference/internal/letarette/searcher.go:29-132 +
sql/search_1.sql): parse -> reduce -> per-phrase posting retrieval ->
NEAR/NOT evaluation -> BM25 scoring -> global top-k.

Scoring contract (verified empirically against SQLite FTS5's bm25() and
pinned by tests/test_search_rank_identity.py):

    idf_i = ln((N - n_i + 0.5) / (n_i + 0.5)), clamped to 1e-6 when <= 0
    tf_i  = sum_col w_col * instances(phrase i, col)        (weighted)
    dl    = total tokens across columns (UNWEIGHTED)
    avgdl = sum(dl) / N                                      (unweighted)
    score = -sum_i idf_i * tf_i*(k1+1) / (tf_i + k1*(1 - b + b*dl/avgdl))

with k1=1.2, b=0.75, weights title=5.0 body=1.0 (db.go:357-361); ascending
score = best first, ties broken by rowid (FTS5 visits rowids in order).
Every scoring path (interactive, WAND/exhaustive, batch, simple_text)
uses this module's ``idf``/``idf_col``, ``bm25_term`` and ``index_avgdl``;
the interactive and batch paths analyze queries with ``analyze_query``.

NEAR semantics (empirical, matching FTS5): all include phrases must occur
in the SAME column with a selection of one instance per phrase such that
max(start) - min(end) - 1 <= N tokens. tf counts are NOT restricted to
instances inside the NEAR window.

Scale notes: a query is two bounded actions.
  1. One candidate action. Every include and exclude phrase position is a
     term-pruned postings scan (bucket-dir + row-group pruning) or, for a
     wildcard, a startswith scan of one prefix-tail dir
     (Index.prefix_rows); the scans are tagged and unioned, and ONE
     exchange groups them by rowid (a one-word, one-term query has unique
     rowids and needs none). Each phrase's index-wide df is observed
     (DataFrame.observe) on that grouped frame, beneath the match filters
     — NEAR cluster existence as a JVM expression, excludes, the space
     filter — so none of them can reach the rows it counts. A
     TakeOrdered(rowid, cap+1) heap then brings at most cap+1 rows to the
     driver: the rows FTS5's `LIMIT :cap+1` statement ranks
     (search_1.sql:29). Each row carries rowid, space, dl and either the
     phrase's tf0/tf1 (one phrase) or per-phrase start-position arrays
     (k > 1 phrases, for NEAR participation).
  2. One page fetch: the page's docs come from a rowid-bucket point lookup
     (Index.docs_for_rowids); a query with no hits skips it.
NEAR participation and BM25 run on the <= cap+1 rows in the driver, in
float64 with the same operation order as the formula above. Driver bound:
cap+1 rows, with position arrays only when k > 1.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letarette_spark.analysis.tokenizer import Analyzer
from letarette_spark.index.builder import BODY_WEIGHT, TITLE_WEIGHT, Index
from letarette_spark.query.parser import Phrase, parse_query, reduce_phrases

K1 = 1.2
B = 0.75
NEAR_RANGE = 15          # db_search.go:46-50
DEFAULT_CAP = 10000      # config.go:70
MAX_PAGE_LIMIT = 500     # searcher.go:51-52

_HITS_SCHEMA = T.StructType(
    [
        T.StructField("rowid", T.LongType()),
        T.StructField("space", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)
_POS = T.ArrayType(T.IntegerType())


def idf(ndocs: float, df: float) -> float:
    """FTS5 idf of a term or phrase found in *df* of *ndocs* documents,
    clamped to 1e-6 when <= 0."""
    v = math.log((ndocs - df + 0.5) / (df + 0.5))
    return v if v > 0.0 else 1e-6


def idf_col(n, df: Column) -> Column:
    """``idf`` as a Column expression; *n* is a number or a Column."""
    raw = F.ln((n - df + 0.5) / (df + 0.5))
    return F.when(raw <= 0.0, F.lit(1e-6)).otherwise(raw)


def bm25_term(idf, tf, dl, avgdl):
    """One summand of the BM25 score, in the contract's operation order.
    Plain operators only, so floats and Columns take the same path."""
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def term_dfs(index: Index, terms: list[str]) -> dict[str, int]:
    """df of each of *terms* found in the dictionary — one range-pruned
    term_stats scan."""
    return {
        r["term"]: int(r["df"])
        for r in index.term_stats().filter(F.col("term").isin(terms)).collect()
    }


def index_avgdl(index: Index) -> float:
    """avgdl = sum(dl) / N over the index's live documents (1.0 when empty)."""
    ndocs = int(index.meta["ndocs"])
    return float(index.meta["sum_dl"]) / ndocs if ndocs else 1.0


def _stopword_dropped(p: Phrase, alts: list[list[str]], stopwords) -> bool:
    """The single-word stopword rule: only a single-word, non-prefix phrase
    is dropped (snowball.c:248-262: a space in the phrase or the PREFIX
    flag disables it)."""
    return bool(
        stopwords
        and not p.wildcard
        and " " not in p.text
        and len(alts) == 1
        and alts[0][0] in stopwords
    )


def analyze_query(analyzer: Analyzer, stopwords, synonyms, text: str) -> tuple[list, list]:
    """Parse, reduce and analyze a query: the include ``(Phrase, alts)``
    pairs left after the stopword rule, and the exclude ``(alts,
    wildcard)`` pairs (excludes skip the stopword rule). ``alts`` holds a
    phrase's per-position term alternatives (primary + colocated
    synonyms); phrases that analyze to nothing are left out."""
    inc, exc = [], []
    for p in reduce_phrases(parse_query(text)):
        alts = analyzer.query_alternatives(p.text, synonyms=synonyms, prefix=p.wildcard)
        if not alts:
            continue
        if p.exclude:
            exc.append((alts, p.wildcard))
        elif not _stopword_dropped(p, alts, stopwords):
            inc.append((p, alts))
    return inc, exc


@dataclass
class Hit:
    space: str
    doc_id: str
    rowid: int
    score: float
    snippet: str = ""


class SearchTimeout(Exception):
    """The per-query time budget elapsed (reference: 4s default,
    config.go:69; sqlite interrupt -> SearchStatusTimeout,
    searcher.go:107-118)."""


@dataclass
class SearchResult:
    hits: list[Hit]
    total_hits: int
    capped: bool
    respelt: str = ""
    respelt_distance: int = 0
    # mirrors protocol.SearchStatusCode (protocol.go:176-186):
    # index_hit | no_hit | timeout
    status: str = "index_hit"


@dataclass
class Searcher:
    index: Index
    w_title: float = TITLE_WEIGHT
    w_body: float = BODY_WEIGHT
    cap: int = DEFAULT_CAP
    timeout: float | None = None  # seconds per query; reference default 4s
    stopwords: frozenset[str] | None = None     # None -> load from index
    synonyms: dict[str, list[str]] | None = None  # None -> load from index
    # optional result cache (reference: 250MB/10min LRU, config.go:71-72;
    # served hits are marked cache_hit, searcher.go:95-97). Invalidated
    # per-doc by upsert_documents(caches=[...]) like cache.go:183-185.
    cache: "object | None" = None  # letarette_spark.query.cache.ResultCache

    def __post_init__(self):
        from letarette_spark.index.auxiliary import load_stopwords, load_synonyms

        self.analyzer = Analyzer(self.index.analyzer_config)
        self.ndocs = int(self.index.meta["ndocs"])
        self.avgdl = index_avgdl(self.index)
        if self.stopwords is None:
            self.stopwords = load_stopwords(self.index)
        if self.synonyms is None:
            self.synonyms = load_synonyms(self.index)

    # ------------------------------------------------------------------
    def _scan(self, terms: list[str], wildcard: bool, counts: bool) -> DataFrame:
        """Hit rows of one phrase position as (rowid, space, dl, tf0, tf1,
        pos0, pos1). ``terms`` are the position's alternatives (synonym
        expansion: union of posting lists, like FTS5 colocated tokens), or
        the prefix of a wildcard, read from the prefix tail at any length.
        With ``counts`` only the per-column hit counts are kept (an exact
        term's positions are never read; a wildcard's counts are its
        position-list sizes); otherwise only the positions. A rowid repeats
        when several terms match it."""
        if wildcard:
            rows = self.index.prefix_rows(terms[0])
            tf0, tf1 = F.size("pos0"), F.size("pos1")
        else:
            # exact terms: bucket partition-dir pruning + term pushdown
            rows = self.index.postings_for_terms(terms)
            tf0, tf1 = F.col("tf0"), F.col("tf1")
        if counts:
            tf = [tf0.cast("long"), tf1.cast("long")]
            pos = [F.lit(None).cast(_POS)] * 2
        else:
            tf = [F.lit(None).cast("long")] * 2
            pos = [F.col("pos0"), F.col("pos1")]
        return rows.select(
            "rowid", "space", "dl",
            tf[0].alias("tf0"), tf[1].alias("tf1"),
            pos[0].alias("pos0"), pos[1].alias("pos1"),
        )

    # ------------------------------------------------------------------
    @staticmethod
    def _cluster_exists(n_phrases: int, phrase_lens: list[int], near: int) -> Column:
        """Pure-JVM NEAR(…, near) *existence* test over the per-phrase
        position columns p{i}c{col} — whole-stage-codegen'd, no Python.

        A selection (one instance y_j per phrase) is a cluster when
        max(start) - min(end) - 1 <= near, i.e. when some integer t lies in
        every phrase's interval union U_j = ∪_y [y - near - 1, y + len_j - 1]
        (see _near_participants). If ∩_j U_j is nonempty it contains the
        largest left endpoint among the intervals containing any common
        point, so it suffices to test t = y - near - 1 for each instance y
        of each phrase:

          ok = ∃ j, y ∈ pos_j: ∀ j' ≠ j, ∃ y' ∈ pos_j':
                 y' <= y  AND  y' >= y - near - len_j'

        This filters matches before the cap+1 rowid-order truncation, so
        the driver only ever scores the <= cap+1 rows FTS5 itself would
        rank (search_1.sql:29 binds :cap = resultCap+1)."""
        per_col = []
        for c in (0, 1):
            disj = []
            for j in range(n_phrases):
                conj = " AND ".join(
                    f"exists(p{jp}c{c}, y{jp} -> y{jp} <= yy "
                    f"AND y{jp} >= yy - {near + phrase_lens[jp]})"
                    for jp in range(n_phrases)
                    if jp != j
                )
                disj.append(f"exists(p{j}c{c}, yy -> {conj})")
            per_col.append("(" + " OR ".join(disj) + ")")
        return F.expr(f"coalesce({per_col[0]}, false) or coalesce({per_col[1]}, false)")

    # ------------------------------------------------------------------
    def _candidates(
        self,
        inc: list[list[list[str]]],
        wild: list[bool],
        exc: list[tuple[list[list[str]], bool]],
        spaces: list[str] | None,
    ) -> tuple[DataFrame, Observation]:
        """The match frame, first cap+1 matches in rowid order, and the
        Observation that fills each include phrase's index-wide df
        (``df0``…) when the frame is collected.

        ``inc[i]`` is include phrase i's per-position alternatives and
        ``wild[i]`` its wildcard flag; ``exc`` lists the excludes the same
        way. One phrase is scored from hit counts (columns tf0, tf1);
        k > 1 phrases carry start-position arrays p{i}c{col} for NEAR."""
        k = len(inc)
        phrases = [(a, w, k == 1) for a, w in zip(inc, wild)]
        phrases += [(a, w, True) for a, w in exc]
        scans, tags = [], []  # tags[p] = [(tag, counts)] per position
        for alts, wildcard, counts in phrases:
            counts = counts and len(alts) == 1
            tags.append([])
            for j, terms in enumerate(alts):
                last = wildcard and j == len(alts) - 1
                t = len(scans)
                scans.append(self._scan(terms, last, counts).withColumn("tag", F.lit(t)))
                tags[-1].append((t, counts))
        one_term = len(scans) == 1 and not wild[0] and len(inc[0][0]) == 1
        if one_term:  # rowids are unique: the grouping is the identity
            rows = scans[0].select(
                "rowid", "space", "dl",
                F.col("tf0").alias("t0c0"), F.col("tf1").alias("t0c1"),
            )
        else:
            # space and dl follow from rowid (one live version each), so
            # they are grouping keys, not string aggregates: that keeps the
            # aggregate hash-based. A sort-based one would hand TakeOrdered
            # rowid-sorted input, which it truncates per partition, and
            # the df observation would miss every row past cap+1.
            aggs = []
            for t, counts in (tc for ptags in tags for tc in ptags):
                for c in (0, 1):
                    v = F.when(F.col("tag") == t, F.col(f"{'tf' if counts else 'pos'}{c}"))
                    agg = F.sum(v) if counts else F.flatten(F.collect_list(v))
                    aggs.append(agg.alias(f"t{t}c{c}"))
            rows = _reduce(DataFrame.union, scans).groupBy("rowid", "space", "dl").agg(*aggs)

        # per phrase: a hit-count pair (one position, counts) or the
        # start positions of the whole phrase per column, and a match flag
        cols, matched = [], []
        for p, ptags in enumerate(tags):
            t0, counts = ptags[0]
            if counts:
                cols += [F.col(f"t{t0}c0").alias(f"p{p}c0"), F.col(f"t{t0}c1").alias(f"p{p}c1")]
                matched.append(F.col(f"t{t0}c0").isNotNull())
                continue
            for c in (0, 1):
                conj = " AND ".join(
                    f"array_contains(t{t}c{c}, x + {j})"
                    for j, (t, _) in enumerate(ptags) if j
                )
                starts = f"filter(t{t0}c{c}, x -> {conj})" if conj else f"t{t0}c{c}"
                cols.append(F.expr(starts).alias(f"p{p}c{c}"))
            matched.append((F.size(f"p{p}c0") > 0) | (F.size(f"p{p}c1") > 0))
        rows = rows.select(
            "rowid", "space", "dl", *cols,
            *[m.alias(f"m{p}") for p, m in enumerate(matched)],
        )
        # df is index-wide (FTS5's table-wide stats): observed BENEATH every
        # filter below — no predicate is pushed through the observation
        obs = Observation()
        rows = rows.observe(
            obs, *[F.count_if(f"m{i}").alias(f"df{i}") for i in range(k)]
        )
        if k == 1:
            cond = F.col("m0")
        else:
            # NEAR conjunction — exact existence test in pure JVM exprs
            cond = self._cluster_exists(k, [len(a) for a in inc], NEAR_RANGE)
        for p in range(k, len(tags)):
            cond = cond & ~F.col(f"m{p}")
        if spaces:
            cond = cond & F.col("space").isin(spaces)
        if k == 1:
            out = ["rowid", "space", "dl", F.col("p0c0").alias("tf0"),
                   F.col("p0c1").alias("tf1")]
            if not tags[0][0][1]:  # positions: tf = number of phrase starts
                out[3:] = [F.size("p0c0").alias("tf0"), F.size("p0c1").alias("tf1")]
        else:
            out = ["rowid", "space", "dl"] + [
                f"p{i}c{c}" for i in range(k) for c in (0, 1)
            ]
        cand = rows.filter(cond).select(*out).orderBy("rowid").limit(self.cap + 1)
        return cand, obs

    def _score(self, rows: list, dfs: list[int], lens: list[int]) -> list[tuple]:
        """(rowid, space, score) for candidate rows, in the FTS5 negative
        convention. k > 1 phrases count only NEAR-participating instances
        — FTS5 trims NEAR position lists before bm25 counts them (verified
        empirically: non-participating instances, including whole columns
        without a full cluster, contribute nothing). float64, every sum and
        product in the formula's fixed order: the driver gates hash the
        rounded scores."""
        k = len(dfs)
        idfs = [idf(self.ndocs, d) for d in dfs]
        w = (self.w_title, self.w_body)
        out = []
        for r in rows:
            if k == 1:
                tfw = [r["tf0"] * self.w_title + r["tf1"] * self.w_body]
            else:
                tfw = [0.0] * k
                for c in (0, 1):
                    counts = _near_participants(
                        [r[f"p{i}c{c}"] for i in range(k)], lens, NEAR_RANGE
                    )
                    if counts is not None:
                        for i in range(k):
                            tfw[i] += w[c] * counts[i]
            score = 0.0
            for i in range(k):
                score = score + bm25_term(idfs[i], tfw[i], r["dl"], self.avgdl)
            out.append((r["rowid"], r["space"], -score))
        return out

    # ------------------------------------------------------------------
    def search_df(
        self,
        query: str,
        spaces: list[str] | None = None,
        limit: int = 10,
        offset: int = 0,
    ) -> tuple[DataFrame | None, int, bool]:
        """Execute and return (scored top-k DataFrame, total_hits, capped).

        The DataFrame has columns (rowid, space, score) sorted best-first
        and is a local relation (collecting it runs no Spark job); None
        when the reduced query is empty (db_search.go:64-66). One Spark
        action: the candidate collect, at most cap+1 rows. A negative
        *offset* raises ValueError."""
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        limit = max(1, min(limit, MAX_PAGE_LIMIT))
        inc, exc = analyze_query(self.analyzer, self.stopwords, self.synonyms, query)
        if not inc:
            return None, 0, False
        cand, obs = self._candidates(
            [a for _p, a in inc], [p.wildcard for p, _a in inc], exc, spaces
        )
        rows = cand.collect()
        n = len(rows)
        hits = []
        if n:
            observed = obs.get
            dfs = [observed[f"df{i}"] for i in range(len(inc))]
            hits = sorted(
                self._score(rows, dfs, [len(a) for _p, a in inc]),
                key=lambda h: (h[2], h[0]),
            )[offset : offset + limit]
        return _hits_frame(self.index.spark, hits), min(n, self.cap), n > self.cap

    # ------------------------------------------------------------------
    def _with_deadline(self, fn):
        """Run *fn* under the per-query time budget: the Spark actions are
        tagged with a job group and cancelled when the budget elapses —
        the analog of the reference's 4s context deadline + sqlite
        interrupt (searcher.go:163-165, db_search.go:88-91)."""
        if not self.timeout:
            return fn()
        import threading
        import time as _time

        sc = self.index.spark.sparkContext
        group = f"lsearch-{id(self)}-{_time.monotonic_ns()}"
        out: list = []
        err: list = []

        def run():
            sc.setJobGroup(group, "letarette search deadline", True)
            try:
                out.append(fn())
            except BaseException as e:  # surfaced below
                err.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(self.timeout)
        if t.is_alive():
            sc.cancelJobGroup(group)
            raise SearchTimeout(f"query exceeded {self.timeout}s budget")
        if err:
            raise err[0]
        return out[0]

    def search(
        self,
        query: str,
        spaces: list[str] | None = None,
        limit: int = 10,
        offset: int = 0,
        autocorrect: bool = True,
        snippets: bool = True,
        strategy: int = 1,
    ) -> SearchResult:
        """Full search under the query time budget; a blown budget returns
        an empty result with status='timeout' instead of raising, exactly
        like the reference maps interrupts to SearchStatusTimeout
        (searcher.go:107-118)."""
        def run() -> SearchResult:
            try:
                return self._with_deadline(
                    lambda: self._search_impl(
                        query, spaces, limit, offset, autocorrect, snippets, strategy
                    )
                )
            except SearchTimeout:
                return SearchResult([], 0, False, status="timeout")

        if self.cache is None:
            return run()
        from letarette_spark.query.cache import cache_key

        key = cache_key(
            query, spaces, limit, offset,
            autocorrect=autocorrect, snippets=snippets, strategy=strategy,
        )
        return self.cache.get_or_compute(key, run)

    # ------------------------------------------------------------------
    def search_terms_df(
        self, words: list[str], mode: str = "or", limit: int = 10
    ) -> DataFrame | None:
        """Bag-of-words BM25 top-k over raw words — no NEAR/phrase
        semantics, FTS5 '"w1" OR "w2"' / implicit-AND equivalent (the
        engine-strength form of the relational bm25 operator). Routes
        through block-max WAND (query/wand.py, multi-term or/and) whenever
        blocks reflect the current snapshot; otherwise scores exactly from
        the bucket-pruned row postings. Returns (rowid, space, score) in
        the FTS5 negative-ascending convention, or None for an empty
        analyzed query.

        Every token of every word counts as its own term (its primary
        term; synonyms are not expanded): ``["error-handler"]`` ranks like
        ``["error", "handler"]``."""
        terms = [
            position[0]
            for w in words
            for position in self.analyzer.query_alternatives(w, synonyms=self.synonyms)
        ]
        if not terms:
            return None
        from letarette_spark.index.blocks import has_blocks
        from letarette_spark.query.wand import exhaustive_topk, wand_topk

        blocks_current = has_blocks(self.index) and not self.index.segments
        topk = wand_topk if blocks_current else exhaustive_topk
        return topk(
            self.index, terms, k=limit, mode=mode,
            w_title=self.w_title, w_body=self.w_body,
        )

    def _search_impl(
        self,
        query: str,
        spaces: list[str] | None = None,
        limit: int = 10,
        offset: int = 0,
        autocorrect: bool = True,
        snippets: bool = True,
        strategy: int = 1,
    ) -> SearchResult:
        """strategy mirrors the reference's Search.Strategy (sql.go:25-27):
        1 = windowed snippet around the first match (search_1.sql),
        3 = title as snippet, skipping re-tokenization (search_3.sql:16-49).
        (Strategy 2 is a join-order variant with identical results — join
        planning is Catalyst's job here, so it maps to strategy 1.)"""
        df, total, capped = self.search_df(query, spaces, limit, offset)
        respelt = ""
        respelt_distance = 0
        if total == 0 and autocorrect:
            fixed_q, dist, changed = self._respell(query)
            if changed:
                respelt, respelt_distance = fixed_q, dist
                query = fixed_q
                df, total, capped = self.search_df(query, spaces, limit, offset)
        if df is None:
            return SearchResult([], 0, False, respelt, respelt_distance, "no_hit")
        page = df.collect() if total else []  # local relation: no job
        docs = {}
        if page:
            # the page's docs by rowid-bucket point lookup (<= page limit)
            docs = {
                r["rowid"]: r
                for r in self.index.docs_for_rowids([h["rowid"] for h in page])
                .filter(F.col("alive"))
                .select("rowid", "doc_id", "title", "body")
                .collect()
            }
        rows = [(h, docs[h["rowid"]]) for h in page if h["rowid"] in docs]
        status = "index_hit" if total > 0 else "no_hit"
        if strategy == 3:
            hits = [
                Hit(h["space"], d["doc_id"], h["rowid"], h["score"], d["title"])
                for h, d in rows
            ]
            return SearchResult(hits, total, capped, respelt, respelt_distance, status)
        phrase_alts: list[list[list[str]]] = []
        if snippets:
            from letarette_spark.query.snippets import SnippetBuilder

            builder = SnippetBuilder(self.analyzer)
            inc, _exc = analyze_query(
                self.analyzer, self.stopwords, self.synonyms, query
            )
            phrase_alts = [alts for _p, alts in inc]
        hits = []
        for h, d in rows:
            snip = ""
            if phrase_alts:
                snip = builder.snippet(d["title"], d["body"], phrase_alts)
            hits.append(Hit(h["space"], d["doc_id"], h["rowid"], h["score"], snip))
        return SearchResult(hits, total, capped, respelt, respelt_distance, status)

    # ------------------------------------------------------------------
    def _respell(self, query: str) -> tuple[str, int, bool]:
        """Zero-hit respell (searcher.go:54-76 + db_spelling.go:56-96):
        single-word, non-stopword phrases whose term has no hits are
        replaced by the closest dictionary word; multi-word phrases are
        skipped. Returns (fixed query, summed distance, changed?).

        Batched: ALL candidate terms are existence-checked in one
        term_stats scan, and all unknown terms are corrected in one
        speling-table scan — a whole respell attempt costs two Spark jobs
        regardless of query length (round-2 verdict task #6)."""
        from letarette_spark.query.spelling import respell_terms

        phrases = reduce_phrases(parse_query(query))
        # pass 1: which phrases are single-word, non-stopword candidates?
        cand: dict[int, str] = {}
        for i, p in enumerate(phrases):
            if " " in p.text or p.wildcard:
                continue
            alts = self.analyzer.query_alternatives(p.text)
            if not alts:
                continue
            term = alts[0][0]
            if self.stopwords and term in self.stopwords:
                continue
            cand[i] = term
        unknown: list[str] = []
        if cand:
            existing = term_dfs(self.index, sorted(set(cand.values())))
            unknown = sorted({t for t in cand.values() if t not in existing})
        fixes = respell_terms(self.index, unknown) if unknown else {}

        changed = False
        dist_sum = 0
        fixed: list[Phrase] = []
        for i, p in enumerate(phrases):
            res = fixes.get(cand.get(i, ""))
            if res is None:
                fixed.append(p)
                continue
            word, dist = res
            fixed.append(Phrase(word, wildcard=p.wildcard, exclude=p.exclude))
            dist_sum += dist
            changed = True
        return " ".join(str(p) for p in fixed), dist_sum, changed


def _hits_frame(spark, hits: list[tuple]) -> DataFrame:
    """(rowid, space, score) rows as a local relation: built from an Arrow
    table, so collecting it runs no Spark job."""
    import pyarrow as pa

    cols = list(zip(*hits)) or [(), (), ()]
    return spark.createDataFrame(
        pa.table(
            [
                pa.array(cols[0], pa.int64()),
                pa.array(cols[1], pa.string()),
                pa.array(cols[2], pa.float64()),
            ],
            names=_HITS_SCHEMA.names,
        ),
        _HITS_SCHEMA,
    )


def _merge_intervals(iv: list[tuple[int, int]]) -> list[tuple[int, int]]:
    iv.sort()
    out: list[tuple[int, int]] = []
    for lo, hi in iv:
        if out and lo <= out[-1][1] + 1:
            if hi > out[-1][1]:
                out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    return out


def _intersect(a: list[tuple[int, int]], b: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out = []
    i = j = 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo <= hi:
            out.append((lo, hi))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _near_participants(
    lists: list[list[int]], lens: list[int], near: int
) -> list[int] | None:
    """NEAR participation within one column.

    A selection (one instance per phrase) is a cluster when
    max(start) - min(end) - 1 <= near. Equivalently: there is an integer t
    with, for every phrase j, some instance y_j satisfying
    y_j - near - 1 <= t <= y_j + lens[j] - 1 (t plays the role of the
    minimum end). Instance y of phrase i *participates* iff its own
    t-interval meets the intersection of the other phrases' interval
    unions. Returns per-phrase participating-instance counts, or None when
    no cluster exists (the column contributes nothing)."""
    k = len(lists)
    if any(not l for l in lists):
        return None
    unions = [
        _merge_intervals([(y - near - 1, y + lens[i] - 1) for y in lists[i]])
        for i in range(k)
    ]
    total = unions[0]
    for u in unions[1:]:
        total = _intersect(total, u)
        if not total:
            return None
    counts = []
    for i in range(k):
        others = None
        for j in range(k):
            if j == i:
                continue
            others = unions[j] if others is None else _intersect(others, unions[j])
        c = 0
        for y in lists[i]:
            iv = [(y - near - 1, y + lens[i] - 1)]
            if others is None or _intersect(iv, others):
                c += 1
        counts.append(c)
    return counts
