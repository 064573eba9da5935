"""The benchmark's workloads. Each drives the package's public API from one
client thread as a closed loop (one operation in flight) and returns a
``Measured`` record, which the run module turns into metrics.

- ``churn``: a Letarette worker's life. Set-up is the bootstrap: build the
  index, then its spelling table and stopwords (the WAND blocks come with
  the first housekeeping pass, as upserts drop them anyway). Each cycle then
  applies one upsert batch, queries over the delta segment, runs
  housekeeping (compaction and the block rebuild), and queries the clean
  index. Exercises the build, query, incremental and compaction layers.
- ``curate``: the training-data operators over the same kind of corpus and
  its embeddings. Exercises ``functions/``, which the engine never touches.

Results are checked after the clock stops: every query against a live
FTS5 twin of the corpus, and the planted duplicates against the curation
operators. A wrong result counts as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import gen
import oracle
import tracing

N_DOCS = 600
CAP = 100                 # result cap: head terms exceed it, so the capped path runs
LIMIT = 10
UPSERT_BATCH = 40
QUERIES_PER_PHASE = 5
PROBES_PER_OP = 3          # before each of the five operators and after the last: 18 a pass
WARMUP_PROBES = 6
# the builder's default of 16 partitions is sized for large corpora; on
# this one it only adds tasks, and so set-up time
BUILD_PARTITIONS = 4
PAIRED_OPS = 6             # traced runs: operations also run untraced, for the overhead
CURATE_SETUPS = 3
DOCS_SCHEMA = "rowid long, doc_id string, space string, title string, body string, alive boolean"


@dataclass
class Measured:
    setup_s: float
    latencies_ms: list[float]          # the workload's foreground operation
    items: float                       # work units done in item_s seconds
    item_s: float
    cpu_ms: list[float] = field(default_factory=list)    # CPU time of each foreground op
    item_cpu_s: float = 0.0            # CPU time of the item_s seconds
    attempted: int = 0
    failed: int = 0
    overhead_ms: list[float] = field(default_factory=list)
    gauges: dict[str, float] = field(default_factory=dict)
    ops: list[tuple] = field(default_factory=list)       # traced: (span, cls, ms)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    return tracing.tree_cpu_s(os.getpid())


def _rows(docs, alive=True):
    return [(d.rowid, d.doc_id, d.space, d.title, d.body, alive) for d in docs]


class Engine:
    """The engine surface one workload drives, with its FTS5 twin."""

    def __init__(self, spark, tracer, root: str):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.searcher = None

    def bootstrap(self, corpus):
        from letarette_spark.analysis.tokenizer import AnalyzerConfig
        from letarette_spark.index import auxiliary, builder
        from letarette_spark.query import spelling

        shutil.rmtree(self.root, ignore_errors=True)
        df = self.spark.createDataFrame(_rows(corpus.docs), DOCS_SCHEMA)
        builder.build_index(self.spark, df, self.root, config=AnalyzerConfig(mode="porter"),
                            n_build_partitions=BUILD_PARTITIONS)
        idx = builder.Index.open(self.spark, self.root)
        spelling.build_speling_table(idx)
        auxiliary.update_stopwords(idx)
        self.reopen()

    def reopen(self):
        from letarette_spark.index.builder import Index
        from letarette_spark.query.executor import Searcher

        with self.tracer.span("index.open"):
            self.searcher = Searcher(Index.open(self.spark, self.root), cap=CAP)

    def query(self, q, m: Measured, twin, paired: bool):
        """One timed search, checked against the twin after the clock stops."""

        res = timed(self.tracer, m, "search.query",
                    lambda: self.searcher.search(q.text, limit=LIMIT),
                    paired, count=lambda r: len(r.hits), cls=q.cls)
        if res is not None and twin is not None:
            err = oracle.check(twin, q.text, res, CAP, LIMIT)
            if err:
                m.failed += 1
                log(f"mismatch ({q.cls}): {err}")

    def index_bytes(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for name in os.listdir(self.root):
            comp = name.split(".")[0]
            comp = {"speling": "spelling", "_manifest": "meta", "stopwords": "meta"}.get(comp, comp)
            p = os.path.join(self.root, name)
            size = os.path.getsize(p) if os.path.isfile(p) else sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(p) for f in fs
            )
            out[comp] = out.get(comp, 0) + size
        return out


def timed(tracer, m: Measured, name: str, fn, paired: bool, count=len, **attrs):
    """Run the foreground operation *fn* once and record its latency;
    ``count(result)`` is the number of hits it returned. With *paired*, the
    first PAIRED_OPS operations run twice, traced and untraced in
    alternating order, and the latency difference is recorded as tracing
    overhead; the traced latency is the one kept."""
    paired = paired and len(m.overhead_ms) < PAIRED_OPS
    order = [True, False] if len(m.latencies_ms) % 2 == 0 else [False, True]
    runs = {}
    result = None
    was = tracer.enabled
    for traced in (order if paired else [was]):
        tracer.enabled = traced
        m.attempted += 1
        # CPU is read outside the span: each reading walks /proc, which
        # would otherwise show as time no child span covers
        c0 = cpu_s()
        span = tracer.start(name, **attrs)
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # an engine error is a failed operation
            m.failed += 1
            log(f"{name} {attrs} raised {e!r}")
            return None
        finally:
            ms = (time.perf_counter() - t0) * 1e3
            tracer.end(span)
            tracer.enabled = was
            cpu_ms = (cpu_s() - c0) * 1e3
        if span is not None:
            span.attrs["hits"] = count(result)
            m.ops.append((span, attrs.get("cls", ""), ms))
        runs[traced] = ms, cpu_ms
        log(f"{name} {attrs.get('cls', '')} {ms:.0f} ms, {cpu_ms:.0f} CPU ms")
    if paired:
        m.overhead_ms.append(runs[True][0] - runs[False][0])
    ms, cpu_ms = runs[True] if paired else runs[was]
    m.latencies_ms.append(ms)
    m.cpu_ms.append(cpu_ms)
    return result


def _doc_bytes(docs) -> int:
    return sum(len(d.title.encode()) + len(d.body.encode()) for d in docs)


def _index_gauges(eng: Engine, docs) -> dict[str, float]:
    sizes = eng.index_bytes()
    g = {f"builder.bytes.{k}": float(sizes.get(k, 0))
         for k in ("postings", "docs", "prefix", "term_stats", "blocks", "spelling")}
    g["builder.index_bytes_per_doc_byte"] = sum(sizes.values()) / _doc_bytes(docs)
    return g


def _tokenize_probe(spark, tracer, corpus) -> None:
    """Traced runs only: the analysis stage alone, forced with a no-op
    sink, so tokenize/stem cost is visible apart from the build's writes."""
    from letarette_spark.analysis.tokenizer import AnalyzerConfig
    from letarette_spark.index.builder import tokenize_postings

    df = spark.createDataFrame(_rows(corpus.docs), DOCS_SCHEMA)
    with tracer.span("analysis.tokenize"):
        tokenize_postings(df, AnalyzerConfig(mode="porter")).write.format("noop").mode(
            "overwrite").save()


def run_churn(spark, tracer, work: str, seed: int, seconds: float, traced: bool) -> Measured:
    """Whole cycles until *seconds* have passed, at least one. A cycle is
    one upsert batch (replaced, new and tombstoned docs) and a reopened
    Searcher, QUERIES_PER_PHASE queries over the delta segment, a
    housekeeping pass that compacts and rebuilds the blocks, and
    QUERIES_PER_PHASE queries over the clean index, where single-term
    queries may take the block-max WAND route."""
    from letarette_spark.index import incremental
    from letarette_spark.streaming import indexer

    corpus = gen.make_corpus(seed, N_DOCS)
    twin = oracle.Fts5Twin(corpus.docs)
    queries = gen.make_queries(seed, corpus, 500,
                               has_hits=lambda text: twin.search(text, CAP, LIMIT)[1] > 0)
    batches = gen.make_upserts(seed, corpus, 10, UPSERT_BATCH)
    eng = Engine(spark, tracer, os.path.join(work, "index"))

    t0 = time.perf_counter()
    eng.bootstrap(corpus)
    setup_s = time.perf_counter() - t0
    twin.refresh_stopwords()
    m = Measured(setup_s, [], 0.0, 0.0)
    m.gauges.update(_index_gauges(eng, corpus.docs))
    if traced:
        _tokenize_probe(spark, tracer, corpus)
    rank = {w: i for i, w in enumerate(corpus.words)}

    upsert_ms: list[float] = []
    write_ms: list[float] = []
    phase_ms: dict[str, list[float]] = {"segmented": [], "clean": []}
    segs: list[int] = []
    qi = 0

    def phase(name: str) -> None:
        nonlocal qi
        n0 = len(m.latencies_ms)
        for _ in range(QUERIES_PER_PHASE):
            segs.append(len(eng.searcher.index.segments))
            eng.query(queries[qi % len(queries)], m, twin, paired=traced)
            qi += 1
        phase_ms[name].extend(m.latencies_ms[n0:])

    def write(span: str, fn) -> bool:
        m.attempted += 1
        c = cpu_s()
        t = time.perf_counter()
        try:
            with tracer.span(span):
                fn()
            eng.reopen()
        except Exception as e:  # an engine error is a failed operation
            m.failed += 1
            log(f"{span} raised {e!r}")
            return False
        write_ms.append((time.perf_counter() - t) * 1e3)
        m.item_cpu_s += cpu_s() - c
        log(f"{span} {write_ms[-1]:.0f} ms")
        return True

    start = time.perf_counter()
    cycle = 0
    while cycle == 0 or time.perf_counter() - start < seconds:
        b = batches[cycle % len(batches)]
        df = spark.createDataFrame(_rows(b.docs) + _rows(b.deleted, alive=False), DOCS_SCHEMA)
        if not write("incremental.upsert",
                     lambda: incremental.upsert_documents(spark, eng.root, df)):
            break
        upsert_ms.append(write_ms[-1])
        m.items += len(b.docs) + len(b.deleted)
        gone = _own_term(twin, b.deleted, rank)
        twin.apply(b)
        fresh = _own_term(twin, [d for d in b.docs if d.doc_id.startswith("n")], rank)
        m.failed += _check_fresh_and_deleted(eng, twin, fresh, gone, m)
        phase("segmented")
        if not write("indexer.housekeeping", lambda: indexer.run_housekeeping(
                spark, eng.root, compact_segments_over=0)):
            break
        twin.refresh_stopwords()
        phase("clean")
        cycle += 1
    m.item_s = sum(write_ms) / 1e3
    m.gauges["churn.upsert_p50_ms"] = statistics.median(upsert_ms) if upsert_ms else 0.0
    for name, lat in phase_ms.items():
        m.gauges[f"search.{name}.p50_ms"] = statistics.median(lat) if lat else 0.0
    m.gauges["index.segments_per_query"] = statistics.mean(segs) if segs else 0.0
    twin.close()
    return m


def _own_term(twin, docs, rank) -> tuple | None:
    """(doc, word): the first of *docs* with a word whose top LIMIT
    results in the twin hold that doc, trying its rarest words first."""
    for d in docs:
        words = {t.strip(".").lower() for t in f"{d.title} {d.body}".split(" ")}
        for w in sorted(words, key=lambda w: -rank.get(w, -1))[:3]:
            if d.rowid in {r for r, _ in twin.search(w, CAP, LIMIT)[0]}:
                return d, w
    return None


def _check_fresh_and_deleted(eng: Engine, twin, fresh, gone, m: Measured) -> int:
    """Untimed: a fresh doc is found by a rare word of its own, and a
    tombstoned doc is not, by a word that found it before the upsert.
    Both results must also equal the twin's."""
    bad = 0
    was, eng.tracer.enabled = eng.tracer.enabled, False
    try:
        for pick, want in ((fresh, True), (gone, False)):
            if pick is None:
                continue
            d, w = pick
            m.attempted += 1
            res = eng.searcher.search(w, limit=LIMIT, autocorrect=False)
            err = oracle.check(twin, w, res, CAP, LIMIT)
            if (d.doc_id in {h.doc_id for h in res.hits}) != want:
                err = (f"{'fresh' if want else 'tombstoned'} doc {d.doc_id} "
                       f"{'missing from' if want else 'returned by'} search {w!r}")
            if err:
                bad += 1
                log(err)
    finally:
        eng.tracer.enabled = was
    return bad


def run_curate(spark, tracer, work: str, seed: int, seconds: float, traced: bool) -> Measured:
    """Passes over the training-data operators until *seconds* have
    passed. The foreground operation is the IVF-PQ probe; items are the
    docs of whole passes."""
    import random

    from pyspark.sql import functions as F

    from letarette_spark.functions import bpe, dsir, pipeline, pq, semdedup, similarity

    corpus = gen.make_corpus(seed, N_DOCS)
    rng = random.Random(seed)
    n = len(corpus.docs)
    held = rng.sample(range(n - len(corpus.low_quality)), 8)
    probe_ids = [corpus.docs[i].rowid for i in rng.sample(range(n), 64)]

    def setup():
        docs = spark.createDataFrame(
            [(d.doc_id, d.space, d.body) for d in corpus.docs],
            "doc_id string, space string, text string",
        ).persist()
        emb = spark.createDataFrame(
            [(d.rowid, [float(x) for x in v]) for d, v in zip(corpus.docs, corpus.embeddings)],
            "vec_id long, embedding array<double>",
        ).persist()
        docs.count()
        emb.count()
        return docs, emb

    # set-up is cheap here, so it is repeated and the median reported
    setups = []
    for k in range(CURATE_SETUPS):
        t0 = time.perf_counter()
        docs, emb = setup()
        setups.append(time.perf_counter() - t0)
        if k + 1 < CURATE_SETUPS:
            docs.unpersist(blocking=True)
            emb.unpersist(blocking=True)
    setup_s = statistics.median(setups)
    bench = spark.createDataFrame(
        [(f"b{k}", " ".join(corpus.docs[i].body.split(" ")[5:25])) for k, i in enumerate(held)],
        "doc_id string, text string",
    )
    m = Measured(setup_s, [], 0.0, 0.0)
    by_rowid = {d.rowid: d.doc_id for d in corpus.docs}
    index_path = os.path.join(work, "pq_index")

    def op(name, fn):
        m.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(name):
                return fn()
        except Exception as e:
            m.failed += 1
            log(f"{name} raised {e!r}")
            return None
        finally:
            log(f"{name} {(time.perf_counter() - t) * 1e3:.0f} ms")

    def probe_some() -> None:
        nonlocal probes
        for _ in range(PROBES_PER_OP):
            qid = probe_ids[probes % len(probe_ids)]
            vec = [float(x) for x in corpus.embeddings[qid - 1]]
            got = timed(tracer, m, "pq.pq_index_topk", lambda: pq.pq_index_topk(
                spark, index_path, vec, cents, books, k=5, nprobe=2).collect(), traced)
            probes += 1
            if got is not None and len(got) != 5:
                m.failed += 1
                log(f"pq_index_topk returned {len(got)} rows")

    start = time.perf_counter()
    passes = probes = 0
    while passes == 0 or time.perf_counter() - start < seconds:
        c0 = cpu_s()
        p0 = time.perf_counter()
        cents = op("similarity.ivf_centroids", lambda: similarity.ivf_centroids(emb, n_cells=8, n_iter=1))
        books = op("pq.pq_codebooks", lambda: pq.pq_codebooks(emb, m=8, k=16, n_iter=1))
        wrote = bool(cents and books) and op(
            "pq.pq_index_write", lambda: pq.pq_index_write(emb, index_path, cents, books) or True)
        for i in range(WARMUP_PROBES if wrote else 0):  # warm-up, not samples
            pq.pq_index_topk(spark, index_path, [float(x) for x in corpus.embeddings[i]],
                             cents, books, k=5, nprobe=2).collect()
        # probes are spread over the pass, so a short stall of the host
        # cannot move all of them at once
        got = {}
        for name, fn in (
            ("pipeline.prepare_training_data", lambda: pipeline.prepare_training_data(
                docs.select("doc_id", "text"), benchmark=bench).collect()),
            ("semdedup.semdedup_kept", lambda: semdedup.semdedup_kept(
                emb, n_cells=8, threshold=0.95).collect()),
            ("similarity.hard_negatives", lambda: similarity.hard_negatives(
                emb, probe_ids[:16], k=5).collect()),
            ("dsir.dsir_sample", lambda: dsir.dsir_sample(
                docs.select("doc_id", "text"), target=docs.filter(F.col("space") == "wiki")
                .select("doc_id", "text"), k=100).collect()),
            ("bpe.bpe_train", lambda: bpe.bpe_train(docs.select("doc_id", "text"), n_merges=4)),
        ):
            if wrote:
                probe_some()
            got[name] = op(name, fn)
        if wrote:
            probe_some()
        m.item_s += time.perf_counter() - p0
        m.item_cpu_s += cpu_s() - c0
        m.items += n
        passes += 1
        audit, kept = got["pipeline.prepare_training_data"], got["semdedup.semdedup_kept"]
        hn, sample, merges = (got["similarity.hard_negatives"], got["dsir.dsir_sample"],
                              got["bpe.bpe_train"])

        # untimed result checks
        if audit is not None:
            reason = {r[0]: r[2] for r in audit}
            for copy in corpus.exact_dups:
                m.attempted += 1
                if reason.get(copy) != "exact_dup":
                    m.failed += 1
                    log(f"planted exact duplicate {copy} has reason {reason.get(copy)!r}")
        if kept is not None:
            ids = {by_rowid.get(r[0]) for r in kept}
            for a, b in corpus.near_dups.items():
                m.attempted += 1
                if a in ids and b in ids:
                    m.failed += 1
                    log(f"semdedup kept both {a} and its near duplicate {b}")
        for name, got, ok in (
            ("hard_negatives", hn, lambda g: 0 < len(g) <= 16 * 5),
            ("dsir_sample", sample, lambda g: len(g) == 100),
            ("bpe_train", merges, lambda g: 0 < len(g) <= 4),
        ):
            if got is not None and not ok(got):
                m.failed += 1
                log(f"{name} returned {len(got)} rows")
    docs.unpersist()
    emb.unpersist()
    return m


WORKLOADS = {"churn": run_churn, "curate": run_curate}
