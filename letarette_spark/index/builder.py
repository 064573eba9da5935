"""Inverted-index build: docs DataFrame → postings / term_stats / docs tables.

Spark-first dataflow (SURVEY.md §3.3, replacing the reference's SQLite
trigger-maintained FTS5 index, migrations/1_init.up.sql:65-97):

  docs ── mapInArrow(tokenize+per-doc aggregate) ──> posting rows
       (term, rowid, tf/positions per column, dl)     [NO shuffle: the
        per-(doc,term) aggregation happens inside the Arrow batch]
       ── hash-bucket shuffle (md5(term) % n_buckets) + partitionBy(bucket)
        + sortWithinPartitions(bucket, term, rowid) ──> partition-dir
        pruning is EXACT for query terms and the term-sorted files add
        row-group min/max pruning (the analog of FTS5's term B-tree);
        a sampler-free hash shuffle, unlike repartitionByRange, runs the
        tokenize stage exactly once
  postings ── groupBy(term).agg(count, sum) ──> term_stats
        [1 row per (term, rowid) already, so df == count(*): a pure
         partial-aggregatable shuffle — no distinct, no skew blowup]

The build is chunked by a stable hash of doc_id; each chunk commits its
files plus a lineage record, so a killed build resumes from the last
committed chunk (manifest.py). Statistics and the query-visible snapshot
commit only after every chunk is durable.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce
from typing import Iterator

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letarette_spark.analysis.tokenizer import Analyzer, AnalyzerConfig
from letarette_spark.index.manifest import Manifest, data_dirs

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("rowid", T.LongType(), False),
        T.StructField("space", T.StringType(), True),
        T.StructField("tf0", T.IntegerType(), False),   # title hits
        T.StructField("tf1", T.IntegerType(), False),   # body hits
        T.StructField("pos0", T.ArrayType(T.IntegerType()), False),
        T.StructField("pos1", T.ArrayType(T.IntegerType()), False),
        T.StructField("dl", T.IntegerType(), False),    # unweighted total tokens
    ]
)

TITLE_WEIGHT = 5.0  # reference rank config bm25(5.0, 1.0), db.go:357-361
BODY_WEIGHT = 1.0

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("rowid", T.LongType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("space", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("alive", T.BooleanType(), True),
    ]
)

TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), True),
        T.StructField("cnt", T.LongType(), True),
    ]
)


# postings as read back: the writer's columns plus the bucket partition dir
POSTINGS_READ_SCHEMA = T.StructType(
    POSTINGS_SCHEMA.fields + [T.StructField("bucket", T.IntegerType())]
)
# docs as read back: the writer's columns plus the rowid-bucket partition dir
DOCS_READ_SCHEMA = T.StructType(
    DOCS_SCHEMA.fields + [T.StructField("rb", T.IntegerType())]
)
TOMBSTONES_SCHEMA = T.StructType([T.StructField("rowid", T.LongType())])

# the most rowid literals the segment overlay's filters may carry, summed
# over its union branches; above it the overlay joins a broadcast tombstone
# set instead. Measured with tools/bench_overlay.py (PLANS.md §1b): per
# query, literals cost less CPU than the broadcast up to ~300, the same at
# 1k, more from 3k (10k: twice; 30k: six times).
OVERLAY_MAX_LITERALS = 1_000


def _parquet_or_empty(
    spark: SparkSession,
    read_path: str,
    guard_dir: str,
    schema,
    base_path: str | None = None,
):
    """Read parquet with the schema the writer used — no footer-reading
    inference job per call; partition dirs (chunk=, rb=, bucket=) are
    still discovered from the paths. When the read fails but *guard_dir*
    EXISTS (a zero-row write left a footerless dir), fall back to an empty
    frame with that schema. A missing dir (index corruption / wrong root)
    stays a hard error — silent emptiness loses data."""
    from pyspark.errors import AnalysisException

    try:
        reader = spark.read.schema(schema)
        if base_path:
            reader = reader.option("basePath", base_path)
        return reader.parquet(read_path)
    except AnalysisException:
        if os.path.isdir(guard_dir):
            return spark.createDataFrame([], schema)
        raise


def _read_tree(spark: SparkSession, base_dir: str, glob: str, schema):
    return _parquet_or_empty(
        spark, os.path.join(base_dir, glob), base_dir, schema,
        base_path=base_dir,
    )


def _data_entries(path: str) -> list[str]:
    """Paths of the data files or partition dirs of one written parquet
    dir: every entry but Spark's hidden ones (_SUCCESS, .crc). A zero-row
    write leaves none. A missing dir raises FileNotFoundError."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"index data dir missing: {path}")
    return [
        os.path.join(path, n)
        for n in sorted(os.listdir(path))
        if not n.startswith(("_", "."))
    ]


def _rowid_not_in(rowids: set[int]):
    """`NOT rowid IN (...)` as one parsed SQL expression: one driver call
    however many rowids, where Column.isin makes one per literal. None for
    an empty set (nothing to drop)."""
    if not rowids:
        return None
    return F.expr(f"NOT rowid IN ({','.join(map(str, sorted(rowids)))})")


DEFAULT_BUCKETS = 64
DEFAULT_DOC_BUCKETS = 16  # rowid-hash partition dirs for the docs table
PREFIX_BUCKETS = 64  # prefix-tail dirs keyed by hash of the FIRST character
# bumped whenever the on-disk layout changes shape; Index.open refuses any
# other version, so readers never branch on older layouts
LAYOUT_VERSION = 5

PREFIX_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("rowid", T.LongType(), False),
        T.StructField("space", T.StringType(), True),
        T.StructField("dl", T.IntegerType(), False),
        T.StructField("pos0", T.ArrayType(T.IntegerType()), False),
        T.StructField("pos1", T.ArrayType(T.IntegerType()), False),
    ]
)


def bucket_expr(n_buckets: int, term_col: str = "term"):
    """Portable term bucket: first 8 hex digits of md5 mod n_buckets —
    computable identically in Spark SQL and driver-side Python, so query
    terms map straight to partition directories (exact pruning)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(term_col)), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def bucket_of(term: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def write_postings(
    postings: DataFrame, path: str, n_buckets: int, n_files: int
) -> None:
    """Write posting rows in the bucketed layout every reader assumes:
    partitionBy(bucket = md5(term) % n_buckets) dirs give EXACT partition
    pruning for query terms, and term-sorted files add row-group min/max
    pruning for prefix scans. A hash shuffle has no sampling pass (unlike
    repartitionByRange), so the upstream runs exactly once."""
    (
        postings.withColumn("bucket", bucket_expr(n_buckets))
        .repartition(n_files, "bucket")
        .sortWithinPartitions("bucket", "term", "rowid")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )


def term_aggregate(postings: DataFrame) -> DataFrame:
    """Per-term (df, cnt). Postings hold one row per (term, rowid), so df
    is count(*): a partial-aggregatable shuffle with no distinct."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("tf0") + F.col("tf1")).alias("cnt"),
    )


def observed_write(frame: DataFrame, write, **aggs) -> dict[str, int]:
    """Run ``write(frame)`` with the named aggregates observed on it and
    return their values. Every aggregate here counts rows or is a
    coalesced sum, so the values are 0 when Spark proves the plan empty and
    drops its CollectMetrics node: the observation then completes as an
    empty row, which ``Observation.get`` cannot convert."""
    obs = Observation()
    write(frame.observe(obs, *[c.alias(k) for k, c in aggs.items()]))
    if obs._jo.getRow().length() == 0:
        return dict.fromkeys(aggs, 0)
    return {k: int(v) for k, v in obs.get.items()}


def write_term_stats(
    term_stats: DataFrame, path: str, n_files: int
) -> tuple[int, int]:
    """Write a term_stats table range-partitioned and sorted by term
    (lookups range-prune by term) and return its (nterms, sum_dl), observed
    on the write itself: sum over terms of cnt == total tokens == sum over
    docs of dl, so neither a postings scan nor a read-back is needed.

    repartitionByRange SAMPLES its child: without the persist the upstream
    would run twice (sample pass + write pass). The frame is one row per
    term — cheap to hold. The observation sits above the range exchange,
    so only the write pass counts rows."""
    ts = term_stats.persist()
    try:
        got = observed_write(
            ts.repartitionByRange(max(2, n_files), "term").sortWithinPartitions(
                "term"
            ),
            lambda d: d.write.mode("overwrite").parquet(path),
            nterms=F.count(F.lit(1)),
            sum_dl=F.coalesce(F.sum("cnt"), F.lit(0)),
        )
    finally:
        ts.unpersist()
    return got["nterms"], got["sum_dl"]


def docs_bucket_expr(docs_buckets: int):
    """Rowid-bucket dir of a doc row: rb = pmod(rowid, docs_buckets)."""
    return F.pmod(F.col("rowid"), F.lit(docs_buckets)).cast("int")


def write_docs(docs: DataFrame, path: str, docs_buckets: int) -> tuple[int, int]:
    """Write doc rows in the rowid-bucket layout every reader assumes
    (path/rb=<pmod(rowid, docs_buckets)>/): point lookups by rowid (the
    upsert's old-version fetch, the page fetch) read only their keys'
    dirs. Returns the (rows, alive) counts observed on the write. A caller
    that wants one file per bucket hash-repartitions by docs_bucket_expr
    first; the upsert writes its small batch without an exchange."""
    got = observed_write(
        docs,
        lambda d: d.withColumn("rb", docs_bucket_expr(docs_buckets))
        .write.partitionBy("rb")
        .mode("overwrite")
        .parquet(path),
        rows=F.count(F.lit(1)),
        alive=F.count_if(F.col("alive")),
    )
    return got["rows"], got["alive"]


def prefix_bucket_expr(term_col: str = "term"):
    """Partition bucket of the prefix tail: hash of the FIRST character
    only, so every term a wildcard can match — whatever the prefix's
    length — lives in one dir."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.substring(F.col(term_col), 1, 1)), 1, 8), 16, 10
        ).cast("long"),
        F.lit(PREFIX_BUCKETS),
    ).cast("int")


def prefix_bucket_of(prefix: str) -> int:
    return bucket_of(prefix[:1], PREFIX_BUCKETS)


def write_term_ranges(postings: DataFrame, dest: str, n_files: int) -> None:
    """Write the term-range tail that serves every wildcard query: the
    postings' (term, rowid, space, dl, pos0, pos1) laid out by first-char
    bucket (dest/pb=<bucket>/) and sorted by (term, rowid) within files.

    FTS5 answers `par*` with a term-range scan of its term-ordered B-tree;
    the reference's prefix='2 3 4' indexes (1_init.up.sql:96) only speed
    that scan up. Our main postings are hash-bucketed for exact-term
    pruning, so range scans get this ordered copy: a lookup reads one
    partition dir with a startswith predicate that row-group-prunes on the
    sorted term column — O(matching postings) at any prefix length and
    vocabulary size. Postings hold one row per (term, rowid), so the
    layout needs one hash exchange and no aggregation."""
    (
        postings.select("term", "rowid", "space", "dl", "pos0", "pos1")
        .withColumn("pb", prefix_bucket_expr())
        .repartition(max(2, n_files), "pb")
        .sortWithinPartitions("pb", "term", "rowid")
        .write.partitionBy("pb")
        .mode("overwrite")
        .parquet(dest)
    )


def write_term_tables(
    postings: DataFrame, ts_path: str, prefix_path: str, n_files: int
) -> tuple[int, int]:
    """Write the two tables derived from a whole postings frame, term_stats
    and the prefix tail, and return term_stats' (nterms, sum_dl). The two
    writes are independent scans into disjoint dirs: they run as
    concurrent jobs, so each one's straggler tail back-fills the other's
    cores (Spark schedules concurrent jobs FIFO). Both threads carry the
    caller's job group and tags."""
    inherit = inheritable_thread_target(postings.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        ts = pool.submit(inherit(
            lambda: write_term_stats(term_aggregate(postings), ts_path, n_files)
        ))
        pf = pool.submit(inherit(
            lambda: write_term_ranges(postings, prefix_path, max(4, n_files))
        ))
        pf.result()
        return ts.result()


def tokenize_postings(docs: DataFrame, config: AnalyzerConfig) -> DataFrame:
    """Vectorized tokenize + in-batch per-(doc, term) aggregation.

    One posting row per distinct term per document, carrying per-column
    term frequencies, position lists (for phrase/NEAR evaluation) and the
    document's unweighted token count (dl) — denormalized so BM25 scoring
    never joins a doc-length table.

    Emits Arrow RecordBatches directly (mapInArrow) with position lists as
    native ListArrays over flat int32 buffers — building pandas rows of
    Python list objects measured 3-4x slower than the tokenization itself
    and did not scale with cores.
    """
    import pyarrow as pa

    cfg = config.key()

    out_type = pa.schema(
        [
            ("term", pa.string()),
            ("rowid", pa.int64()),
            ("space", pa.string()),
            ("tf0", pa.int32()),
            ("tf1", pa.int32()),
            ("pos0", pa.list_(pa.int32())),
            ("pos1", pa.list_(pa.int32())),
            ("dl", pa.int32()),
        ]
    )

    def tok(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        analyzer = Analyzer(AnalyzerConfig.from_key(cfg))
        for batch in batches:
            rowids = batch.column("rowid").to_pylist()
            spaces = batch.column("space").to_pylist()
            titles = batch.column("title").to_pylist()
            bodies = batch.column("body").to_pylist()
            terms: list[str] = []
            o_rowid: list[int] = []
            o_space: list[str] = []
            tf0: list[int] = []
            tf1: list[int] = []
            dls: list[int] = []
            p0_off = [0]
            p0_val: list[int] = []
            p1_off = [0]
            p1_val: list[int] = []
            for rid, sp, ti, bo in zip(rowids, spaces, titles, bodies):
                t0 = analyzer.tokens(ti or "")
                t1 = analyzer.tokens(bo or "")
                d = len(t0) + len(t1)
                agg: dict[str, tuple[list, list]] = {}
                for tk in t0:
                    agg.setdefault(tk.term, ([], []))[0].append(tk.pos)
                for tk in t1:
                    agg.setdefault(tk.term, ([], []))[1].append(tk.pos)
                for term, (a0, a1) in agg.items():
                    terms.append(term)
                    o_rowid.append(rid)
                    o_space.append(sp)
                    tf0.append(len(a0))
                    tf1.append(len(a1))
                    dls.append(d)
                    p0_val.extend(a0)
                    p0_off.append(len(p0_val))
                    p1_val.extend(a1)
                    p1_off.append(len(p1_val))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(terms, pa.string()),
                    pa.array(o_rowid, pa.int64()),
                    pa.array(o_space, pa.string()),
                    pa.array(tf0, pa.int32()),
                    pa.array(tf1, pa.int32()),
                    pa.ListArray.from_arrays(
                        pa.array(p0_off, pa.int32()), pa.array(p0_val, pa.int32())
                    ),
                    pa.ListArray.from_arrays(
                        pa.array(p1_off, pa.int32()), pa.array(p1_val, pa.int32())
                    ),
                    pa.array(dls, pa.int32()),
                ],
                schema=out_type,
            )

    cols = docs.select("rowid", "space", "title", "body")
    return cols.mapInArrow(tok, schema=POSTINGS_SCHEMA)


@dataclass
class BuildResult:
    root: str
    ndocs: int
    nterms: int
    sum_dl: int
    chunks_built: int
    chunks_skipped: int


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    config: AnalyzerConfig | None = None,
    n_build_partitions: int = 16,
    chunk_size: int = 8,
    files_per_chunk: int | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    docs_buckets: int = DEFAULT_DOC_BUCKETS,
    verify_sha256: bool = False,
    snapshot_retention: int = 1,
    fail_after_chunks: int | None = None,  # test hook: simulate a killed build
) -> BuildResult:
    """Build (or resume) the inverted index at *root*.

    ``docs`` must have columns (doc_id, space, title, body, alive) and
    optionally rowid / content_sha256. Chunking key is a stable hash of
    doc_id, so a resumed build over the same input processes exactly the
    not-yet-committed chunks regardless of input partitioning.

    ``snapshot_retention`` > 1 keeps that many committed snapshots readable
    via ``Index.open(..., snapshot_id=n)`` (Iceberg-style time travel);
    mutation-path GC then preserves any data dir a retained snapshot still
    references, and ``index.incremental.expire_snapshots`` reclaims them.
    """
    config = config or AnalyzerConfig()
    sizes = {
        "n_buckets": n_buckets,
        "docs_buckets": docs_buckets,
        "n_build_partitions": n_build_partitions,
        "chunk_size": chunk_size,
    }
    for name, v in sizes.items():
        if v < 1:
            raise ValueError(f"build_index: {name} must be >= 1, got {v}")
    if "rowid" not in docs.columns:
        docs = docs.withColumn("rowid", F.xxhash64("doc_id"))

    if verify_sha256 and "content_sha256" in docs.columns:
        bad = docs.filter(F.sha2(F.col("body"), 256) != F.col("content_sha256")).count()
        if bad:
            raise ValueError(f"content_sha256 invariant violated for {bad} rows")

    man = Manifest(root)
    plan = {
        "n_parts": n_build_partitions,
        "chunk_size": chunk_size,
        "n_buckets": n_buckets,
        "docs_buckets": docs_buckets,
        "analyzer": config.key(),
    }
    lineage = man.start_plan(plan)
    done = set(lineage["chunks"])

    docs = docs.withColumn(
        "build_part", F.pmod(F.xxhash64("doc_id"), F.lit(n_build_partitions))
    )
    chunk_ids = list(range(0, n_build_partitions, chunk_size))
    files_per_chunk = files_per_chunk or max(
        2, spark.sparkContext.defaultParallelism // 2
    )

    # the build's pool threads run with the caller's local properties (job
    # group, description) and tags
    inherit = inheritable_thread_target(spark)
    built = skipped = 0
    for ci, start in enumerate(chunk_ids):
        if str(ci) in done:
            skipped += 1
            continue
        if fail_after_chunks is not None and built >= fail_after_chunks:
            raise RuntimeError(f"injected failure after {built} chunks")
        parts = list(range(start, min(start + chunk_size, n_build_partitions)))
        chunk_docs = docs.filter(F.col("build_part").isin(parts)).drop("build_part")

        docs_dir = os.path.join(root, "docs", f"chunk={ci}")
        post_dir = os.path.join(root, "postings", f"chunk={ci}")
        # overwrite per-chunk dirs: a chunk that wrote files but died before
        # its lineage record is cleanly rewritten on resume (idempotent).
        keep = ["rowid", "doc_id", "space", "title", "body", "alive"]
        if "content_sha256" in chunk_docs.columns:
            keep.append("content_sha256")

        # docs laid out by rowid-hash dirs (rb): point lookups by rowid
        # (upsert old-version subtraction, top-k metadata joins) prune to
        # the target buckets instead of scanning the whole docs table.
        # The chunk's alive count is observed on this write.
        def _write_docs(chunk_docs=chunk_docs, docs_dir=docs_dir):
            _rows, alive = write_docs(
                chunk_docs.select(*keep).repartition(
                    max(2, min(files_per_chunk, docs_buckets)),
                    docs_bucket_expr(docs_buckets),
                ),
                docs_dir,
                docs_buckets,
            )
            return alive

        # Head-term skew in the bucketed layout is bounded: one term is one
        # bucket slice, and buckets >> tasks average the rest out.
        # Tokenization is CPU-bound Python: spread it over all cores even
        # when the source is a single parquet file (one input split would
        # otherwise serialize the whole chunk through one task). The
        # spread repartition sits ONLY on the tokenize branch — the docs
        # write above has its own rb hash exchange, and a shared upstream
        # round-robin pass would shuffle every document body a second
        # time for nothing.
        def _write_postings(chunk_docs=chunk_docs, post_dir=post_dir):
            postings = tokenize_postings(
                chunk_docs.filter(F.col("alive")).repartition(
                    max(spark.sparkContext.defaultParallelism, files_per_chunk)
                ),
                config,
            )
            write_postings(postings, post_dir, n_buckets, files_per_chunk)

        # The two chunk writes are independent jobs over independent
        # scans into disjoint dirs: submit both so the docs write's I/O
        # tail back-fills the tokenize stage's cores (guide §2.6 overlap;
        # Spark schedules concurrent jobs FIFO, which is exactly the
        # back-fill behavior). Chunk commit (record_chunk) only after
        # BOTH succeed — resume semantics unchanged.
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_docs = pool.submit(inherit(_write_docs))
            f_post = pool.submit(inherit(_write_postings))
            f_post.result()
            alive = f_docs.result()
        man.record_chunk(ci, {"parts": parts, "status": "done", "alive": alive})
        built += 1

    # ---- finalize: global stats + snapshot commit ----
    # term_stats and the prefix tail land in tmp dirs and replace the old
    # ones only once both are written; the snapshot commits after that, so
    # an interrupted finalize leaves tmp dirs and an uncommitted manifest
    postings_all = _read_tree(
        spark, os.path.join(root, "postings"), "chunk=*", POSTINGS_READ_SCHEMA
    )
    nterms, sum_dl = write_term_tables(
        postings_all,
        os.path.join(root, "term_stats.tmp"),
        os.path.join(root, "prefix.tmp"),
        files_per_chunk,
    )
    for name in ("term_stats", "prefix"):
        dest = os.path.join(root, name)
        if os.path.exists(dest):
            shutil.rmtree(dest)
        os.replace(dest + ".tmp", dest)
    # every chunk, resumed or built now, recorded its alive count
    ndocs = sum(c["alive"] for c in man.lineage()["chunks"].values())

    man.reset_history()  # a full (re)build starts a fresh snapshot history
    man.commit_snapshot(
        {
            "analyzer": config.key(),
            "layout": LAYOUT_VERSION,
            "ndocs": ndocs,
            "sum_dl": sum_dl,
            "nterms": nterms,
            "weights": {"title": TITLE_WEIGHT, "body": BODY_WEIGHT},
            "postings_buckets": n_buckets,
            "docs_buckets": docs_buckets,
            "snapshot_retention": max(1, int(snapshot_retention)),
            "plan": plan,
        }
    )
    man.clear_plan()
    return BuildResult(root, ndocs, nterms, sum_dl, built, skipped)


@dataclass
class Index:
    spark: SparkSession
    root: str
    meta: dict

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        root: str,
        config: AnalyzerConfig | None = None,
        snapshot_id: int | None = None,
    ) -> "Index":
        """Open the committed index, or — with *snapshot_id* — a retained
        older snapshot (time travel, the Iceberg ``VERSION AS OF`` analog;
        requires the index to have been built/maintained with
        ``snapshot_retention > 1``). Time-travel reads force the exhaustive
        scoring path: the WAND blocks table tracks only the CURRENT
        snapshot, so serving it for an older state could surface rows the
        old snapshot never contained.

        Raises ValueError when the snapshot's stamped layout is not
        LAYOUT_VERSION: such an index is rebuilt from its source documents,
        never read through compatibility branches."""
        if snapshot_id is None:
            man = Manifest.load(root)
        else:
            man = Manifest.load_snapshot(root, snapshot_id)
            man.state = dict(man.state, blocks=None)
        found = man.state.get("layout")
        if found != LAYOUT_VERSION:
            raise ValueError(
                f"index at {root} has layout {found}, this version reads "
                f"layout {LAYOUT_VERSION}; rebuild it from the source "
                "documents with build_index"
            )
        if config is not None:
            man.require_analyzer(config.key())
        return cls(spark, root, man.state)

    @property
    def analyzer_config(self) -> AnalyzerConfig:
        return AnalyzerConfig.from_key(self.meta["analyzer"])

    @property
    def segments(self) -> list[dict]:
        """Delta segments from incremental upserts (seq > 0); the chunked
        base build is seq 0. See index/incremental.py."""
        return self.meta.get("segments", [])

    def _read_seg(self, path: str, schema) -> DataFrame:
        """Read one delta-segment parquet dir, once per (path, schema) and
        handle: repeated queries reuse the read and its file listing. A
        DELETE-ONLY batch leaves its postings dir with no data file; the
        known-schema read of it is empty. A MISSING dir fails the read:
        silently treating absent tombstones as empty would resurrect
        deleted documents."""
        reads = self.__dict__.setdefault("_seg_reads", {})
        key = (path, schema)
        if key not in reads:
            reads[key] = self.spark.read.schema(schema).parquet(path)
        return reads[key]

    def _tombstone_filters(self) -> dict | None:
        """Per seq (0 is the base), the filter that drops that branch's rows
        a LATER segment tombstoned, or None when nothing later did. The
        tombstone rowids are read once per handle in the driver (pyarrow,
        no Spark job). None when the branches would carry more than
        OVERLAY_MAX_LITERALS literals between them (counted from the
        footers before any rowid is read): the overlay then joins the
        tombstones by broadcast."""
        if "_tomb_filters" in self.__dict__:
            return self.__dict__["_tomb_filters"]
        import pyarrow.parquet as pq

        files = {
            s["seq"]: _data_entries(os.path.join(self.root, s["tombstones"]))
            for s in self.segments
        }
        # the i-th segment's tombstones filter the base and the i segments
        # before it: i + 1 branches
        literals = sum(
            (i + 1) * sum(pq.read_metadata(f).num_rows for f in files[seq])
            for i, seq in enumerate(sorted(files))
        )
        keep = None
        if literals <= OVERLAY_MAX_LITERALS:
            keep, later = {}, set()
            for seq in sorted(files, reverse=True):
                keep[seq] = _rowid_not_in(later)
                for f in files[seq]:
                    later.update(
                        pq.read_table(f, columns=["rowid"])
                        .column("rowid").to_pylist()
                    )
            keep[0] = _rowid_not_in(later)
        self.__dict__["_tomb_filters"] = keep
        return keep

    def _overlay(self, base: DataFrame, table: str) -> DataFrame:
        """Union base (seq 0) with delta segments; a row from seq S is dead
        when any later segment tombstoned its rowid (LSM-style overlay,
        mirroring FTS5's delete+insert trigger maintenance,
        1_init.up.sql:65-76). Each segment is read with the base's schema
        and projected onto its columns, so partition-dir columns the base
        does not carry never break the union, and those it does (bucket,
        rb) prune every branch.

        The churn between compactions is small relative to the base: each
        branch filters its own rows on a literal list of the later
        tombstones (_tombstone_filters), so the overlay adds no exchange
        and no job. Above OVERLAY_MAX_LITERALS literals it falls back to
        one broadcast anti-join (compaction bounds growth)."""
        if not self.segments:
            return base
        # a missing segment dir raises (_read_seg): silently skipping it
        # would vanish the segment's document versions
        branches = [(0, base)] + [
            (s["seq"], self._read_seg(os.path.join(self.root, s[table]), base.schema)
             .select(*base.columns))
            for s in self.segments
        ]
        keep = self._tombstone_filters()
        if keep is not None:
            return reduce(DataFrame.unionByName, [
                b if keep[seq] is None else b.filter(keep[seq])
                for seq, b in branches
            ])
        rows = reduce(DataFrame.unionByName, [
            b.withColumn("_seq", F.lit(seq)) for seq, b in branches
        ])
        tomb = reduce(DataFrame.unionByName, [
            self._read_seg(
                os.path.join(self.root, s["tombstones"]), TOMBSTONES_SCHEMA
            ).select(F.col("rowid").alias("_trowid"), F.lit(s["seq"]).alias("_tseq"))
            for s in self.segments
        ])
        return rows.join(
            F.broadcast(tomb),
            (F.col("rowid") == F.col("_trowid")) & (F.col("_tseq") > F.col("_seq")),
            "left_anti",
        ).drop("_seq")

    def invalidate(self) -> None:
        """Drop cached DataFrame handles, segment reads and tombstone
        filters after storage-layout mutations (upserts, compaction) —
        stale handles reference deleted files and an outdated overlay."""
        for k in ("_postings_df", "_docs_df", "_term_stats_df", "_speling_df",
                  "_seg_reads", "_tomb_filters"):
            self.__dict__.pop(k, None)

    @property
    def n_buckets(self) -> int:
        return self.meta["postings_buckets"]

    # ---- storage-dir pointers: committed snapshots reference versioned
    # dirs (term_stats.vN / postings.vN / docs.vN) so mutations stage new
    # data and flip the pointer last — a crash never leaves the committed
    # snapshot reading half-written stats (the analog of the reference's
    # single SQLite transaction around upsert + stats).
    def term_stats_dir(self) -> str:
        return os.path.join(self.root, data_dirs(self.meta)["term_stats"])

    def postings_base_dir(self) -> str:
        return os.path.join(self.root, data_dirs(self.meta)["postings"])

    def prefix_base_dir(self) -> str:
        return os.path.join(self.root, data_dirs(self.meta)["prefix"])

    def docs_base_dir(self) -> str:
        return os.path.join(self.root, data_dirs(self.meta)["docs"])

    def _postings_base(self) -> DataFrame:
        """Base-snapshot postings only (seq 0, no segment overlay)."""
        base_dir = self.postings_base_dir()
        return _read_tree(
            self.spark, base_dir, "chunk=*", POSTINGS_READ_SCHEMA
        ).drop("chunk")

    def postings(self) -> DataFrame:
        # reuse one DataFrame instance per Index: repeated queries skip
        # re-listing the file index
        cached = self.__dict__.get("_postings_df")
        if cached is not None:
            return cached
        df = self._overlay(self._postings_base(), "postings")
        self.__dict__["_postings_df"] = df
        return df

    def _terms_cond(self, terms: list[str]):
        """Pruning predicate for an exact term set: bucket partition-dir
        pruning (exact) + term pushdown (row-group min/max on sorted
        files)."""
        cond = F.col("term").isin(terms) if len(terms) > 1 else (
            F.col("term") == terms[0]
        )
        buckets = sorted({bucket_of(t, self.n_buckets) for t in terms})
        bcond = (
            F.col("bucket").isin(buckets)
            if len(buckets) > 1
            else (F.col("bucket") == buckets[0])
        )
        return bcond & cond

    def postings_for_terms(self, terms: list[str]) -> DataFrame:
        """Term-pruned postings scan over the live (overlaid) view."""
        return self.postings().filter(self._terms_cond(terms))

    # ---- wildcard lookups: the prefix tail ----
    def _prefix_base(self, prefix: str) -> DataFrame:
        """Base-snapshot prefix-tail rows of the first-char bucket dir that
        holds every term starting with *prefix* (the whole tail for an
        empty prefix); empty frame when that dir does not exist."""
        d = self.prefix_base_dir()
        if prefix:
            d = os.path.join(d, f"pb={prefix_bucket_of(prefix)}")
        if not os.path.isdir(d):
            return self.spark.createDataFrame([], PREFIX_SCHEMA)
        return _parquet_or_empty(self.spark, d, d, PREFIX_SCHEMA)

    def prefix_rows(self, prefix: str) -> DataFrame:
        """Hit rows (rowid, space, dl, pos0, pos1) for the wildcard query
        `prefix*`, one per matching (term, rowid): one partition dir of
        the prefix tail plus a startswith predicate that row-group-prunes
        on its sorted term column — never the postings table or the
        dictionary, O(matching postings) at any prefix length. A rowid
        repeats when several terms match it, with disjoint positions; the
        caller merges them in whatever exchange it already runs.

        Delta segments are overlaid at query time by the overlay every
        read uses (_overlay): segment postings are read with the tail's
        columns — upserts never rewrite the base tail."""
        return (
            self._overlay(self._prefix_base(prefix), "postings")
            .filter(F.col("term").startswith(prefix))
            .select("rowid", "space", "dl", "pos0", "pos1")
        )

    def _docs_overlay(self) -> DataFrame:
        """The docs overlay with the rowid-bucket dir column rb kept, built
        once per handle (invalidate() drops it)."""
        cached = self.__dict__.get("_docs_df")
        if cached is None:
            base = _read_tree(
                self.spark, self.docs_base_dir(), "chunk=*", DOCS_READ_SCHEMA
            ).drop("chunk")
            cached = self.__dict__["_docs_df"] = self._overlay(base, "docs")
        return cached

    def docs(self) -> DataFrame:
        return self._docs_overlay().drop("rb")

    def docs_for_rowids(self, rowids: list[int]) -> DataFrame:
        """Point lookup: current live doc rows for the given rowids.

        The rb predicate prunes every branch of the docs overlay, base and
        delta segments alike, to the rowid-bucket dirs (rb = pmod(rowid,
        docs_buckets)) the keys hash to: the upsert's old-version fetch
        and the page fetch read a K/buckets fraction of the docs table."""
        rowids = [int(r) for r in rowids]
        want = sorted({r % self.meta["docs_buckets"] for r in rowids})
        return (
            self._docs_overlay()
            .filter(F.col("rb").isin(want) & F.col("rowid").isin(rowids))
            .drop("rb")
        )

    def term_stats(self) -> DataFrame:
        # known schema (no inference job) + one handle per Index (repeated
        # queries skip re-listing); invalidate() drops the handle
        cached = self.__dict__.get("_term_stats_df")
        if cached is not None:
            return cached
        path = self.term_stats_dir()
        if os.path.isdir(path) and _data_entries(path):
            df = self.spark.read.schema(TERM_STATS_SCHEMA).parquet(path)
        else:  # empty index: no footers written
            df = self.spark.createDataFrame([], TERM_STATS_SCHEMA)
        self.__dict__["_term_stats_df"] = df
        return df

    def preload(self) -> None:
        """Warm the executor block cache (reference analog: preloadDB's
        page-cache touch + fadvise, db.go:504-540). Optional."""
        self.postings().cache().count()
        self.docs().cache().count()
