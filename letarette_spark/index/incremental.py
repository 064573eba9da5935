"""Incremental index maintenance: upserts, deletes, segment compaction.

Spark-first replacement for the reference's interest-list sync loop
(internal/letarette/indexer.go:197-295 + db_index.go:42-120: documents
arrive as (id, updated, title, text, alive) updates; the docs table is
REPLACE'd and SQLite triggers delete the old FTS tokens and insert the
new). Here each upsert batch becomes an LSM-style *delta segment*:

  seg/N/postings    posting rows for the batch's alive docs
  seg/N/docs        the batch's doc rows (including tombstoned ones)
  seg/N/tombstones  rowids whose older rows (seq < N) are now dead

Every read (postings, docs, the prefix tail) goes through one overlay,
Index._overlay: base + segments minus rows a later segment tombstoned.
Each Index handle reads the tombstone rowids once, in the driver, and
each union branch drops its rows on a literal list of the later
segments' tombstones, so the overlay adds no join and no Spark job;
above OVERLAY_MAX_LITERALS literals it joins a broadcast tombstone set.
The segment reads and the docs overlay are also built once per handle.
Every table is written by the same writer the build uses (builder's
write_docs, write_postings, write_term_stats and, at compaction,
write_term_tables), so the on-disk layout has one implementation.

Statistics are maintained *additively*: term df/cnt and the global
(ndocs, sum_dl) are linear in documents, so an upsert of K docs merges
the delta segment's stats into the base term_stats and subtracts the
replaced versions' stats — the old versions are fetched with a
rowid-bucket-pruned point lookup (Index.docs_for_rowids; above
MERGE_MAX_BATCH rows, a semi-join of the docs overlay with the batch, so
the key set never reaches the driver) and re-tokenized. NO scan of the
postings table happens on the upsert path; the full recompute runs only
at compaction. The batch's row and alive counts are observed on the
segment docs write. BM25 stays exact after every batch — the same
property the reference gets from FTS5 maintaining its own stats — and
the upsert rank-identity tests pin it.

Commits are crash-atomic: new term_stats (and at compaction new postings/
docs) are staged under snapshot-versioned directories, the manifest
pointer flips last (_manifest/CURRENT.json, POSIX-atomic), and stale
directories are garbage-collected only after the commit. A kill at any
point leaves the previously committed snapshot fully readable.

Exactly-once: each upsert records an optional ``batch_id``; re-delivering
the same batch id is a no-op — this is what makes the Structured-Streaming
wrapper (letarette_spark.streaming.indexer) idempotent under retries,
mirroring the reference's single-transaction doc+interest commit
(db_index.go:56-120).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from letarette_spark.index.builder import (
    POSTINGS_READ_SCHEMA,
    POSTINGS_SCHEMA,
    Index,
    _read_tree,
    docs_bucket_expr,
    term_aggregate,
    tokenize_postings,
    write_docs,
    write_postings,
    write_term_stats,
    write_term_tables,
)
from letarette_spark.index.manifest import Manifest, data_dirs

# above this batch size the batch's keys are not collected to the driver:
# the replaced versions come from a semi-join of the docs overlay with the
# batch instead of the rowid-bucket point lookup, and caches are cleared
MERGE_MAX_BATCH = 100_000

_VERSIONED = re.compile(r"^(postings|docs|term_stats|prefix)(\.v\d+|\.tmp)?$")


def _gc_stale_dirs(root: str, keep_rel: set[str]) -> None:
    """Remove versioned data dirs not referenced by the committed snapshot
    OR by any retained time-travel snapshot (snapshot_retention > 1 keeps
    older states readable, the Iceberg expire-snapshots model). Runs
    strictly AFTER commit — a crash before GC leaves harmless orphans that
    the next commit's GC collects."""
    ret_dirs, _ = Manifest.retained_refs(root)
    keep = set(keep_rel) | ret_dirs
    for name in os.listdir(root):
        if name in keep:
            continue
        if _VERSIONED.match(name):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _gc_seg_dirs(root: str, keep_seqs: set[int]) -> None:
    """Remove delta-segment dirs (seg/<seq>) whose seq no retained snapshot
    references. Compaction empties the current snapshot's segment list, but
    a retained older snapshot may still overlay them."""
    _, ret_seqs = Manifest.retained_refs(root)
    keep = {int(s) for s in keep_seqs} | ret_seqs
    seg_root = os.path.join(root, "seg")
    if not os.path.isdir(seg_root):
        return
    removed_all = True
    for name in os.listdir(seg_root):
        try:
            seq = int(name)
        except ValueError:
            seq = None
        if seq is not None and seq in keep:
            removed_all = False
            continue
        shutil.rmtree(os.path.join(seg_root, name), ignore_errors=True)
    if removed_all:
        shutil.rmtree(seg_root, ignore_errors=True)


def expire_snapshots(root: str, keep_last: int = 1) -> list[int]:
    """Expire old time-travel snapshots and collect the data dirs only they
    referenced (Iceberg ``expire_snapshots`` analog). Returns the snapshot
    ids that remain readable."""
    man = Manifest.load(root)
    man.prune_snapshot_files(keep_last)
    cur = man.state
    _gc_stale_dirs(root, keep_rel=set(data_dirs(cur).values()))
    _gc_seg_dirs(root, keep_seqs={int(s["seq"]) for s in cur.get("segments", [])})
    return Manifest.retained_ids(root)


def _drop_blocks(root: str) -> None:
    blocks_dir = os.path.join(root, "blocks")
    if os.path.exists(blocks_dir):
        shutil.rmtree(blocks_dir, ignore_errors=True)


def _merged_stats(
    spark: SparkSession,
    index: Index,
    seg_post_path: str,
    old: DataFrame,
    alive_add: int,
    ts_path: str,
) -> dict:
    """Additive stats merge for one upsert batch: the base term_stats plus
    the delta segment's postings minus the re-tokenized *old* rows (the
    pre-batch versions of the batch's rowids — no postings scan). Returns
    the new global-stat meta fields."""
    # a delete-only batch writes a footerless postings dir: empty delta
    seg_post = index._read_seg(seg_post_path, POSTINGS_SCHEMA)
    add = term_aggregate(seg_post).toDF("term", "df_a", "cnt_a")

    old = old.filter(F.col("alive"))
    sub = term_aggregate(tokenize_postings(old, index.analyzer_config)).toDF(
        "term", "df_s", "cnt_s"
    )
    alive_sub = old.count()

    zero = F.lit(0).cast("long")
    merged = (
        index.term_stats()
        .join(add, "term", "full_outer")
        .join(sub, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("df"), zero)
                + F.coalesce(F.col("df_a"), zero)
                - F.coalesce(F.col("df_s"), zero)
            ).cast("long").alias("df"),
            (
                F.coalesce(F.col("cnt"), zero)
                + F.coalesce(F.col("cnt_a"), zero)
                - F.coalesce(F.col("cnt_s"), zero)
            ).cast("long").alias("cnt"),
        )
        .filter(F.col("df") > 0)
    )
    nterms, sum_dl = write_term_stats(
        merged, ts_path, spark.sparkContext.defaultParallelism // 2
    )
    return {
        "ndocs": int(index.meta["ndocs"]) + alive_add - alive_sub,
        "sum_dl": sum_dl,
        "nterms": nterms,
    }


def upsert_documents(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    batch_id: int | None = None,
    caches: "tuple | list" = (),
) -> Index:
    """Apply a batch of document updates (insert / replace / tombstone).

    ``docs`` columns: (doc_id, space, title, body, alive), one row per
    doc_id; rows with alive=false delete the document (reference keeps the
    doc row but removes it from the FTS index — same observable behavior
    here).

    ``caches``: ResultCache instances to invalidate per updated docID
    (reference: indexer.go:82-84 calls cache.Invalidate per update,
    cache.go:183-185); batches too large to enumerate clear the caches
    wholesale."""
    index = Index.open(spark, root)
    man = Manifest.load(root)
    if batch_id is not None and batch_id in index.meta.get("applied_batches", []):
        return index  # exactly-once replay guard

    if "rowid" not in docs.columns:
        docs = docs.withColumn("rowid", F.xxhash64("doc_id"))
    # seq must be fresh w.r.t. RETAINED segment dirs too, not just the
    # current snapshot's list: after a compaction, reusing seq 1 would
    # overwrite a time-travel snapshot's overlay data in place
    seg_root = os.path.join(root, "seg")
    on_disk = (
        [int(n) for n in os.listdir(seg_root) if n.isdigit()]
        if os.path.isdir(seg_root)
        else []
    )
    seq = max(
        max((s["seq"] for s in index.segments), default=0),
        max(on_disk, default=0),
    ) + 1
    seg_rel = {
        "seq": seq,
        "postings": f"seg/{seq}/postings",
        "docs": f"seg/{seq}/docs",
        "tombstones": f"seg/{seq}/tombstones",
    }
    docs = docs.persist()

    keep = ["rowid", "doc_id", "space", "title", "body", "alive"]
    if "content_sha256" in docs.columns:
        keep.append("content_sha256")
    # same rowid-bucket layout as the base: point lookups prune segments.
    # The batch's size and alive count are observed on this write
    n_batch, alive_add = write_docs(
        docs.select(*keep), os.path.join(root, seg_rel["docs"]),
        index.meta["docs_buckets"],
    )
    # a duplicate rowid is harmless to the left-anti overlays: no distinct
    docs.select("rowid").write.mode("overwrite").parquet(
        os.path.join(root, seg_rel["tombstones"])
    )
    par = spark.sparkContext.defaultParallelism
    seg_post = tokenize_postings(
        docs.filter(F.col("alive")).repartition(par), index.analyzer_config
    )
    # same bucketed layout as the base, so the overlay unions by name
    write_postings(
        seg_post, os.path.join(root, seg_rel["postings"]), index.n_buckets,
        max(2, par // 2),
    )

    # ---- stats: additive merge (pre-batch snapshot still current) ----
    ver = int(index.meta.get("snapshot_id", 0)) + 1
    ts_new_rel = f"term_stats.v{ver}"
    ts_path = os.path.join(root, ts_new_rel)
    # the batch's keys in one collect, bounded by the observed batch size:
    # the rowids to subtract and the doc_ids whose cached results go stale
    small = n_batch <= MERGE_MAX_BATCH
    keys = docs.select("rowid", "doc_id").collect() if small else []
    # the replaced versions, read while the index still reflects the
    # PRE-batch snapshot (the new segment is not overlaid yet)
    old = (
        index.docs_for_rowids(sorted({r["rowid"] for r in keys}))
        if small
        else index.docs().join(docs.select("rowid"), "rowid", "left_semi")
    )
    stats = _merged_stats(
        spark, index, os.path.join(root, seg_rel["postings"]), old,
        alive_add=alive_add, ts_path=ts_path,
    )

    meta = dict(index.meta)
    meta.update(stats)
    meta.update(
        {
            "segments": index.segments + [seg_rel],
            "applied_batches": (
                index.meta.get("applied_batches", [])
                + ([batch_id] if batch_id is not None else [])
            )[-1000:],
            "term_stats_dir": ts_new_rel,
            "blocks": None,  # WAND blocks reflect the old snapshot
        }
    )
    meta.pop("snapshot_id", None)
    man.commit_snapshot(meta)  # ← the atomic commit point
    index.meta = man.state
    index.invalidate()
    # per-docID result-cache invalidation (cache.go:183-185); a batch too
    # large to collect clears the caches
    for c in caches:
        if small:
            for d in {r["doc_id"] for r in keys}:
                c.invalidate_doc(d)
        else:
            c.clear()
    docs.unpersist()

    # post-commit GC of unreferenced dirs + stale WAND blocks. The prefix
    # tail is NOT rewritten on the upsert path (prefix_rows overlays
    # segments at query time) — keep the base dir alive.
    _gc_stale_dirs(root, keep_rel=set(data_dirs(index.meta).values()))
    _drop_blocks(root)
    return index


def compact_index(spark: SparkSession, root: str) -> Index:
    """Merge base + segments into a fresh base and drop tombstones —
    segment compaction (reference analog: stepwise FTS5 'merge',
    indextools.go:200-264). Query results are unchanged; read amplification
    returns to one sorted run. Stats are fully recomputed here (the one
    place that pays an index-wide scan), staged under versioned dirs and
    committed by the manifest pointer flip."""
    index = Index.open(spark, root)
    man = Manifest.load(root)
    if not index.segments:
        return index
    par = spark.sparkContext.defaultParallelism
    ver = int(index.meta.get("snapshot_id", 0)) + 1
    post_rel, docs_rel, ts_rel, pf_rel = (
        f"postings.v{ver}",
        f"docs.v{ver}",
        f"term_stats.v{ver}",
        f"prefix.v{ver}",
    )
    db = index.meta["docs_buckets"]

    write_postings(
        index.postings().drop("bucket"),
        os.path.join(root, post_rel, "chunk=0"),
        index.n_buckets,
        max(2, par // 2),
    )
    _rows, ndocs = write_docs(
        index.docs().repartition(max(2, min(par, db)), docs_bucket_expr(db)),
        os.path.join(root, docs_rel, "chunk=0"),
        db,
    )
    # term_stats and the prefix tail from the compacted postings (the one
    # place that pays the index-wide scan; upserts only overlay)
    nterms, sum_dl = write_term_tables(
        _read_tree(
            spark, os.path.join(root, post_rel), "chunk=*", POSTINGS_READ_SCHEMA
        ),
        os.path.join(root, ts_rel),
        os.path.join(root, pf_rel),
        par // 2,
    )

    meta = dict(
        index.meta, segments=[], blocks=None, ndocs=ndocs, nterms=nterms,
        sum_dl=sum_dl, postings_dir=post_rel, docs_dir=docs_rel,
        term_stats_dir=ts_rel, prefix_dir=pf_rel,
    )
    meta.pop("snapshot_id", None)
    man.commit_snapshot(meta)  # ← the atomic commit point
    index.meta = man.state
    index.invalidate()

    _gc_stale_dirs(root, keep_rel=set(data_dirs(index.meta).values()))
    # the compacted snapshot overlays nothing, but retained time-travel
    # snapshots may still reference delta segments — GC only unreferenced
    _gc_seg_dirs(root, keep_seqs=set())
    _drop_blocks(root)
    return index
