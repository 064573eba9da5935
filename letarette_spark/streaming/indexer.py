"""Structured-Streaming incremental indexer.

The reference's sync protocol (indexer.go:161-295) is a hand-rolled
micro-batch stream: pull interest lists of changed doc refs, fetch bodies,
upsert transactionally, advance a (time, docID) checkpoint. Spark names
all of those concepts:

  interest list / ReqSize batching  -> micro-batch (maxFilesPerTrigger)
  (lastUpdatedAtNanos, lastDocID)   -> streaming checkpoint offsets
  single-writer txn upsert          -> foreachBatch -> delta segment with
                                       an idempotent batch_id (replays are
                                       no-ops, db_index.go:56-120 analog)
  future-document guard (+5 min)    -> watermark/filter on updated_at
  housekeeping (stopwords/spelling) -> periodic maintenance hook

The sink is ``upsert_documents`` (index/incremental.py); one delta segment
per micro-batch, compaction on demand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from letarette_spark.index.incremental import upsert_documents

UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("space", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("alive", T.BooleanType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)


def run_housekeeping(
    spark: SparkSession,
    index_root: str,
    spelling_min_count: int = 5,
    spelling_max_lag: int = 100,
    stopword_cutoff: float = 0.01,
    compact_segments_over: int | None = 8,
) -> dict:
    """One housekeeping pass — the analog of the reference's idle-cycle
    doHousekeeping (indexer.go:476-487, every 5 min): rebuild the spelling
    dictionary when its lag exceeds MaxLag (defaults 5/100, config.go:
    57-60), refresh auto-stopwords, and — the Spark analog of FTS5 merge
    maintenance — compact when delta segments pile up. Upserts and
    compaction drop stale WAND blocks; once the index is segment-free
    again, rebuild them so a churning index regains its block-max top-k
    pruning path. Returns what ran."""
    from letarette_spark.index.auxiliary import update_stopwords
    from letarette_spark.index.blocks import build_blocks, has_blocks
    from letarette_spark.index.builder import Index
    from letarette_spark.index.incremental import compact_index
    from letarette_spark.index.stats import spelling_lag
    from letarette_spark.query.spelling import build_speling_table

    index = Index.open(spark, index_root)
    did = {"spelling": False, "stopwords": False, "compacted": False, "blocks": False}
    if compact_segments_over is not None and len(index.segments) > compact_segments_over:
        index = compact_index(spark, index_root)
        did["compacted"] = True
    if not index.segments and not has_blocks(index):
        build_blocks(index)
        did["blocks"] = True
    if spelling_lag(index, min_count=spelling_min_count) >= spelling_max_lag:
        build_speling_table(index, min_count=spelling_min_count)
        did["spelling"] = True
    update_stopwords(index, cutoff=stopword_cutoff)
    did["stopwords"] = True
    return did


def maintain(
    spark: SparkSession,
    index_root: str,
    idle_seconds: float = 300.0,
    max_cycles: int | None = None,
    is_idle=None,
    clock=None,
    sleep=None,
    caches: "tuple | list" = (),
    **housekeeping_kwargs,
) -> list[dict]:
    """Scheduler glue: run the idle-cycle housekeeping policy in a loop —
    the analog of the reference indexer's 5-minute idle cadence
    (indexer.go:479-487: housekeeping fires when a cycle finds no work),
    so deployments don't hand-sequence spelling/stopword/compaction/WAND
    rebuilds.

    Every *idle_seconds* the loop runs one run_housekeeping() pass,
    unless *is_idle* (optional callable) reports the deployment busy —
    then the tick is skipped and re-checked next cadence, exactly like
    the reference deferring housekeeping while updates flow. A
    compaction pass invalidates per-doc result caches passed in
    *caches* (they hold pre-compaction snapshots' rowids only
    transitively — the conservative clear matches cache.go on reload).

    *max_cycles* bounds the loop (None = run forever); *clock* / *sleep*
    are injectable for deterministic tests. Returns one report dict per
    tick: run_housekeeping()'s report, or {"skipped": "busy"}.
    """
    import time as _time

    clock = clock or _time.monotonic
    sleep = sleep or _time.sleep
    reports: list[dict] = []
    last = clock()
    while max_cycles is None or len(reports) < max_cycles:
        now = clock()
        wait = idle_seconds - (now - last)
        if wait > 0:
            sleep(wait)
            continue
        last = now
        if is_idle is not None and not is_idle():
            reports.append({"skipped": "busy"})
            continue
        did = run_housekeeping(spark, index_root, **housekeeping_kwargs)
        if did.get("compacted") and caches:
            for c in caches:
                c.clear()
        reports.append(did)
    return reports


def stream_document_updates(
    spark: SparkSession,
    index_root: str,
    source_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    future_guard_minutes: int = 5,
    housekeep_every_batches: int | None = None,
    compact_segments_over: int | None = 8,
):
    """Consume document-update parquet files from *source_dir* into the
    index at *index_root*. Returns the StreamingQuery.

    Documents stamped in the future are deferred (reference drops refs >
    now+5min, indexer.go:414-421) — they stay in the source and surface in
    a later batch once the clock catches up is NOT modeled here; they are
    simply filtered, matching the reference's drop-and-refetch behavior.

    With *housekeep_every_batches* set, every Nth micro-batch ends with a
    housekeeping pass (run_housekeeping) — the reference triggers the same
    work on idle cycles every 5 minutes; a batch cadence is the
    deterministic streaming analog."""
    reader = spark.readStream.schema(UPDATE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        batch = batch.filter(
            (F.col("updated_at").isNull())
            | (
                F.col("updated_at")
                <= F.current_timestamp() + F.expr(f"INTERVAL {future_guard_minutes} MINUTES")
            )
        )
        if batch.isEmpty():
            return
        # last write per doc wins inside a batch (the reference serializes
        # updates through one writer goroutine; a micro-batch may carry
        # several versions of one doc): keep the max-updated_at row per
        # doc_id — dropDuplicates would keep an arbitrary one.
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(F.desc_nulls_last("updated_at"))
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "updated_at")
        )
        # persist so the metrics count below reuses the dedup shuffle
        # instead of recomputing the micro-batch
        batch = batch.persist()
        n = batch.count()
        try:
            upsert_documents(spark, index_root, batch, batch_id=batch_id)
        finally:
            batch.unpersist()
        # expvar analog (reference indexer.go:98,224-231): one request per
        # micro-batch; served = docs upserted this batch
        from letarette_spark.monitoring import METRICS

        METRICS.add("doc_requests", 1)
        METRICS.add("served_docs", n)
        METRICS.set("update_queue", n)
        if housekeep_every_batches and (batch_id + 1) % housekeep_every_batches == 0:
            run_housekeeping(
                spark, index_root, compact_segments_over=compact_segments_over
            )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
