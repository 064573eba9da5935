"""lrcli-analog command line for the Spark engine.

The reference's primary user surface is the `lrcli` tool
(/root/reference/cmd/lrcli/main.go:38-67). This module mirrors that
command set over the parquet index:

    python -m letarette_spark search [-l N] [-p N] [-i] <space> [<phrase>...]
    python -m letarette_spark monitor [--serve]
    python -m letarette_spark sql <sql> [--tables DIR]
    python -m letarette_spark index stats
    python -m letarette_spark index check
    python -m letarette_spark index optimize
    python -m letarette_spark index rebuild
    python -m letarette_spark index forcestemmer
    python -m letarette_spark load [-m N] [-a] [--shard I/G] <space> <json>
    python -m letarette_spark synonyms [<json>]
    python -m letarette_spark spelling update <mincount>
    python -m letarette_spark pipeline <docs.parquet> [-o out] [--benchmark p]
                                       [--url-col c] [--seen seen.parquet]
                                       [--shards-out dir [--n-shards N]]

All index-bound commands take `-d <index_root>` (or the
LETARETTE_SPARK_INDEX env var) — the analog of lrcli's `-d <db>`.
Command-for-command mapping:

    search        main.go:96   -> query/executor.Searcher.search
    monitor       main.go:167  -> monitoring.index_status (+ webmon --serve)
    sql           main.go:160  -> spark.sql over parquet views
    index stats   main.go:257  -> index/stats.index_stats
    index check   main.go:247  -> manifest + storage integrity walk
                                  (CheckStemmerSettings analog included:
                                  stamped analyzer vs --mode/--languages)
    index optimize main.go:259 -> streaming/indexer.run_housekeeping
                                  (FTS5 optimize ~ compaction + aux rebuild)
    index rebuild main.go:261  -> full re-index from the stored docs table,
                                  staged sibling dir + atomic swap (the
                                  index must open: a stale layout is
                                  rebuilt from the source documents)
    index forcestemmer main.go:263 -> restamp the manifest analyzer
                                  (stemmer.go force-update semantics:
                                  postings are NOT re-stemmed)
    load          main.go:115  -> sources/bulkload.load_json_docs +
                                  build_index / upsert_documents
    synonyms      main.go:129  -> index/auxiliary.update_synonyms /
                                  load_synonyms (same JSON shape as
                                  db_synonyms.go:23-26: description+words)
    spelling update main.go:136 -> query/spelling.build_speling_table

`env` prints the effective session settings (main.go:102).

Not carried over (SQLite-storage-specific, no analog in the parquet
model): `index pgsize` (FTS b-tree page size — parquet row groups are
sized by spark.sql.files.* confs), `index compress` (in-db zlib of the
docs table — every parquet column here is already zstd-compressed, and
the compress/uncompress/iscompressed scalar functions exist in
functions/compression.py for payload-level use), `resetmigration`
(sqlite schema migrations — the manifest's layout version replaces
them: every command refuses an index stamped with another layout, and
such an index is rebuilt from its source documents with `load`).
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import sys


def _spark(app: str):
    from letarette_spark.session import get_spark

    return get_spark(app_name=f"lrcli_{app}")


def _root(args) -> str:
    root = args.index or os.environ.get("LETARETTE_SPARK_INDEX")
    if not root:
        sys.exit("no index given: pass -d <index_root> or set LETARETTE_SPARK_INDEX")
    return root


def _open(spark, args):
    from letarette_spark.index.builder import Index

    snapshot = getattr(args, "snapshot", None)
    return Index.open(spark, _root(args), snapshot_id=snapshot)


def cmd_search(args) -> int:
    """lrcli search (main.go:96-101, search.go): print one line per hit
    plus the status trailer; -i loops on stdin like interactiveSearch."""
    spark = _spark("search")
    from letarette_spark.query.executor import Searcher

    searcher = Searcher(_open(spark, args))
    spaces = [args.space] if args.space else None

    def one(phrase: str) -> None:
        res = searcher.search(
            phrase, spaces=spaces, limit=args.limit, offset=args.page * args.limit
        )
        for h in res.hits:
            print(f"{h.space}\t{h.doc_id}\t{h.score:.6f}\t{h.snippet}")
        trailer = f"-- {res.status}: {res.total_hits} hits"
        if res.capped:
            trailer += " (capped)"
        if res.respelt:
            trailer += f" [respelt: {res.respelt} d={res.respelt_distance}]"
        print(trailer)

    if args.interactive:
        try:
            for line in sys.stdin:
                line = line.strip()
                if not line:
                    continue
                one(line)
        except KeyboardInterrupt:
            pass
    else:
        if not args.phrase:
            sys.exit("search: give a phrase (or -i for interactive)")
        one(" ".join(args.phrase))
    return 0


def cmd_index_stats(args) -> int:
    spark = _spark("stats")
    from letarette_spark.index.stats import index_stats

    st = index_stats(_open(spark, args))
    print(f"documents: {st.ndocs}")
    print(f"terms: {st.nterms}")
    print(f"total tokens: {st.total_tokens}")
    print(f"avg document length: {st.avgdl:.2f}")
    print(f"delta segments: {st.segments}")
    for space, n in sorted(st.spaces.items()):
        print(f"space {space}: {n} docs")
    print("top terms:")
    for term, cnt in st.top_terms:
        print(f"  {term}\t{cnt}")
    return 0


def cmd_index_snapshots(args) -> int:
    """List retained time-travel snapshots (Iceberg snapshots-table
    analog); serve an old one with `search --snapshot N`."""
    from letarette_spark.index.manifest import Manifest

    rows = Manifest.history(_root(args))
    if not rows:
        print("no retained snapshots (build with snapshot_retention > 1)")
        return 0
    print("snapshot\tndocs\tnterms\tsegments\tterm_stats_dir")
    for h in rows:
        print(
            f"{h['snapshot_id']}\t{h['ndocs']}\t{h['nterms']}\t"
            f"{h['segments']}\t{h['term_stats_dir']}"
        )
    return 0


def cmd_index_expire(args) -> int:
    """Expire old snapshots and reclaim their data dirs
    (expire_snapshots analog)."""
    from letarette_spark.index.incremental import expire_snapshots

    remaining = expire_snapshots(_root(args), keep_last=args.keep)
    print(f"retained: {remaining}")
    return 0


def cmd_index_check(args) -> int:
    """Integrity walk (checkIndex + CheckStemmerSettings analog,
    main.go:247-252): manifest loads, every referenced dir exists, and
    the live doc/term counts match the committed meta."""
    spark = _spark("check")
    import pyspark.sql.functions as F

    index = _open(spark, args)
    problems = []
    for d in (index.term_stats_dir(), index.postings_base_dir(), index.docs_base_dir()):
        if not os.path.isdir(d):
            problems.append(f"missing storage dir: {d}")
    ndocs = index.docs().count()
    if ndocs != int(index.meta["ndocs"]):
        problems.append(f"meta ndocs={index.meta['ndocs']} but docs table has {ndocs}")
    nterms = index.term_stats().count()
    if nterms != int(index.meta["nterms"]):
        problems.append(
            f"meta nterms={index.meta['nterms']} but term_stats has {nterms}"
        )
    # invariant: sum over terms of cnt == total tokens == meta sum_dl
    # (builder.py:479)
    sum_cnt = index.term_stats().agg(F.sum("cnt")).collect()[0][0] or 0
    if int(sum_cnt) != int(index.meta["sum_dl"]):
        problems.append(
            f"meta sum_dl={index.meta['sum_dl']} but term_stats cnt sums to {sum_cnt}"
        )
    if args.mode:
        from letarette_spark.analysis.tokenizer import AnalyzerConfig

        want = AnalyzerConfig(
            mode=args.mode, languages=tuple(args.languages.split(","))
        ).key()
        if index.meta["analyzer"] != want:
            print(
                "WARNING: index and config stemmer settings mismatch. "
                "Re-build index or force changes."
            )  # main.go:249-251
    if problems:
        for p in problems:
            print(f"FAIL: {p}")
        return 1
    print(f"index OK: {ndocs} docs, {nterms} terms, {len(index.segments)} segments")
    return 0


def cmd_index_optimize(args) -> int:
    spark = _spark("optimize")
    from letarette_spark.streaming.indexer import run_housekeeping

    did = run_housekeeping(spark, _root(args), compact_segments_over=0)
    print(json.dumps(did))
    return 0


def cmd_index_rebuild(args) -> int:
    """Full re-index from the stored docs (optimizeIndex/rebuildIndex,
    indextools.go): build into a staged sibling dir, then atomically swap
    the roots so a crash mid-rebuild never leaves a half-written index.
    It reads the docs through Index.open, so an index with a stale layout
    is refused here too; rebuild that one from its source documents."""
    spark = _spark("rebuild")
    import shutil

    from letarette_spark.index.builder import build_index

    root = _root(args)
    index = _open(spark, args)
    docs = index.docs().filter("alive")
    staged = root.rstrip("/") + ".rebuild"
    old = root.rstrip("/") + ".pre-rebuild"
    shutil.rmtree(staged, ignore_errors=True)
    res = build_index(spark, docs, staged, config=index.analyzer_config)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(root, old)
    os.rename(staged, root)
    shutil.rmtree(old, ignore_errors=True)
    print(f"rebuilt {root} from {res.ndocs} live docs")
    return 0


def cmd_index_forcestemmer(args) -> int:
    """Restamp the manifest's analyzer to the given config WITHOUT
    re-stemming postings — the reference's forceIndexStemmerState
    (main.go:263-265; stemmer.go): the operator takes responsibility for
    the mismatch."""
    from letarette_spark.analysis.tokenizer import AnalyzerConfig
    from letarette_spark.index.manifest import Manifest

    man = Manifest.load(_root(args))
    cfg = AnalyzerConfig(mode=args.mode, languages=tuple(args.languages.split(",")))
    meta = dict(man.state)
    meta["analyzer"] = cfg.key()
    man.commit_snapshot(meta)
    print(f"stamped analyzer {cfg.key()} (postings NOT re-stemmed)")
    return 0


def cmd_load(args) -> int:
    """Bulk load (main.go:115-127, bulkload.go / cmd/lrcli flags -a -m):
    builds a fresh index when none exists at -d, otherwise upserts into
    it (single-transaction semantics per batch either way)."""
    spark = _spark("load")
    from letarette_spark.index.builder import build_index
    from letarette_spark.index.incremental import upsert_documents
    from letarette_spark.index.manifest import Manifest
    from letarette_spark.sources.bulkload import load_json_docs

    root = _root(args)
    shard = None
    if args.shard:
        idx, group = args.shard.split("/")
        shard = (int(idx), int(group))
    docs = load_json_docs(
        spark, args.json, space=args.space,
        auto_assign_ids=args.auto_ids, limit=args.max, shard=shard,
    )
    if Manifest.exists(root):
        upsert_documents(spark, root, docs)
        print(f"upserted into {root}")
    else:
        res = build_index(spark, docs, root)
        print(f"built {root}: {res.ndocs} docs")
    return 0


def cmd_synonyms(args) -> int:
    """Set (json given) or dump (no json) the synonym list — lrcli
    synonyms (main.go:129-135); JSON shape is the reference's
    [{"description": ..., "words": [...]}] (db_synonyms.go:23-26)."""
    spark = _spark("synonyms")
    from letarette_spark.index.auxiliary import update_synonyms

    index = _open(spark, args)
    if args.json:
        opener = gzip.open if args.json.endswith(".gz") else open
        with opener(args.json, "rt") as f:
            data = json.load(f)
        groups = [
            (g.get("description", g.get("Description", "")),
             g.get("words", g.get("Words", [])))
            for g in data
        ]
        update_synonyms(index, groups)
        print(f"loaded {len(groups)} synonym groups")
    else:
        # dump shape mirrors dumpSynonyms (synonyms.go:95-108):
        # one json_array(description, words) line per group
        p = os.path.join(index.root, "synonyms.json")
        groups = json.load(open(p))["groups"] if os.path.exists(p) else []
        for desc, words in groups:
            print(json.dumps([desc, words]))
    return 0


def cmd_spelling(args) -> int:
    spark = _spark("spelling")
    from letarette_spark.query.spelling import build_speling_table

    path = build_speling_table(_open(spark, args), min_count=args.mincount)
    print(f"spelling table updated: {path}")
    return 0


def cmd_monitor(args) -> int:
    """One status snapshot per index (lrcli monitor, main.go:167-173
    prints worker IndexStatus updates); --serve starts the lrmon-analog
    web dashboard instead (cmd/lrmon)."""
    spark = _spark("monitor")
    from letarette_spark.monitoring import StatusMonitor, index_status

    roots = args.indexes or ([os.environ["LETARETTE_SPARK_INDEX"]]
                             if os.environ.get("LETARETTE_SPARK_INDEX") else [])
    if not roots:
        sys.exit("monitor: give index roots (or set LETARETTE_SPARK_INDEX)")
    from letarette_spark.index.builder import Index

    mon = StatusMonitor(self_id="lrcli-monitor")
    for i, root in enumerate(roots):
        st = index_status(
            Index.open(spark, root),
            shardgroup_size=len(roots), shard_index=i,
        )
        mon.update(st)
        print(f"{root}: {st}")
    if args.serve:
        from letarette_spark.webmon import MonitorServer

        srv = MonitorServer(mon)
        url = srv.start()
        print(f"serving dashboard at {url} (ctrl-c to stop)")
        try:
            import time

            while True:
                time.sleep(3600)
        except KeyboardInterrupt:
            pass
    return 0


def cmd_sql(args) -> int:
    """Raw SQL over the engine tables (lrcli sql, main.go:160-166 runs
    raw sqlite SQL): registers every <table>.parquet under --tables as a
    view, plus — when -d points at an index — its docs/term_stats."""
    spark = _spark("sql")
    if args.tables:
        for name in sorted(os.listdir(args.tables)):
            if name.endswith(".parquet"):
                spark.read.parquet(os.path.join(args.tables, name)) \
                    .createOrReplaceTempView(name[: -len(".parquet")])
    if args.index or os.environ.get("LETARETTE_SPARK_INDEX"):
        from letarette_spark.index.builder import Index

        index = Index.open(spark, _root(args))
        index.docs().createOrReplaceTempView("docs")
        index.term_stats().createOrReplaceTempView("term_stats")
    spark.sql(args.sql).show(args.limit, truncate=False)
    return 0


def cmd_pipeline(args) -> int:
    """Run the one-call training-data pipeline over a parquet docs
    table: optional URL dedup -> optional seen-corpus Bloom dedup ->
    quality gates -> exact dedup -> near dedup (MinHash LSH) ->
    optional benchmark decontamination. Writes the per-doc (id, kept,
    reason) audit and prints drop-reason counts. Beyond-ref: the
    reference indexes corpora, this prepares them (functions/pipeline.py
    prepare_training_data)."""
    from pyspark.sql import functions as F

    from letarette_spark.functions.pipeline import prepare_training_data

    spark = _spark("pipeline")
    docs = spark.read.parquet(args.docs)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    audit = prepare_training_data(
        docs,
        benchmark=bench,
        threshold=args.threshold,
        id_col=args.id_col,
        text_col=args.text_col,
        url_col=args.url_col,
        seen=spark.read.parquet(args.seen) if args.seen else None,
    )
    if args.output:
        audit.write.mode("overwrite").parquet(args.output)
        audit = spark.read.parquet(args.output)
    rows = (
        audit.groupBy("kept", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("kept", "reason")
        .collect()
    )
    total = sum(r["n"] for r in rows)
    print(f"documents: {total}")
    for r in rows:
        label = "kept" if r["kept"] else f"dropped ({r['reason']})"
        print(f"  {label:24s} {r['n']}")
    if args.output:
        print(f"audit written to {args.output}")
    if args.shards_out:
        from letarette_spark.functions.sampling import write_training_shards

        kept = docs.join(
            audit.filter(F.col("kept")).select(args.id_col), args.id_col
        )
        write_training_shards(
            kept, args.shards_out, args.n_shards,
            key_col=args.id_col, seed=args.shard_seed,
        )
        print(
            f"kept docs written as {args.n_shards} deterministic shards "
            f"to {args.shards_out}"
        )
    return 0


def cmd_env(args) -> int:
    """Effective settings (lrcli env, main.go:102-107)."""
    import pyspark

    print(f"pyspark: {pyspark.__version__}")
    print(f"LETARETTE_SPARK_INDEX: {os.environ.get('LETARETTE_SPARK_INDEX', '')}")
    print(f"SPARK_GRAFT_CPUS: {os.environ.get('SPARK_GRAFT_CPUS', '')}")
    print(f"SPARK_DRIVER_MEM: {os.environ.get('SPARK_DRIVER_MEM', '8g')}")
    if args.verbose:
        spark = _spark("env")
        for k, v in sorted(spark.sparkContext.getConf().getAll()):
            print(f"{k}={v}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m letarette_spark",
        description="lrcli-analog CLI over the Spark index",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    def with_index(p):
        p.add_argument("-d", "--index", help="index root (or LETARETTE_SPARK_INDEX)")
        return p

    p = with_index(sub.add_parser("search"))
    p.add_argument("-l", "--limit", type=int, default=10)
    p.add_argument("-p", "--page", type=int, default=0)
    p.add_argument("-i", "--interactive", action="store_true")
    p.add_argument("--snapshot", type=int, default=None,
                   help="serve a retained snapshot (time travel; see "
                        "'index snapshots')")
    p.add_argument("space", nargs="?")
    p.add_argument("phrase", nargs="*")
    p.set_defaults(fn=cmd_search)

    pi = sub.add_parser("index")
    isub = pi.add_subparsers(dest="subcmd", required=True)
    with_index(isub.add_parser("stats")).set_defaults(fn=cmd_index_stats)
    with_index(isub.add_parser("snapshots")).set_defaults(
        fn=cmd_index_snapshots
    )
    pe = with_index(isub.add_parser("expire"))
    pe.add_argument("--keep", type=int, default=1)
    pe.set_defaults(fn=cmd_index_expire)
    pc = with_index(isub.add_parser("check"))
    pc.add_argument("--mode", help="expected analyzer mode to check against")
    pc.add_argument("--languages", default="english")
    pc.set_defaults(fn=cmd_index_check)
    with_index(isub.add_parser("optimize")).set_defaults(fn=cmd_index_optimize)
    with_index(isub.add_parser("rebuild")).set_defaults(fn=cmd_index_rebuild)
    pf = with_index(isub.add_parser("forcestemmer"))
    pf.add_argument("--mode", default="letarette")
    pf.add_argument("--languages", default="english")
    pf.set_defaults(fn=cmd_index_forcestemmer)

    p = with_index(sub.add_parser("load"))
    p.add_argument("-m", "--max", type=int)
    p.add_argument("-a", "--auto-ids", action="store_true")
    p.add_argument("--shard", help="I/G shard filter, e.g. 1/4")
    p.add_argument("space")
    p.add_argument("json")
    p.set_defaults(fn=cmd_load)

    p = with_index(sub.add_parser("synonyms"))
    p.add_argument("json", nargs="?")
    p.set_defaults(fn=cmd_synonyms)

    p = with_index(sub.add_parser("spelling"))
    p.add_argument("action", choices=["update"])
    p.add_argument("mincount", type=int, nargs="?", default=4)
    p.set_defaults(fn=cmd_spelling)

    p = sub.add_parser("monitor")
    p.add_argument("indexes", nargs="*")
    p.add_argument("--serve", action="store_true")
    p.set_defaults(fn=cmd_monitor)

    p = with_index(sub.add_parser("sql"))
    p.add_argument("sql")
    p.add_argument("--tables", help="dir of <name>.parquet to register as views")
    p.add_argument("--limit", type=int, default=50)
    p.set_defaults(fn=cmd_sql)

    p = sub.add_parser("pipeline")
    p.add_argument("docs", help="parquet path of the input docs table")
    p.add_argument("-o", "--output", help="parquet path for the audit")
    p.add_argument("--benchmark", help="parquet path of an eval set to "
                   "decontaminate against")
    p.add_argument("--threshold", type=float, default=0.2)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--shards-out", help="also write the KEPT docs as "
                   "n deterministically shuffled shard files")
    p.add_argument("--n-shards", type=int, default=8)
    p.add_argument("--shard-seed", type=int, default=42)
    p.add_argument("--url-col", help="URL column: dedup by canonical "
                   "URL before the content stages")
    p.add_argument("--seen", help="parquet path of the already-ingested "
                   "corpus: drop rows whose text appears there (Bloom "
                   "prefilter + exact confirm)")
    p.set_defaults(fn=cmd_pipeline)

    p = sub.add_parser("env")
    p.add_argument("-v", "--verbose", action="store_true")
    p.set_defaults(fn=cmd_env)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
