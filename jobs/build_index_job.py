"""spark-submit entrypoint: build (or resume) the inverted index.

Ship-to-cluster form (the north_star contract: "ships as spark-submit
--py-files on multi-executor clusters"):

    python tools/make_pyfiles.py                       # -> dist/letarette_spark.zip
    spark-submit --py-files dist/letarette_spark.zip \\
        jobs/build_index_job.py \\
        --corpus  s3://bucket/corpus_parquet \\
        --root    s3://bucket/index_root \\
        --mode    letarette --buckets 256 \\
        --build-partitions 4096 --chunk-size 256 --files-per-chunk 512 \\
        --verify-sha256

The corpus table must have (repo, path, commit, lang, content[,
content_sha256]) per BASELINE.json input_hint, or already be in docs shape
(doc_id, space, title, body, alive) with --docs-shape. A killed job rerun
with the same arguments resumes from the chunk lineage without
recomputation. Also supports --synthesize N to generate the deterministic
corpus in-cluster (benchmarks)."""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="corpus parquet path (or use --synthesize)")
    ap.add_argument("--synthesize", type=int, help="generate N synthetic docs instead")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--root", required=True, help="index root path")
    ap.add_argument("--mode", default="letarette", choices=["simple", "porter", "letarette"])
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--build-partitions", type=int, default=64)
    ap.add_argument("--chunk-size", type=int, default=8)
    ap.add_argument("--files-per-chunk", type=int, default=None)
    ap.add_argument("--verify-sha256", action="store_true")
    ap.add_argument("--snapshot-retention", type=int, default=1,
                    help="keep the last K committed snapshots readable "
                         "via Index.open(root, snapshot_id=n) (Iceberg "
                         "VERSION AS OF analog; default 1 = current only)")
    ap.add_argument("--docs-shape", action="store_true",
                    help="corpus is already (doc_id, space, title, body, alive)")
    ap.add_argument("--build-blocks", action="store_true",
                    help="also materialize WAND posting blocks")
    ap.add_argument("--update-aux", action="store_true",
                    help="derive stopwords + spelling dictionary after build")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from letarette_spark.analysis.tokenizer import AnalyzerConfig
    from letarette_spark.index.builder import Index, build_index
    from letarette_spark.session import ENGINE_CONF
    from letarette_spark.sources.corpus import docs_from_corpus, generate_corpus

    spark = SparkSession.builder.appName("letarette_build").config(
        map=ENGINE_CONF
    ).getOrCreate()
    cfg = AnalyzerConfig(mode=args.mode)

    if args.synthesize:
        corpus = generate_corpus(spark, args.synthesize, seed=args.seed)
    elif args.corpus:
        corpus = spark.read.parquet(args.corpus)
    else:
        ap.error("one of --corpus / --synthesize is required")
    docs = corpus if args.docs_shape else docs_from_corpus(corpus)

    t0 = time.perf_counter()
    res = build_index(
        spark, docs, args.root, config=cfg,
        n_build_partitions=args.build_partitions,
        chunk_size=args.chunk_size,
        files_per_chunk=args.files_per_chunk,
        n_buckets=args.buckets,
        verify_sha256=args.verify_sha256,
        snapshot_retention=args.snapshot_retention,
    )
    wall = time.perf_counter() - t0

    idx = Index.open(spark, args.root, cfg)
    if args.build_blocks:
        from letarette_spark.index.blocks import build_blocks

        build_blocks(idx)
    if args.update_aux:
        from letarette_spark.index.auxiliary import update_stopwords
        from letarette_spark.query.spelling import build_speling_table

        update_stopwords(idx)
        build_speling_table(idx)

    print(json.dumps({
        "root": res.root, "ndocs": res.ndocs, "nterms": res.nterms,
        "sum_dl": res.sum_dl, "chunks_built": res.chunks_built,
        "chunks_skipped": res.chunks_skipped,
        "build_sec": round(wall, 2),
        "docs_per_sec": round(res.ndocs / wall, 2) if wall else None,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
