"""Shard clone export / import — the reference's ShardCloner +
LoadShardClone (internal/letarette/cloning.go:58-230): export every
document belonging to one shard of a group, load it into a fresh index.

Shard membership is bit-compatible: FNV-1a32(docID) % group_size, with
the 1-based "group/size" shard-group string (sharding.go:32-60 —
oracle-checked against DuckDB in the shard_assign gate). The transport
format substitutes parquet + a JSON manifest for the reference's
gob-in-gzip stream (a Go-specific serialization with no cross-language
value; the parquet export is splittable and cluster-readable, which is
what a Spark loader actually wants). Observable behavior matches: the
imported shard index contains exactly the shard's documents — including
tombstoned ones, like the reference's cloneDocument rows — and serves
searches rank-identical to an index built from that subset (per-shard
statistics, the same property a reference shard server has).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from letarette_spark.functions.sharding import shard_expr
from letarette_spark.index.builder import BuildResult, Index, build_index

CLONE_VERSION = 1


def parse_shard_string(shard_group: str) -> tuple[int, int]:
    """'group/size' with 1-based group (sharding.go:40-60)."""
    parts = shard_group.split("/")
    err = ValueError(f"invalid shard group setting: {shard_group!r}")
    if len(parts) != 2:
        raise err
    try:
        group, size = int(parts[0]), int(parts[1])
    except ValueError:
        raise err from None
    if group > size or group < 1:
        raise err
    return group, size


def shard_docs(index: Index, shard_group: str) -> DataFrame:
    """Current doc rows (live view, tombstoned rows included) belonging to
    the shard."""
    group, size = parse_shard_string(shard_group)
    docs = index.docs()
    return docs.filter(shard_expr("doc_id", size) == group - 1)


def export_shard(index: Index, dest: str, shard_group: str) -> int:
    """Write the shard's documents to *dest* (parquet + manifest).
    Returns the exported document count."""
    group, size = parse_shard_string(shard_group)
    docs = shard_docs(index, shard_group)
    docs.write.mode("overwrite").parquet(os.path.join(dest, "docs"))
    n = index.spark.read.parquet(os.path.join(dest, "docs")).count()
    with open(os.path.join(dest, "clone.json"), "w") as f:
        json.dump(
            {
                "version": CLONE_VERSION,
                "group": group,
                "size": size,
                "count": n,
                "analyzer": index.meta["analyzer"],
            },
            f,
        )
    return n


def import_shard(
    spark: SparkSession, src: str, root: str, housekeep: bool = True,
    **build_kwargs
) -> BuildResult:
    """Build a fresh index at *root* from an export_shard() directory.
    The analyzer configuration travels with the clone (the reference
    refuses mismatched stemmer state on load — stemmer.go:32-59).

    The auxiliary tables (spelling dictionary, auto-stopwords, WAND
    blocks) are derived state the clone transport does NOT carry; by
    default a housekeeping pass provisions them so the imported shard
    serves respelled and block-max queries immediately — the reference
    reaches the same state via its first idle-cycle doHousekeeping
    (indexer.go:476-487). Pass housekeep=False to defer to your own
    maintenance cadence."""
    from letarette_spark.analysis.tokenizer import AnalyzerConfig

    with open(os.path.join(src, "clone.json")) as f:
        manifest = json.load(f)
    if manifest["version"] > CLONE_VERSION:
        raise ValueError("incompatible clone format")
    cfg = AnalyzerConfig.from_key(manifest["analyzer"])
    docs = spark.read.parquet(os.path.join(src, "docs"))
    result = build_index(spark, docs, root, config=cfg, **build_kwargs)
    if housekeep:
        from letarette_spark.streaming.indexer import run_housekeeping

        # a fresh index is missing the whole spelling table, so any
        # eligible term counts as lag — max_lag=1 forces the first build
        run_housekeeping(spark, root, spelling_max_lag=1)
    return result
