"""Posting blocks: delta+varbyte-compressed doclist runs with block-max
metadata — the storage layer for block-max WAND pruning (query/wand.py).

Layout: one row per (term, run of <= block_size docs), built from the
row-postings table after a repartitionByRange(term, rowid) +
sortWithinPartitions — so blocks are formed inside partitions with NO
per-term groupBy. A Zipf head term's doclist simply spans many partitions,
each producing its own blocks: term-frequency skew cannot concentrate on a
single reducer (SURVEY.md §7 watch-list #5).

Blocks are cut by one Arrow kernel per batch (``block_batches``, run
through mapInArrow): term starts from one ``pc.not_equal``, block starts
at position-in-term modulo block_size, the block-max columns from
``np.maximum/minimum.reduceat``, and each payload column LEB128-encoded
once and cut into per-block binary values by offset buffers
(varbyte.encode_u64_runs). No Python runs per term or per block. A term
cut by a batch boundary restarts its blocks in the next batch.

Columns:
  term, n, min_rowid, max_rowid         block membership + range pruning
  tf0_max, tf1_max, dl_min              block-max score-bound ingredients
  rowids, tf0s, tf1s, dls (binary)      varbyte payloads (decode on demand)

Positions are intentionally absent: phrase/NEAR queries use the row
postings; blocks serve pure BM25 scoring (the WAND path).
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from letarette_spark.index.builder import Index
from letarette_spark.index.manifest import Manifest
from letarette_spark.index.varbyte import encode_u64_runs, rowid_deltas

DEFAULT_BLOCK_SIZE = 128

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("min_rowid", T.LongType(), False),
        T.StructField("max_rowid", T.LongType(), False),
        T.StructField("tf0_max", T.IntegerType(), False),
        T.StructField("tf1_max", T.IntegerType(), False),
        T.StructField("dl_min", T.IntegerType(), False),
        T.StructField("rowids", T.BinaryType(), False),
        T.StructField("tf0s", T.BinaryType(), False),
        T.StructField("tf1s", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
    ]
)


def _binary_runs(values: np.ndarray, starts: np.ndarray) -> pa.Array:
    data, offsets = encode_u64_runs(values, starts)
    return pa.BinaryArray.from_buffers(
        pa.binary(),
        len(starts),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def block_batches(
    batches: Iterator[pa.RecordBatch], block_size: int
) -> Iterator[pa.RecordBatch]:
    """Cut (term, rowid, tf0, tf1, dl) batches, sorted by (term, rowid),
    into blocks of <= block_size rows per term (BLOCKS_SCHEMA rows)."""
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        term = batch.column("term")
        rowid, tf0, tf1, dl = (
            batch.column(c).to_numpy(zero_copy_only=False).astype(np.int64)
            for c in ("rowid", "tf0", "tf1", "dl")
        )
        new_term = np.ones(n, dtype=bool)
        new_term[1:] = pc.not_equal(term[1:], term[:-1]).to_numpy(
            zero_copy_only=False
        )
        term_starts = np.flatnonzero(new_term)
        pos = np.arange(n) - term_starts[np.cumsum(new_term) - 1]
        starts = np.flatnonzero(pos % block_size == 0)
        ends = np.append(starts[1:], n)
        yield pa.RecordBatch.from_arrays(
            [
                term.take(starts),
                pa.array((ends - starts).astype(np.int32)),
                pa.array(rowid[starts]),
                pa.array(rowid[ends - 1]),
                pa.array(np.maximum.reduceat(tf0, starts).astype(np.int32)),
                pa.array(np.maximum.reduceat(tf1, starts).astype(np.int32)),
                pa.array(np.minimum.reduceat(dl, starts).astype(np.int32)),
                _binary_runs(rowid_deltas(rowid, starts), starts),
                _binary_runs(tf0, starts),
                _binary_runs(tf1, starts),
                _binary_runs(dl, starts),
            ],
            names=BLOCKS_SCHEMA.fieldNames(),
        )


def build_blocks(index: Index, block_size: int = DEFAULT_BLOCK_SIZE) -> str:
    """Materialize the blocks table from current postings. Returns path."""
    spark = index.spark
    par = max(2, spark.sparkContext.defaultParallelism // 2)
    blocks = (
        index.postings()
        .select("term", "rowid", "tf0", "tf1", "dl")
        .repartitionByRange(par, "term", "rowid")
        .sortWithinPartitions("term", "rowid")
        .mapInArrow(lambda it: block_batches(it, block_size), schema=BLOCKS_SCHEMA)
    )
    out = os.path.join(index.root, "blocks")
    tmp = out + ".tmp"
    blocks.write.mode("overwrite").parquet(tmp)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.replace(tmp, out)

    man = Manifest.load(index.root)
    meta = dict(man.state, blocks={"block_size": block_size})
    meta.pop("snapshot_id", None)
    man.commit_snapshot(meta)
    index.meta = man.state
    return out


def has_blocks(index: Index) -> bool:
    return bool(index.meta.get("blocks")) and os.path.exists(
        os.path.join(index.root, "blocks")
    )


def blocks_df(index: Index):
    # the writer's schema: no footer-reading inference job per call
    return index.spark.read.schema(BLOCKS_SCHEMA).parquet(
        os.path.join(index.root, "blocks")
    )
