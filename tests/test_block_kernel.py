"""The Arrow block kernel (index/blocks.block_batches) against its twin,
the per-term pandas builder it replaced, kept here as the reference.

Two whole build_blocks runs can differ by a block even on the same code:
repartitionByRange samples its input, so partition edges (and with them
the batch a term is cut at) move from run to run. Kernel and twin are
therefore compared on the same hand-built batches, and the end-to-end
check compares decoded postings per term, which no cut changes."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from letarette_spark.analysis.tokenizer import AnalyzerConfig
from letarette_spark.index.blocks import BLOCKS_SCHEMA, block_batches, blocks_df, build_blocks
from letarette_spark.index.builder import Index, build_index
from letarette_spark.index.varbyte import (
    decode_ints,
    decode_rowids,
    encode_ints,
    encode_rowids,
)

COLS = BLOCKS_SCHEMA.fieldNames()
I64 = np.iinfo(np.int64)


def twin_blocks(
    batches: Iterator[pd.DataFrame], block_size: int
) -> Iterator[pd.DataFrame]:
    """The per-term pandas block builder (the reference): one groupby per
    batch, one dict per block, each payload encoded per block."""
    for pdf in batches:
        if pdf.empty:
            continue
        out = []
        # rows arrive sorted by (term, rowid) within the partition
        for term, g in pdf.groupby("term", sort=False):
            rowids = g["rowid"].to_numpy(dtype=np.int64)
            tf0 = g["tf0"].to_numpy(dtype=np.int64)
            tf1 = g["tf1"].to_numpy(dtype=np.int64)
            dls = g["dl"].to_numpy(dtype=np.int64)
            for s in range(0, len(rowids), block_size):
                e = min(s + block_size, len(rowids))
                out.append(
                    {
                        "term": term,
                        "n": e - s,
                        "min_rowid": int(rowids[s]),
                        "max_rowid": int(rowids[e - 1]),
                        "tf0_max": int(tf0[s:e].max()),
                        "tf1_max": int(tf1[s:e].max()),
                        "dl_min": int(dls[s:e].min()),
                        "rowids": encode_rowids(rowids[s:e]),
                        "tf0s": encode_ints(tf0[s:e]),
                        "tf1s": encode_ints(tf1[s:e]),
                        "dls": encode_ints(dls[s:e]),
                    }
                )
        yield pd.DataFrame(out, columns=COLS)


def _batch(rows: list[tuple]) -> pa.RecordBatch:
    term, rowid, tf0, tf1, dl = zip(*rows) if rows else ((),) * 5
    return pa.RecordBatch.from_arrays(
        [
            pa.array(term, pa.string()),
            pa.array(rowid, pa.int64()),
            pa.array(tf0, pa.int32()),
            pa.array(tf1, pa.int32()),
            pa.array(dl, pa.int32()),
        ],
        names=["term", "rowid", "tf0", "tf1", "dl"],
    )


def _term_rows(term: str, rowids, rng) -> list[tuple]:
    return [
        (term, int(r), int(rng.integers(0, 4)), int(rng.integers(0, 50)),
         int(rng.integers(0, 2**31 - 1)))
        for r in sorted(rowids)
    ]


def _assert_same(batches: list[pa.RecordBatch], block_size: int) -> int:
    got = [b.to_pydict() for b in block_batches(iter(batches), block_size)]
    want = [
        {c: pdf[c].tolist() for c in COLS}
        for pdf in twin_blocks((b.to_pandas() for b in batches), block_size)
    ]
    assert got == want
    for b in block_batches(iter(batches), block_size):
        assert b.schema.types == [
            pa.string(), pa.int32(), pa.int64(), pa.int64(), pa.int32(),
            pa.int32(), pa.int32(), pa.binary(), pa.binary(), pa.binary(),
            pa.binary(),
        ]
    return sum(len(g["term"]) for g in got)


BS = 8


def test_term_of_exactly_block_size_rows():
    rng = np.random.default_rng(1)
    assert _assert_same([_batch(_term_rows("aa", range(BS), rng))], BS) == 1


def test_term_of_block_size_plus_one_rows():
    rng = np.random.default_rng(2)
    rows = _term_rows("aa", range(BS + 1), rng) + _term_rows("ab", range(2 * BS), rng)
    assert _assert_same([_batch(rows)], BS) == 4


def test_one_row_terms():
    rng = np.random.default_rng(3)
    rows = [r for t in ("a", "b", "c", "d") for r in _term_rows(t, [7], rng)]
    assert _assert_same([_batch(rows)], BS) == 4
    assert _assert_same([_batch(rows)], 1) == 4


def test_negative_and_extreme_rowids_and_zero_tfs():
    rng = np.random.default_rng(4)
    rowids = [I64.min, I64.min + 1, -(2**40), -1, 0, 1, 2**40, I64.max - 1, I64.max]
    rows = [(t, r, 0, 0, 0) for t in ("x", "y") for r in rowids]
    rows += _term_rows("z", [I64.min, I64.max], rng)
    assert _assert_same([_batch(rows)], BS) == 5
    assert _assert_same([_batch(rows)], 3) == 7
    (b,) = list(block_batches(iter([_batch(rows)]), len(rowids)))
    assert decode_rowids(b.column("rowids")[0].as_py()).tolist() == rowids
    assert decode_ints(b.column("tf0s")[1].as_py()).tolist() == [0] * len(rowids)


def test_term_cut_by_a_batch_boundary():
    rng = np.random.default_rng(5)
    rows = _term_rows("aa", range(3), rng) + _term_rows("ab", range(3 * BS + 2), rng)
    rows += _term_rows("ac", range(5), rng)
    cut = 3 + BS + 3
    n = _assert_same([_batch(rows[:cut]), _batch([]), _batch(rows[cut:])], BS)
    assert n == 1 + 2 + 2 + 1  # ab restarts its blocks in the second batch


def test_random_batches():
    rng = np.random.default_rng(6)
    for _ in range(30):
        rows = []
        for t in sorted({f"t{rng.integers(0, 40)}" for _ in range(12)}):
            k = int(rng.integers(1, 3 * BS))
            rows += _term_rows(
                t, rng.choice(2**62, size=k, replace=False) - 2**61, rng
            )
        cuts = sorted(rng.integers(0, len(rows) + 1, size=3))
        parts = np.split(np.arange(len(rows)), cuts)
        batches = [_batch([rows[i] for i in p]) for p in parts]
        _assert_same(batches, int(rng.integers(1, 2 * BS)))


@pytest.fixture(scope="module")
def blocked(spark, tmp_path_factory):
    from letarette_spark.sources.corpus import docs_from_corpus, generate_corpus_local

    root = str(tmp_path_factory.mktemp("block_kernel_idx"))
    cfg = AnalyzerConfig(mode="porter")
    corpus = spark.createDataFrame(generate_corpus_local(150, seed=3))
    build_index(spark, docs_from_corpus(corpus), root, config=cfg,
                n_build_partitions=2, chunk_size=2)
    idx = Index.open(spark, root, cfg)
    build_blocks(idx, block_size=16)
    return idx


def test_build_blocks_decodes_to_the_postings(blocked):
    """End to end: each term's blocks decode to its postings' (rowid, tf0,
    tf1, dl) in rowid order, and the block-max columns bound them."""
    decoded: dict[str, list] = {}
    for r in blocks_df(blocked).orderBy("term", "min_rowid").collect():
        rowids = decode_rowids(r["rowids"]).tolist()
        tf0, tf1, dl = (decode_ints(r[c]).tolist() for c in ("tf0s", "tf1s", "dls"))
        assert r["n"] == len(rowids) <= 16
        assert (r["min_rowid"], r["max_rowid"]) == (rowids[0], rowids[-1])
        assert (r["tf0_max"], r["tf1_max"], r["dl_min"]) == (max(tf0), max(tf1), min(dl))
        decoded.setdefault(r["term"], []).extend(zip(rowids, tf0, tf1, dl))
    want: dict[str, list] = {}
    for r in blocked.postings().orderBy("term", "rowid").collect():
        want.setdefault(r["term"], []).append((r["rowid"], r["tf0"], r["tf1"], r["dl"]))
    assert decoded == want
