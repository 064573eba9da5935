"""Delta + varbyte (LEB128) codec for posting blocks, numpy-vectorized.

FTS5 stores doclists as varint-encoded rowid deltas inside segment B-tree
pages (public file-format documentation); our blocks table stores the same
delta+varbyte idea as parquet binary columns. Encode/decode run inside
Arrow batches — no per-row Python in the scan path.

There is one LEB128 encoder, ``encode_u64_runs``: it encodes a whole
column once and cuts the bytes into runs (the blocks builder's per-block
binary values). ``encode_u64`` and the ``encode_rowids``/``encode_ints``
helpers are its one-run case.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_SEVEN = _U64(7)
_MASK = _U64(0x7F)
_CONT = np.uint8(0x80)


def encode_u64_runs(
    values: np.ndarray, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode uint64 *values* once and cut the bytes into runs.

    *starts* holds each run's first index (ascending, the first one 0).
    Returns (data, offsets): run i's bytes are data[offsets[i]:offsets[i+1]]
    — an Arrow binary column's value and offset buffers. A run's bytes are
    the concatenation of its values' encodings, so they equal encoding the
    run on its own."""
    v = np.asarray(values, dtype=_U64)
    starts = np.asarray(starts, dtype=np.int64)
    n = len(v)
    # byte length per value: ceil(bits/7), min 1
    lengths = np.ones(n, dtype=np.int64)
    tmp = v >> _SEVEN
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        lengths[nz] += 1
        tmp = tmp >> _SEVEN
    ends = np.cumsum(lengths)
    out = np.zeros(int(ends[-1]) if n else 0, dtype=np.uint8)
    byte_starts = ends - lengths
    work = v.copy()
    for j in range(int(lengths.max()) if n else 0):
        sel = lengths > j
        byte = (work[sel] & _MASK).astype(np.uint8)
        cont = (j + 1 < lengths[sel]).astype(np.uint8) * _CONT
        out[byte_starts[sel] + j] = byte | cont
        work[sel] = work[sel] >> _SEVEN
    # byte offset of every value index, index n (an empty last run) included
    bounds = np.append(byte_starts, len(out))
    return out, np.append(bounds[starts], len(out))


def encode_u64(values: np.ndarray) -> bytes:
    """LEB128-encode an array of uint64 (one run)."""
    return encode_u64_runs(values, np.zeros(1, dtype=np.int64))[0].tobytes()


def decode_u64(data: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array."""
    if not data:
        return np.empty(0, dtype=_U64)
    b = np.frombuffer(data, dtype=np.uint8)
    is_end = (b & _CONT) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    n = len(ends)
    out = np.zeros(n, dtype=_U64)
    max_len = int(lengths.max())
    payload = (b & np.uint8(0x7F)).astype(_U64)
    for j in range(max_len):
        sel = lengths > j
        out[sel] |= payload[starts[sel] + j] << (_SEVEN * _U64(j))
    return out


_BIAS = np.uint64(1 << 63)


def rowid_deltas(rowids: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Sorted signed-64 rowids -> bias-to-unsigned -> deltas that restart
    at each run start (a run's first delta is its biased rowid)."""
    u = np.asarray(rowids, dtype=np.int64).astype(_U64) + _BIAS
    deltas = u.copy()
    deltas[1:] -= u[:-1]
    deltas[starts] = u[starts]
    return deltas


def encode_rowids(rowids: np.ndarray) -> bytes:
    """Sorted signed-64 rowids -> bias-to-unsigned -> delta -> varbyte."""
    return encode_u64(rowid_deltas(rowids, np.zeros(min(1, len(rowids)), np.int64)))


def decode_rowids(data: bytes) -> np.ndarray:
    deltas = decode_u64(data)
    if len(deltas) == 0:
        return np.empty(0, dtype=np.int64)
    u = np.cumsum(deltas, dtype=_U64)
    return (u - _BIAS).astype(np.int64)


def encode_ints(values: np.ndarray) -> bytes:
    """Small non-negative ints (tf counts) -> varbyte."""
    return encode_u64(np.asarray(values, dtype=np.int64).astype(_U64))


def decode_ints(data: bytes) -> np.ndarray:
    return decode_u64(data).astype(np.int64)
