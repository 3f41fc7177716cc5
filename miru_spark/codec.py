"""Delta + varint (LEB128) posting-list codec, numpy-vectorized.

Stands in for the reference's Roaring bitmap posting lists
(miru-bitmaps-roaring6/.../MiruBitmapsRoaring.java) and their "atomized"
64Ki-row chunks (miru-service/.../index/lab/LabInvertedIndex.java:268-283,
312-399). Our physical unit is a fixed-size block of ``BLOCK_SIZE`` ids with
per-block (last_doc_id, max_tf) metadata — the block-max structure WAND needs
(not read by a scorer yet: a term's whole list is one varint stream).

Everything here operates on whole numpy arrays (no per-value Python loops in
encode/decode); the per-row slicing for batched Arrow columns lives in
operators/build.py.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varint_encode(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode non-negative ints.

    Returns (bytes_out uint8 array, nbytes per value). Vectorized: the loop
    is over byte *positions* (≤10 for uint64), not values.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    rem = v.copy()
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        idx = starts[mask] + k
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > k).astype(np.uint8)
        out[idx] = byte | (cont << 7)
        rem[mask] >>= np.uint64(7)
    return out, nbytes


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a LEB128 byte stream to uint64 values (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    n = len(ends)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    pos_in_group = np.arange(len(b), dtype=np.int64) - np.repeat(starts, lengths)
    contrib = (b & np.uint64(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos_in_group.astype(np.uint64)
    )
    return np.add.reduceat(contrib, starts)


def delta_pack(doc_ids: np.ndarray) -> bytes:
    """Pack a strictly-increasing id array: first value, then gaps."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if len(ids) == 0:
        return b""
    deltas = np.empty(len(ids), dtype=np.uint64)
    deltas[0] = ids[0]
    deltas[1:] = np.diff(ids).astype(np.uint64)
    out, _ = varint_encode(deltas)
    return out.tobytes()


def delta_unpack(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf)
    if len(deltas) == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(deltas.astype(np.int64))


def tf_pack(tfs: np.ndarray) -> bytes:
    out, _ = varint_encode(np.ascontiguousarray(tfs, dtype=np.uint64))
    return out.tobytes()


def tf_unpack(buf: bytes) -> np.ndarray:
    return varint_decode(buf).astype(np.int64)


def block_metadata(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-block (last doc id, max tf); ``fulltext.index_first_latest`` reads
    the last block_last.

    Blocks are ``BLOCK_SIZE`` consecutive postings; the reference's analog is
    the atomized chunk key carrying its id range (LabInvertedIndex.atomize).
    """
    n = len(doc_ids)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    starts = np.arange(0, n, BLOCK_SIZE, dtype=np.int64)
    block_last = doc_ids[np.minimum(starts + BLOCK_SIZE - 1, n - 1)]
    block_max_tf = np.maximum.reduceat(np.ascontiguousarray(tfs, dtype=np.int64), starts)
    return np.asarray(block_last, dtype=np.int64), block_max_tf
