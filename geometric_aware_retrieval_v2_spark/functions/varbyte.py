"""Delta + varbyte posting compression (classic vbyte: little-endian 7-bit
groups, high bit set on the terminating byte), fully vectorized in NumPy —
these run inside Arrow UDFs over whole partitions (the pack kernel encodes
every block of a task in one call, and postings.decode_blocks decodes every
block row of a batch or query partition in one call), so there must be no
per-value Python loop.

Public-algorithm citations: vbyte per Zobel & Moffat, "Inverted files for
text search engines" (ACM CSUR 2006); block layout per Ding & Suel,
"Faster top-k document retrieval using block-max indexes" (SIGIR 2011).
"""

from __future__ import annotations

import numpy as np


def varbyte_encode_with_lengths(vals: np.ndarray) -> tuple[bytes, np.ndarray]:
    """-> (encoded bytes, per-value byte length). One vectorized pass for an
    arbitrarily long value stream; callers slice out sub-ranges by the
    cumsum of lengths (used to pack thousands of blocks in one call)."""
    vals = np.asarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    # byte-width per value, shrinking the working set each pass: posting
    # streams are dominated by 1-2-byte values with a sparse tail of wide
    # ones (each block's delta chain restarts at an absolute 2^63-range
    # docID), and the previous full-array loop paid max-width passes over
    # EVERY value — ~10 shifts over the whole stream when <1% of it was
    # wide. Identical nb, hence bit-identical encoding.
    nb = np.ones(len(vals), dtype=np.int64)
    v = vals >> np.uint64(7)
    live = np.nonzero(v)[0]
    v = v[live]
    while live.size:
        nb[live] += 1
        v >>= np.uint64(7)
        keep = v > np.uint64(0)
        live = live[keep]
        v = v[keep]
    offs = np.concatenate(([0], np.cumsum(nb)))
    total = int(offs[-1])
    idx = np.repeat(np.arange(len(vals)), nb)
    pos_in = np.arange(total, dtype=np.int64) - offs[idx]
    shifted = vals[idx] >> (pos_in.astype(np.uint64) * np.uint64(7))
    out = (shifted & np.uint64(0x7F)).astype(np.uint8)
    out[pos_in == (nb[idx] - 1)] |= np.uint8(0x80)
    return out.tobytes(), nb


def varbyte_encode(vals: np.ndarray) -> bytes:
    return varbyte_encode_with_lengths(vals)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) != 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    pos = np.arange(len(b), dtype=np.int64) - np.repeat(starts, lens)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (pos.astype(np.uint64) * np.uint64(7))
    # a value's 7-bit groups are disjoint, so OR-reducing them is the sum;
    # one contiguous reduceat per value, no scattered add.at
    return np.bitwise_or.reduceat(contrib, starts)


_SIGN_OFFSET = np.uint64(1) << np.uint64(63)


def encode_postings_block(doc_ids: np.ndarray, tfs: np.ndarray) -> bytes:
    """Sorted (signed int64) docIDs -> delta gaps; payload = vbyte(gaps) ++
    vbyte(tfs). docIDs may be xxhash64 values, so they are order-preservingly
    remapped to uint64 by flipping the sign bit before delta coding. Caller
    stores n in block metadata, so decode can split the value stream."""
    u = np.asarray(doc_ids, dtype=np.int64).astype(np.uint64) ^ _SIGN_OFFSET
    tfs = np.asarray(tfs, dtype=np.uint64)
    gaps = np.empty_like(u)
    if u.size:
        gaps[0] = u[0]
        np.subtract(u[1:], u[:-1], out=gaps[1:])
    return varbyte_encode(np.concatenate([gaps, tfs]))


def decode_postings_block(buf: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (doc_ids int64 ascending, tfs uint64)."""
    vals = varbyte_decode(buf)
    gaps, tfs = vals[:n], vals[n:]
    u = np.cumsum(gaps, dtype=np.uint64)
    return (u ^ _SIGN_OFFSET).astype(np.int64), tfs
