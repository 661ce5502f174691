"""Posting-list compression: delta + varbyte encoding with block-max
metadata (north-rule requirement; the reference keeps raw per-doc dicts in a
pickle, service/build_text_index.py:403-410 — no compressed index exists
there, so this layout is designed Spark-first).

Layout: postings sorted by (term, doc_int); each term's list is cut into
blocks of <= block_size docs. Per block we store:

    first_doc  - absolute first docID (int64)
    n          - docs in block
    doc_deltas - varbyte(d_1..d_{n-1}) where d_i = doc_i - doc_{i-1}
    tfs        - varbyte(tf_0..tf_{n-1})
    max_score  - max over the block of doc_weight * idf * tf*(k1+1) /
                 (tf + k1*(1-b+b*dl/avgdl))  — a valid per-(term,block)
                 upper bound on any contained doc's contribution INCLUDING
                 its weight multiplier, so sum-of-block-maxima bounds the
                 total weighted score (block-max WAND safe; see
                 index/query.py)

Varbyte: big-endian 7-bit digits, high bit set on the TERMINAL byte.
Encode/decode are numpy-vectorized (no per-value Python in decode; max 5
digit-rounds for 32-bit deltas), and both work a whole batch of blocks per
call: the build encodes a partition at once, and every reader decodes a
table of blocks with ``decode_blocks`` — three numpy decode calls per
table, not three per 128-posting block.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized varbyte encode; also returns per-value byte lengths so a
    caller can slice the stream into sub-ranges (block encoding encodes a
    whole partition in ONE call and slices per block)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # number of 7-bit digits per value (>=1), by repeated shift-and-compare
    lengths = np.ones(v.shape, dtype=np.int64)
    thresh = np.uint64(128)
    work = v.copy()
    while True:
        bigger = work >= thresh
        if not bigger.any():
            break
        lengths[bigger] += 1
        work = work >> np.uint64(7)
        work[~bigger] = 0
    total = int(lengths.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(lengths) - 1  # index of terminal byte per value
    # place digits least-significant-first walking backwards from the end
    rem = v.copy()
    pos = ends.copy()
    active = np.ones(v.shape, dtype=bool)
    first = True
    while active.any():
        digit = (rem[active] & np.uint64(0x7F)).astype(np.uint8)
        if first:
            digit = digit | np.uint8(0x80)  # terminal byte marker
        out[pos[active]] = digit
        rem[active] = rem[active] >> np.uint64(7)
        pos[active] -= 1
        starts = ends - lengths + 1
        active = active & (pos >= starts)
        first = False
    return out.tobytes(), lengths


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    digits = (b & 0x7F).astype(np.uint64)
    is_last = (b & 0x80) != 0
    ends = np.nonzero(is_last)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.shape, dtype=np.uint64)
    lmax = int(lengths.max())
    for l in range(lmax):
        sel = lengths > l
        vals[sel] = (vals[sel] << np.uint64(7)) | digits[starts[sel] + l]
    return vals


def decode_blocks(
    first_doc: np.ndarray,
    n: np.ndarray,
    doc_deltas,
    tfs,
    dls,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Blocks -> (docs, tf, dl) int64 arrays in block order, with THREE
    ``varbyte_decode`` calls in total (the batch counterpart of the build's
    one-call-per-column partition encoder).

    ``first_doc`` and ``n`` are per-block; the payloads are joined in block
    order (``binary_values`` of an Arrow column is its data buffer). Blocks
    may mix terms: docs are a cumsum segmented at block starts, anchored on
    each ``first_doc`` (int64 wrap-around in the running sum cancels in the
    per-block difference, so any doc id below 2^63 decodes exactly)."""
    first = np.asarray(first_doc, dtype=np.int64)
    counts = np.asarray(n, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    steps = np.ones(int(counts.sum()), dtype=bool)
    steps[starts] = False
    run = np.zeros(steps.size, dtype=np.int64)
    run[steps] = varbyte_decode(doc_deltas).view(np.int64)
    np.cumsum(run, out=run)
    docs = run + np.repeat(first - run[starts], counts)
    return (
        docs,
        varbyte_decode(tfs).view(np.int64),
        varbyte_decode(dls).view(np.int64),
    )


def binary_values(col: pa.Array | pa.ChunkedArray):
    """The payloads of an Arrow binary column joined in row order: a view of
    the column's data buffer, with no per-row copy (a multi-chunk column is
    concatenated once)."""
    if len(col) == 0:
        return b""
    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks == 1 else pa.concat_arrays(col.chunks)
    _, offsets, data = col.buffers()
    off = np.frombuffer(
        offsets, dtype=np.int64 if pa.types.is_large_binary(col.type) else np.int32
    )
    lo, hi = int(off[col.offset]), int(off[col.offset + len(col)])
    return memoryview(data)[lo:hi] if data is not None else b""


def bm25_contrib(tf, dl, mult, k1: float, b: float, avgdl: float):
    """One posting's BM25 contribution, ``mult`` = query-tf * idf (times
    doc weight for the block-max bound). The expression order is part of
    the contract: every reader and the encoder evaluate it exactly so, so
    their scores agree bit for bit."""
    return mult * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
