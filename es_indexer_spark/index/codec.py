"""Posting-list block codec: delta-gap + varint, numpy-vectorized.

This is the part the reference delegates to Lucene (postings are stored by ES with
delta-gap + vint/FOR compression — public Lucene file-format knowledge). We rebuild it
natively: each term's postings (docids ascending) are chunked into fixed-size blocks
(BLOCK_SIZE=128, the same design constant class as the reference's oversize-doc split
at indexer/.../IndexCloudOptimizedServiceImpl.java:199-219 — bound the unit of work),
each block storing:

- ``gaps``  — varint(delta-gap(docids)), first value is the absolute first docid gap
  from ``first_docid`` (we store first_docid separately, gaps[0] == 0);
- ``tfs``   — varint(term frequencies);
- ``dls``   — varint(document lengths), co-located so query-time scoring needs no
  doc-length join/shuffle (the broadcast doc-length table of the north_star collapses
  into the block itself — strictly less data movement at query time);
- block-max metadata: ``max_score_free`` = max over the block of the idf-free BM25
  term factor tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)); multiplied by idf at query time
  it is the block's score upper bound (block-max WAND, Ding & Suel SIGIR 2011).

Everything is vectorized numpy — the per-shift loops run at most ceil(64/7)=10
iterations regardless of input size.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-style varint encode of a uint64 array, vectorized."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b""
    nbytes = np.ones(a.size, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nbytes += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    max_len = int(nbytes.max())
    for shift in range(max_len):
        mask = nbytes > shift
        idx = starts[mask] + shift
        byte = ((a[mask] >> np.uint64(7 * shift)) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nbytes[mask] > shift + 1).astype(np.uint8)) << 7
        out[idx] = byte | cont
    return out.tobytes()


def decode_varints(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_varints`; returns uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.nonzero(is_end)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for i in range(int(lengths.max())):
        m = lengths > i
        vals[m] |= (b[starts[m] + i] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * i
        )
    return vals


def delta_encode(sorted_vals: np.ndarray, base: int = 0) -> np.ndarray:
    """Delta-gap an ascending array against ``base`` (gaps[0] = vals[0]-base)."""
    a = np.ascontiguousarray(sorted_vals, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0] - np.uint64(base)
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray, base: int = 0) -> np.ndarray:
    g = np.ascontiguousarray(gaps, dtype=np.uint64)
    if g.size == 0:
        return g
    return np.cumsum(g, dtype=np.uint64) + np.uint64(base)


def encode_positions(flat_positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode concatenated per-posting position lists (Lucene-style .prx layout:
    positions of posting i occupy the next tfs[i] values, delta-gapped *within*
    each posting, absolute at each posting start).

    ``flat_positions``: ascending positions per posting, concatenated;
    ``tfs``: number of positions per posting (Σ tfs == flat_positions.size).
    """
    a = np.ascontiguousarray(flat_positions, dtype=np.uint64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    if a.size == 0:
        return b""
    deltas = a.copy()
    deltas[1:] -= a[:-1]
    starts = np.cumsum(t)[:-1]  # start index of postings 1..n-1
    deltas[starts] = a[starts]  # reset: each posting's first position is absolute
    return encode_varints(deltas)


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` -> flat ascending positions array."""
    deltas = decode_varints(buf)
    if deltas.size == 0:
        return deltas
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    ends = np.cumsum(t)
    cs = np.cumsum(deltas, dtype=np.uint64)
    # subtract, from every posting after the first, the running sum at its start
    # (undoes the cumsum across the reset boundaries)
    correction = np.zeros(deltas.size, dtype=np.uint64)
    starts = ends[:-1]
    correction[starts] = cs[starts - 1]
    return cs - np.maximum.accumulate(correction)


def bm25(idf, tf, dl, avgdl: float, k1: float, b: float):
    """The BM25 term contribution ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    — the one saturation formula every scorer, bound and explanation uses.

    Lucene/ES BM25 (public formula; ES defaults k1=1.2, b=0.75 — the reference never
    overrides `similarity`, so this is its scoring function; SURVEY.md §1.3).
    Duck-typed: the same expression serves float64 numpy arrays, floats and
    Spark Columns, in one operation order, so every form agrees to the bit.
    ``idf=1.0`` gives the idf-free tf factor (``1.0 * x == x``); ``idf=1.0,
    dl=0.0`` the dl-independent supremum ``tf*(k1+1) / (tf + k1*(1-b))`` that
    bounds the factor for any avgdl (``(1-b) + 0.0 == 1-b``)."""
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_tf_factor(
    tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Idf-free BM25 term factor of integer tf/dl arrays (:func:`bm25` with
    ``idf=1.0``)."""
    return bm25(1.0, tfs.astype(np.float64), dls.astype(np.float64), avgdl, k1, b)


def encode_blocks(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Chunk one term's postings (docids ascending) into encoded blocks.

    Returns a list of dicts with keys: block_id, n, first_docid, last_docid,
    gaps, tfs, dls (bytes), max_tf, max_score_free.
    """
    n = docids.size
    blocks = []
    for bi, off in enumerate(range(0, n, block_size)):
        d = docids[off : off + block_size]
        t = tfs[off : off + block_size]
        l = dls[off : off + block_size]
        first = int(d[0])
        blocks.append(
            {
                "block_id": bi,
                "n": int(d.size),
                "first_docid": first,
                "last_docid": int(d[-1]),
                "gaps": encode_varints(delta_encode(d, base=first)),
                "tfs": encode_varints(t),
                "dls": encode_varints(l),
                "max_tf": int(t.max()),
                "max_score_free": float(bm25_tf_factor(t, l, avgdl, k1, b).max()),
            }
        )
    return blocks


def decode_block(
    gaps: bytes, tfs: bytes, dls: bytes, first_docid: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block -> (docids, tfs, dls) as uint64 arrays."""
    docids = delta_decode(decode_varints(gaps), base=first_docid)
    return docids, decode_varints(tfs), decode_varints(dls)


def decode_blocks_batch(
    gaps_list, tfs_list, dls_list, first_docids, ns
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks in three vectorized varint passes.

    Varints are self-delimiting, so the concatenation of N block buffers
    decodes in one :func:`decode_varints` call; the per-block posting counts
    ``ns`` recover segment boundaries, and the per-block delta bases are
    re-applied with a segmented cumsum (gaps[0] == 0 per block by
    construction, so c[seg_start] equals the running sum at the previous
    block's end). This replaces a per-block Python loop — for a stop-wordy
    query touching ~10^4 blocks per shard the fixed numpy call overhead
    (~30 µs × 3 arrays × blocks) was the query-time bottleneck, not the
    arithmetic.

    Returns ``(docids int64, tfs uint64, dls uint64, offsets)`` where
    ``offsets`` has len(ns)+1 entries delimiting each block's span."""
    ns = np.asarray(ns, dtype=np.int64)
    if ns.size and ns.min() <= 0:
        # the builder never emits empty blocks, but the helper is public: a
        # zero-n block would make offsets[i] == c.size and the base gather
        # below would IndexError (or silently misalign)
        raise ValueError("decode_blocks_batch: every block must have n > 0")
    offsets = np.empty(ns.size + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(ns, out=offsets[1:])
    g = decode_varints(b"".join(gaps_list))
    t = decode_varints(b"".join(tfs_list))
    l = decode_varints(b"".join(dls_list))
    c = np.cumsum(g.astype(np.int64))
    first = np.asarray(first_docids, dtype=np.int64)
    if ns.size == 0 or c.size == 0:
        return (np.empty(0, dtype=np.int64), t, l, offsets)
    base = c[offsets[:-1]]
    docids = c - np.repeat(base, ns) + np.repeat(first, ns)
    return docids, t, l, offsets
