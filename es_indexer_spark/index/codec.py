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

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

BLOCK_SIZE = 128

# One row per encoded block: the postings table's layout, as an Arrow schema
# and as the Spark DDL string of the same columns.
BLOCK_ARROW = pa.schema([
    ("bucket", pa.int32()), ("term", pa.string()), ("shard", pa.int64()),
    ("block_id", pa.int32()), ("n", pa.int32()), ("first_docid", pa.int64()),
    ("last_docid", pa.int64()), ("gaps", pa.binary()), ("tfs", pa.binary()),
    ("dls", pa.binary()), ("poss", pa.binary()), ("max_tf", pa.int32()),
    ("cf", pa.int64()), ("max_score_free", pa.float64()),
])
_DDL = {pa.int32(): "int", pa.int64(): "long", pa.string(): "string",
        pa.binary(): "binary", pa.float64(): "double"}
BLOCK_SCHEMA = ", ".join(f"{f.name} {_DDL[f.type]}" for f in BLOCK_ARROW)


def _varints(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes of a uint64 array as one uint8 buffer, and the end offset
    of each value's bytes in it."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(a.size, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nbytes += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]) if a.size else 0, dtype=np.uint8)
    for shift in range(int(nbytes.max()) if a.size else 0):
        mask = nbytes > shift
        idx = starts[mask] + shift
        byte = ((a[mask] >> np.uint64(7 * shift)) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nbytes[mask] > shift + 1).astype(np.uint8)) << 7
        out[idx] = byte | cont
    return out, ends


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-style varint encode of a uint64 array, vectorized."""
    return _varints(values)[0].tobytes()


def _varint_column(values: np.ndarray, cuts: np.ndarray) -> pa.Array:
    """One varint pass over ``values``, cut into one binary value per range
    ``[cuts[i], cuts[i+1])``. Varints are self-delimiting, so each value is
    byte-for-byte the :func:`encode_varints` of its range."""
    buf, ends = _varints(values)
    offsets = np.concatenate(([0], ends))[cuts].astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), cuts.size - 1, [None, pa.py_buffer(offsets), pa.py_buffer(buf)]
    )


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


def delta_encode(
    sorted_vals: np.ndarray, base: int = 0, starts: np.ndarray | None = None
) -> np.ndarray:
    """Delta-gap an ascending array against ``base`` (gaps[0] = vals[0]-base).
    With ``starts``, each run ``[starts[i], starts[i+1])`` is gapped against
    its own first value instead (0 at every run start)."""
    a = np.ascontiguousarray(sorted_vals, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0] - np.uint64(base)
    np.subtract(a[1:], a[:-1], out=out[1:])
    if starts is not None:
        out[starts] = 0
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


def encode_block_rows(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    positions: tuple[np.ndarray, np.ndarray] | None = None,
) -> dict[str, pa.Array]:
    """The block kernel: postings rows cut into blocks at the ascending row
    indices ``starts`` (``starts[0] == 0``; docids strictly ascending within
    a block) -> the ``n .. max_score_free`` columns of :data:`BLOCK_ARROW`,
    one value per block.

    Whole-array work: one gap pass and one varint pass per binary column,
    sliced at the block byte offsets; the aggregates are ``reduceat`` over
    the rows (max and integer sums are exact, so each block's value is the
    one a per-block loop computes). ``positions`` = (flat positions, count
    per posting) stores each block's positions Lucene-.prx style (delta
    within a posting, absolute at its start — :func:`encode_positions`);
    None leaves ``poss`` null."""
    d = np.asarray(docids).astype(np.int64)
    t = np.asarray(tfs).astype(np.int64)
    l = np.asarray(dls).astype(np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    cuts = np.append(starts, d.size)
    ends = cuts[1:]
    cols = {
        "n": pa.array(ends - starts, pa.int32()),
        "first_docid": pa.array(d[starts], pa.int64()),
        "last_docid": pa.array(d[ends - 1], pa.int64()),
        "gaps": _varint_column(delta_encode(d, starts=starts), cuts),
        "tfs": _varint_column(t, cuts),
        "dls": _varint_column(l, cuts),
        "poss": pa.nulls(starts.size, pa.binary()),
    }
    if positions is not None:
        flat, counts = (np.asarray(x).astype(np.int64) for x in positions)
        first = np.append(np.cumsum(counts) - counts, flat.size)
        deltas = flat.copy()
        deltas[1:] -= flat[:-1]
        heads = first[:-1][counts > 0]
        deltas[heads] = flat[heads]
        cols["poss"] = _varint_column(deltas, first[cuts])
    if starts.size:
        factor = bm25_tf_factor(t, l, avgdl, k1, b)
        max_tf, cf = np.maximum.reduceat(t, starts), np.add.reduceat(t, starts)
        bound = np.maximum.reduceat(factor, starts)
    else:
        max_tf = cf = np.empty(0, np.int64)
        bound = np.empty(0, np.float64)
    cols["max_tf"] = pa.array(max_tf, pa.int32())
    cols["cf"] = pa.array(cf, pa.int64())
    cols["max_score_free"] = pa.array(bound, pa.float64())
    return cols


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
    gaps, tfs, dls (bytes), max_tf, cf, max_score_free.
    """
    starts = np.arange(0, np.asarray(docids).size, block_size)
    cols = encode_block_rows(docids, tfs, dls, starts, avgdl, k1, b)
    del cols["poss"]
    return [{"block_id": i, **r} for i, r in enumerate(pa.table(cols).to_pylist())]


def _key_starts(rows: pa.Table) -> np.ndarray:
    """Row mask: where a new (bucket, term) run starts."""
    bucket = rows["bucket"].to_numpy()
    term = rows["term"].combine_chunks()
    new = np.ones(rows.num_rows, dtype=bool)
    if rows.num_rows > 1:
        new[1:] = (bucket[1:] != bucket[:-1]) | pc.not_equal(
            term.slice(1), term.slice(0, rows.num_rows - 1)
        ).to_numpy(zero_copy_only=False)
    return new


def _grouped(rows: pa.Table, new_key: np.ndarray) -> pa.Table:
    """``rows`` with each (bucket, term) key's rows made contiguous: keys in
    order of first appearance, rows in arrival order within a key. Sorted
    input (one run per key) passes through as is; an input that packs
    several sorted files can repeat a key further on."""
    runs = np.flatnonzero(new_key)
    keys = pd.MultiIndex.from_arrays([
        rows["bucket"].to_numpy()[runs],
        rows["term"].take(pa.array(runs)).to_numpy(),
    ])
    codes = keys.factorize()[0]
    if np.all(np.diff(codes) > 0):
        return rows
    per_row = np.repeat(codes, np.diff(np.append(runs, rows.num_rows)))
    return rows.take(pa.array(np.argsort(per_row, kind="stable")))


def _cut(
    rows: pa.Table, new_key: np.ndarray, block_size: int, shard_size: int
) -> tuple[np.ndarray, np.ndarray]:
    """Block starts of key-grouped rows, and each block's ordinal within
    its key. A block starts at a key change, at a docid that does not
    ascend (a seam between packed sorted slices — encoding across it would
    wrap the gap), at a shard change, and every ``block_size`` rows from
    the start of each run between those."""
    d = rows["docid"].to_numpy()
    n = d.size
    new_seg = new_key.copy()
    new_seg[1:] |= (d[1:] <= d[:-1]) | (d[1:] // shard_size != d[:-1] // shard_size)
    seg = np.flatnonzero(new_seg)
    pos = np.arange(n) - np.repeat(seg, np.diff(np.append(seg, n)))
    starts = np.flatnonzero(pos % block_size == 0)
    key_first = np.flatnonzero(new_key[starts])
    ordinal = np.arange(starts.size) - np.repeat(
        key_first, np.diff(np.append(key_first, starts.size))
    )
    return starts, ordinal


def encode_postings(
    batches: Iterable[pa.RecordBatch | pa.Table],
    block_size: int,
    shard_size: int,
    avgdl: float,
    k1: float,
    b: float,
    positions: bool = False,
) -> Iterator[pa.RecordBatch]:
    """Encoded blocks (:data:`BLOCK_ARROW`) of posting batches sorted by
    (bucket, term, docid), columns ``bucket, term, docid, tf, doc_len`` and,
    with ``positions``, ``positions`` (one ascending list per posting).

    Each batch is cut and encoded whole (:func:`_cut`,
    :func:`encode_block_rows`). Blocks are shard-local (shard = docid //
    ``shard_size``) and numbered by their ordinal within the term, carried
    across seams and batches. The state carried from one batch to the next
    is the last term's trailing partial block (< ``block_size`` rows) and
    its block number, so a stop word with ~N postings costs O(block_size)
    memory, not O(N); the partial block is emitted when its term ends."""
    open_rows = None  # the last key's partial block (maybe empty rows)
    open_key, open_id = None, 0

    def blocks(rows, starts, ids):
        d = rows["docid"].to_numpy()
        pos = None
        if positions:
            lists = rows["positions"].combine_chunks()
            pos = (lists.flatten().to_numpy(), pc.list_value_length(lists).to_numpy())
        take = pa.array(starts)
        cols = {
            "bucket": rows["bucket"].combine_chunks().take(take),
            "term": rows["term"].combine_chunks().take(take),
            "shard": pa.array(d[starts] // shard_size),
            "block_id": pa.array(ids),
            **encode_block_rows(d, rows["tf"].to_numpy(), rows["doc_len"].to_numpy(),
                                starts, avgdl, k1, b, pos),
        }
        return pa.RecordBatch.from_arrays(
            [cols[f.name].cast(f.type) for f in BLOCK_ARROW], schema=BLOCK_ARROW
        )

    for batch in batches:
        if batch.num_rows == 0:
            continue
        rows = batch if isinstance(batch, pa.Table) else pa.Table.from_batches([batch])
        rows = _grouped(rows, _key_starts(rows))
        carry = (rows["bucket"][0].as_py(), rows["term"][0].as_py()) == open_key
        if carry:  # the batch's first key continues the open block
            rows = pa.concat_tables([open_rows, rows.select(open_rows.column_names)])
        elif open_rows is not None and open_rows.num_rows:
            yield blocks(open_rows, np.zeros(1, np.int64), np.array([open_id]))
        new_key = _key_starts(rows)
        starts, ids = _cut(rows, new_key, block_size, shard_size)
        if carry:
            key_first = np.flatnonzero(new_key[starts])
            ids[: key_first[1] if key_first.size > 1 else None] += open_id
        tail = int(starts[-1])
        if rows.num_rows - tail == block_size:  # the last block is whole
            tail, open_id = rows.num_rows, int(ids[-1]) + 1
            done = starts.size
        else:
            open_id, done = int(ids[-1]), starts.size - 1
        open_key = (rows["bucket"][-1].as_py(), rows["term"][-1].as_py())
        open_rows = rows.slice(tail)
        if done:
            yield blocks(rows.slice(0, tail), starts[:done], ids[:done])
    if open_rows is not None and open_rows.num_rows:
        yield blocks(open_rows, np.zeros(1, np.int64), np.array([open_id]))


def binary_values(col: pa.Array | pa.ChunkedArray) -> bytes:
    """The concatenated bytes of a binary column's values."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if len(arr) == 0:
        return b""
    offsets = np.frombuffer(arr.buffers()[1], np.int32)[arr.offset : arr.offset + len(arr) + 1]
    return arr.buffers()[2].to_pybytes()[offsets[0] : offsets[-1]]


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
