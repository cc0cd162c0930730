"""Seeded differential test of the vectorized block encoder
(``codec.encode_postings``) against a small per-term reference encoder.

The reference below walks one term at a time, the way a row-by-row encoder
would: per Arrow batch it takes each (bucket, term) key's rows in arrival
order (``pandas.groupby(sort=False)``); a key that continues the previous
batch's last key takes over its open block and block counter; a key's rows
split into runs where docids stop ascending (a seam between packed sorted
slices) and where the shard changes; each run is cut every ``block_size``
rows; the last key's trailing partial block stays open across the batch
boundary and is emitted when its key ends. Every one of the 14 block columns
must match, ``max_score_free`` to the bit (``float.hex``).

Pure numpy/pyarrow — no SparkSession.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from es_indexer_spark.index.codec import (
    BLOCK_ARROW,
    bm25_tf_factor,
    delta_encode,
    encode_positions,
    encode_postings,
    encode_varints,
)

AVGDL, K1, B = 37.5, 1.2, 0.75


def _reference(batches, block_size, shard_size, positions):
    out = []

    def emit(key, bid, rows):
        d = np.array([r[0] for r in rows], dtype=np.uint64)
        t = np.array([r[1] for r in rows], dtype=np.uint64)
        l = np.array([r[2] for r in rows], dtype=np.uint64)
        poss = None
        if positions:
            flat = np.array([p for r in rows for p in r[3]], dtype=np.uint64)
            poss = encode_positions(flat, t)
        out.append((
            key[0], key[1], int(d[0]) // shard_size, bid, len(rows), int(d[0]),
            int(d[-1]), encode_varints(delta_encode(d, base=int(d[0]))),
            encode_varints(t), encode_varints(l), poss, int(t.max()), int(t.sum()),
            float(bm25_tf_factor(t, l, AVGDL, K1, B).max()),
        ))

    def runs(rows):
        cur = [rows[0]]
        for prev, r in zip(rows, rows[1:]):
            if r[0] <= prev[0] or r[0] // shard_size != prev[0] // shard_size:
                yield cur
                cur = []
            cur.append(r)
        yield cur

    open_key, open_id, open_rows = None, 0, []
    for batch in batches:
        df = batch.to_pandas()
        if not len(df):
            continue
        for key, g in df.groupby(["bucket", "term"], sort=False):
            rows = list(zip(g["docid"], g["tf"], g["doc_len"],
                            g["positions"] if positions else [None] * len(g)))
            bid = 0
            if key == open_key:
                rows, bid = open_rows + rows, open_id
            elif open_rows:
                emit(open_key, open_id, open_rows)
            all_runs = list(runs(rows))
            for i, run in enumerate(all_runs):
                chunks = [run[o:o + block_size] for o in range(0, len(run), block_size)]
                last = i == len(all_runs) - 1
                for chunk in chunks[:-1] if last else chunks:
                    emit(key, bid, chunk)
                    bid += 1
            tail = chunks[-1]
            if len(tail) == block_size:
                emit(key, bid, tail)
                bid, tail = bid + 1, []
            open_key, open_id, open_rows = key, bid, tail
    if open_rows:
        emit(open_key, open_id, open_rows)
    return out


def _postings(rng, n_keys, sorted_keys, positions):
    """Random posting rows: each key gets 1-3 docid-sorted fragments, so a
    key's rows can hold descending seams; unsorted input also repeats a key
    further on (several packed sorted files)."""
    rows = []
    for _ in range(n_keys):
        key = (int(rng.integers(0, 3)), f"t{rng.integers(0, 6)}")
        for _ in range(int(rng.integers(1, 4))):
            for d in np.sort(rng.choice(600, int(rng.integers(1, 90)), replace=False)):
                tf = int(rng.integers(1, 5))
                rows.append((*key, int(d), tf, int(rng.integers(1, 80)),
                             sorted(rng.choice(2000, tf, replace=False).tolist())))
    if sorted_keys:
        rows = sorted({r[:3]: r for r in rows}.values(), key=lambda r: r[:3])
    cols = list(zip(*rows))
    table = pa.table({
        "bucket": pa.array(cols[0], pa.int32()), "term": pa.array(cols[1], pa.string()),
        "docid": pa.array(cols[2], pa.int64()), "tf": pa.array(cols[3], pa.int64()),
        "doc_len": pa.array(cols[4], pa.int64()),
        "positions": pa.array(cols[5], pa.list_(pa.int32())),
    })
    return table if positions else table.drop(["positions"])


def _split(table, cuts):
    bounds = [0, *cuts, table.num_rows]
    return [table.slice(lo, hi - lo).to_batches()[0]
            for lo, hi in zip(bounds, bounds[1:]) if hi > lo]


def _hexed(rows):
    return [r[:-1] + (float(r[-1]).hex(),) for r in rows]


def _check(batches, block_size, shard_size, positions):
    got = pa.Table.from_batches(
        list(encode_postings(batches, block_size, shard_size, AVGDL, K1, B, positions)),
        schema=BLOCK_ARROW,
    )
    want = _reference(batches, block_size, shard_size, positions)
    got_rows = list(zip(*(got[c].to_pylist() for c in BLOCK_ARROW.names)))
    assert _hexed(got_rows) == _hexed(want)
    return got


@pytest.mark.parametrize("seed", range(60))
def test_encoder_matches_reference(seed):
    rng = np.random.default_rng(seed)
    positions = seed % 2 == 1
    table = _postings(rng, int(rng.integers(1, 8)), seed % 3 != 0, positions)
    # batch cuts anywhere, plus up to two where the key changes
    keys = list(zip(table["bucket"].to_pylist(), table["term"].to_pylist()))
    edges = [i for i in range(1, len(keys)) if keys[i] != keys[i - 1]]
    n_cuts = min(table.num_rows - 1, int(rng.integers(0, 6)))
    cuts = set(rng.choice(np.arange(1, table.num_rows), n_cuts, replace=False).tolist()
               if n_cuts > 0 else [])
    cuts |= set(rng.choice(edges, min(len(edges), 2), replace=False).tolist()
                if edges else [])
    cuts = sorted(cuts)
    _check(_split(table, cuts), int(rng.integers(1, 24)), int(rng.integers(1, 250)),
           positions)


@pytest.mark.parametrize("positions", [False, True])
def test_encoder_cuts_and_batch_splits(positions):
    # one term, docids 0..99 in shards of 40, blocks of 8: shard cuts at 40
    # and 80; splits mid-block (13), on a whole block at the batch end (16:
    # the open block is empty but its counter carries), mid-term into a new
    # key (100) and one row at a time at the end
    rows = [(0, "a", d, 1 + d % 3, 10 + d % 7, list(range(1 + d % 3))) for d in range(100)]
    rows += [(0, "b", d, 2, 5, [0, 4]) for d in (7, 3, 9, 11)]  # seam after 7
    rows += [(1, "a", d, 1, 5, [2]) for d in range(5)]
    cols = list(zip(*rows))
    table = pa.table({
        "bucket": pa.array(cols[0], pa.int32()), "term": cols[1], "docid": cols[2],
        "tf": cols[3], "doc_len": cols[4],
        "positions": pa.array(cols[5], pa.list_(pa.int32())),
    })
    if not positions:
        table = table.drop(["positions"])
    got = _check(_split(table, [13, 16, 100, 101, 102, 103, 104, 105, 106]), 8, 40,
                 positions)
    a = got.filter(pc.and_(pc.equal(got["term"], "a"), pc.equal(got["bucket"], 0)))
    assert a["block_id"].to_pylist() == list(range(13))
    assert a["n"].to_pylist() == [8] * 10 + [8, 8, 4]
    assert a["shard"].to_pylist() == [0] * 5 + [1] * 5 + [2] * 3
    b = got.filter(pc.equal(got["term"], "b"))
    assert b["n"].to_pylist() == [1, 3] and b["block_id"].to_pylist() == [0, 1]


def test_encoder_open_block_before_a_recurring_key():
    # a batch ends inside "a"'s open block and the next one starts with "b",
    # then holds more "a" rows (a second packed sorted file): the open block
    # is emitted as it is, and the later "a" rows count blocks from 0 again
    rows = ([(0, "a", d, 1, 5) for d in range(5)] + [(0, "b", d, 1, 5) for d in range(3)]
            + [(0, "a", d, 2, 5) for d in (1, 7, 9)])
    cols = list(zip(*rows))
    table = pa.table({"bucket": pa.array(cols[0], pa.int32()), "term": cols[1],
                      "docid": cols[2], "tf": cols[3], "doc_len": cols[4]})
    got = _check(_split(table, [5]), 4, 100, False)
    a = got.filter(pc.equal(got["term"], "a"))
    assert a["block_id"].to_pylist() == [0, 1, 0]
    assert a["n"].to_pylist() == [4, 1, 3]


def test_encoder_empty_and_single_rows():
    empty = pa.table({"bucket": pa.array([], pa.int32()), "term": pa.array([], pa.string()),
                      "docid": pa.array([], pa.int64()), "tf": pa.array([], pa.int64()),
                      "doc_len": pa.array([], pa.int64())})
    assert list(encode_postings([empty], 4, 10, AVGDL, K1, B)) == []
    rows = pa.table({"bucket": pa.array([0, 0, 0], pa.int32()), "term": ["x", "x", "y"],
                     "docid": [5, 6, 1], "tf": [1, 2, 3], "doc_len": [4, 4, 9]})
    _check(_split(rows, [1, 2]), 4, 10, False)
