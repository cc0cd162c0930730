"""Property-based tests (hypothesis) for the codec and the block encoder.

The reference has no randomized tests (SURVEY.md §5 "NOT present"); these go
beyond it: random inputs exercise the varint/delta codec across the full uint64
width and the seam-splitting encoder across arbitrary file-packing fragmentations
and Arrow batch splits
— the invariants that, if broken, corrupt the index silently.

Pure-python/numpy properties — no SparkSession needed, so this module is fast.
"""

from __future__ import annotations

import numpy as np
import pytest
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from es_indexer_spark.index.codec import (
    BLOCK_ARROW,
    decode_block,
    decode_positions,
    decode_varints,
    delta_decode,
    delta_encode,
    encode_positions,
    encode_postings,
    encode_varints,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    a = np.asarray(vals, dtype=np.uint64)
    out = decode_varints(encode_varints(a))
    assert out.dtype == np.uint64
    assert np.array_equal(out, a)


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_sorted(vals):
    a = np.sort(np.unique(np.asarray(vals, dtype=np.uint64)))
    base = int(a[0]) if a.size else 0
    gaps = delta_encode(a, base=base)
    back = delta_decode(gaps, base=base)
    assert np.array_equal(back, a)


@given(
    st.lists(st.integers(min_value=1, max_value=20), min_size=1, max_size=40),
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(tfs, rnd):
    tfs_arr = np.asarray(tfs, dtype=np.uint64)
    flat = []
    for tf in tfs:
        pos = sorted(rnd.sample(range(0, 10_000), tf))
        flat.extend(pos)
    flat_arr = np.asarray(flat, dtype=np.uint64)
    buf = encode_positions(flat_arr, tfs_arr)
    back = decode_positions(buf, tfs_arr)
    assert np.array_equal(back, flat_arr)


# ---------------------------------------------------------------- encoder
_POSTING_COLS = ["bucket", "term", "docid", "tf", "doc_len"]


def _arrow_postings(rows) -> pa.Table:
    """(bucket, term, docid, tf, doc_len) tuples as the encoder's Arrow input."""
    return pa.table(
        [pa.array(c, t) for c, t in zip(
            zip(*rows),
            (pa.int32(), pa.string(), pa.int64(), pa.int64(), pa.int64()))],
        names=_POSTING_COLS,
    )


def _run_encoder(batches, block_size=16, shard_size=64):
    """Drive the block encoder directly with crafted Arrow batches."""
    out = encode_postings(batches, block_size, shard_size, avgdl=10.0, k1=1.2, b=0.75)
    return pa.Table.from_batches(list(out), schema=BLOCK_ARROW).to_pandas()


def _decode_all(blocks: pd.DataFrame) -> dict[tuple, list[tuple]]:
    """(bucket, term) -> sorted [(docid, tf, dl)] decoded from all blocks."""
    got: dict[tuple, list[tuple]] = {}
    for row in blocks.itertuples(index=False):
        d, t, l = decode_block(row.gaps, row.tfs, row.dls, row.first_docid)
        got.setdefault((row.bucket, row.term), []).extend(
            zip(d.tolist(), t.tolist(), l.tolist())
        )
    return {k: sorted(v) for k, v in got.items()}


@given(
    st.lists(  # fragments: each a sorted run of (docid, tf) for one term
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=500),
                st.integers(min_value=1, max_value=9),
            ),
            min_size=1,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=5),  # batch split granularity
)
@settings(max_examples=150, deadline=None)
def test_encoder_tolerates_arbitrary_fragmentation(fragments, n_batches):
    """The seam-splitting encoder must reproduce the exact posting multiset for
    ANY concatenation of individually-sorted fragments (the shape produced by
    salted hot-term slices and Spark small-file packing), under ANY Arrow batch
    boundary placement — with every block's docids strictly increasing."""
    rows = []
    seen_global: set[int] = set()
    for frag in fragments:
        # make the fragment internally sorted+unique, and disjoint from other
        # fragments (raw holds each (term,docid) once globally)
        frag_docids = sorted({d for d, _ in frag} - seen_global)
        seen_global.update(frag_docids)
        for d, (_, tf) in zip(frag_docids, frag):
            rows.append((0, "t", d, tf, 10))
    if not rows:
        return
    table = _arrow_postings(rows)
    # split into n_batches arbitrary contiguous Arrow batches
    splits = np.array_split(np.arange(len(rows)), n_batches)
    batches = [table.slice(ix[0], len(ix)).to_batches()[0] for ix in splits if len(ix)]
    blocks = _run_encoder(batches)
    expected = sorted((int(r[2]), int(r[3]), int(r[4])) for r in rows)
    got = _decode_all(blocks).get((0, "t"), [])
    assert got == expected
    # every emitted block is internally strictly increasing and shard-local
    for row in blocks.itertuples(index=False):
        d, _, _ = decode_block(row.gaps, row.tfs, row.dls, row.first_docid)
        assert np.all(np.diff(d.astype(np.int64)) > 0)
        assert (d // 64 == d[0] // 64).all()  # shard_size=64


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2000),
            st.integers(min_value=1, max_value=50),
            st.integers(min_value=1, max_value=200),
        ),
        min_size=1,
        max_size=400,
    )
)
@settings(max_examples=100, deadline=None)
def test_encoder_blockmax_bound_holds(postings):
    """Block-max invariant: every block's stored max_score_free upper-bounds
    the BM25 idf-free factor of every posting in the block (rank-safety of the
    pruning pass depends on exactly this)."""
    from es_indexer_spark.index.codec import bm25_tf_factor

    uniq = {}
    for d, tf, dl in postings:
        uniq[d] = (tf, dl)
    rows = [(0, "t", d, tf, dl) for d, (tf, dl) in sorted(uniq.items())]
    blocks = _run_encoder([_arrow_postings(rows)])
    for row in blocks.itertuples(index=False):
        d, t, l = decode_block(row.gaps, row.tfs, row.dls, row.first_docid)
        factors = bm25_tf_factor(
            t.astype(np.float64), l.astype(np.float64), 10.0, 1.2, 0.75
        )
        assert row.max_score_free >= factors.max() - 1e-12


# ---------------------------------------------------------------------------
# ES bool-query shard evaluator: random corpora through the REAL codec vs a
# per-doc brute evaluator (conjunction / exclusion / phrase adjacency /
# scoring / tombstones). Pure numpy+pandas — no SparkSession.
# ---------------------------------------------------------------------------

import math

from es_indexer_spark.index.codec import encode_blocks, encode_positions
from es_indexer_spark.query.boolean import _bool_shard_scorer

_VOCAB = "abcdef"
_K1, _B = 1.2, 0.75


def _mk_block_frame(corpus: dict[int, list[str]], avgdl: float) -> pd.DataFrame:
    """Encode a one-shard corpus into the scorer's block frame with the real
    codec (block_size=3 forces multi-block posting lists)."""
    rows = []
    vocab = sorted({t for toks in corpus.values() for t in toks})
    for term in vocab:
        post = [
            (d, [i for i, x in enumerate(toks) if x == term], len(toks))
            for d, toks in sorted(corpus.items())
            if term in toks
        ]
        docids = np.array([p[0] for p in post], dtype=np.uint64)
        tfs = np.array([len(p[1]) for p in post], dtype=np.uint64)
        dls = np.array([p[2] for p in post], dtype=np.uint64)
        flat = np.array([i for p in post for i in p[1]], dtype=np.uint64)
        tf_off = np.concatenate([[0], np.cumsum(tfs)]).astype(np.int64)
        for bi, blk in enumerate(
            encode_blocks(docids, tfs, dls, avgdl, _K1, _B, block_size=3)
        ):
            lo, hi = bi * 3, bi * 3 + blk["n"]
            rows.append(
                {
                    "term": term,
                    "gaps": blk["gaps"],
                    "tfs": blk["tfs"],
                    "dls": blk["dls"],
                    "first_docid": blk["first_docid"],
                    "poss": encode_positions(
                        flat[tf_off[lo] : tf_off[hi]], tfs[lo:hi]
                    ),
                }
            )
    return pd.DataFrame(rows)


def _brute_bool(corpus, live, must, should, must_not, filt, phrase, idfs, avgdl, k):
    scoring = sorted(set(must) | set(should))
    out = []
    for d in sorted(live):
        toks = corpus[d]
        ts = set(toks)
        if must or filt or phrase:
            if not all(t in ts for t in must) or not all(t in ts for t in filt):
                continue
            if phrase and not any(
                toks[i : i + len(phrase)] == phrase
                for i in range(len(toks) - len(phrase) + 1)
            ):
                continue
        elif not any(t in ts for t in should):
            continue
        if any(t in ts for t in must_not):
            continue
        dl = float(len(toks))
        s = 0.0
        for t in scoring:
            tf = float(toks.count(t))
            if tf and t in idfs:
                s += idfs[t] * tf * (_K1 + 1) / (tf + _K1 * (1 - _B + _B * dl / avgdl))
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


_tok_lists = st.lists(
    st.sampled_from(list(_VOCAB[:5])), min_size=1, max_size=8
)
_clause = st.lists(st.sampled_from(list(_VOCAB)), max_size=2, unique=True)


@given(
    docs=st.lists(_tok_lists, min_size=1, max_size=12),
    must=_clause,
    should=_clause,
    must_not=_clause,
    filt=_clause,
    phrase=st.one_of(
        st.just([]),
        st.lists(st.sampled_from(list(_VOCAB[:5])), min_size=2, max_size=2),
    ),
    tomb_mask=st.lists(st.booleans(), min_size=12, max_size=12),
)
@settings(max_examples=150, deadline=None)
def test_bool_shard_scorer_matches_brute(
    docs, must, should, must_not, filt, phrase, tomb_mask
):
    corpus = {i: d for i, d in enumerate(docs)}
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    found = {t for toks in corpus.values() for t in toks}

    def df(t):
        return sum(1 for toks in corpus.values() if t in toks)

    idfs = {
        t: math.log(1 + (n - df(t) + 0.5) / (df(t) + 0.5))
        for t in set(must) | set(should)
        if t in found
    }
    tomb_ids = sorted(i for i in corpus if tomb_mask[i])
    tomb = np.array(tomb_ids, dtype=np.int64) if tomb_ids else None
    live = set(corpus) - set(tomb_ids)
    k = 5

    # driver-side early exit: an absent required term kills the whole query
    if any(t not in found for t in list(must) + list(filt) + list(phrase)):
        expected = []
    else:
        expected = _brute_bool(
            corpus, live, must, should, must_not, filt, phrase, idfs, avgdl, k
        )
    if not (must or should or filt or phrase):
        expected = []

    if expected or found:  # scorer call mirrors bool_query's filtered clauses
        if any(t not in found for t in list(must) + list(filt) + list(phrase)):
            got = []
        else:
            scorer = _bool_shard_scorer(
                [t for t in must if t in found],
                [t for t in should if t in found],
                [t for t in must_not if t in found],
                list(filt),
                list(phrase),
                idfs, _K1, _B, k, avgdl, tomb,
            )
            res = scorer(_mk_block_frame(corpus, avgdl))
            got = [
                (int(r.docid), float(r.score))
                for r in res.itertuples(index=False)
            ]
            got.sort(key=lambda x: (-x[1], x[0]))
    else:
        got = []
    assert [d for d, _ in got] == [d for d, _ in expected]
    assert [s for _, s in got] == pytest.approx([s for _, s in expected])


# --------------------------------------------------------------- sloppy chain
@st.composite
def _doc_positions(draw):
    """Random per-doc term-position layouts for up to 3 terms: a dict
    term -> sorted position list, over a small position universe so
    collisions and adjacencies actually happen."""
    n_terms = draw(st.integers(min_value=1, max_value=3))
    docs = draw(st.integers(min_value=1, max_value=5))
    layout = []
    for d in range(docs):
        per_term = []
        for _ in range(n_terms):
            pos = draw(
                st.lists(st.integers(min_value=0, max_value=12),
                         min_size=0, max_size=6, unique=True)
            )
            per_term.append(sorted(pos))
        layout.append(per_term)
    slop = draw(st.integers(min_value=0, max_value=4))
    return n_terms, layout, slop


@given(_doc_positions())
@settings(max_examples=300, deadline=None)
def test_chain_starts_matches_exhaustive(case):
    """_chain_starts (greedy successor chain over packed keys) must agree
    with an EXHAUSTIVE search over all increasing position tuples — the
    definitional semantics: start p0 matches iff some strictly-increasing
    tuple (p0..p_{m-1}) with p_i ∈ pos(term_i) has span-(m-1) <= slop."""
    from itertools import product

    from es_indexer_spark.query.phrase import _chain_starts

    n_terms, layout, slop = case
    terms = [f"t{i}" for i in range(n_terms)]
    key_parts = {t: [] for t in terms}
    expected = set()
    for d, per_term in enumerate(layout):
        for i, t in enumerate(terms):
            key_parts[t].extend((d << 32) | p for p in per_term[i])
        # exhaustive truth per doc
        for tup in product(*per_term):
            if all(a < b for a, b in zip(tup, tup[1:])) and (
                tup[-1] - tup[0]
            ) - (n_terms - 1) <= slop:
                expected.add((d << 32) | tup[0])
    term_keys = {
        t: np.sort(np.asarray(v, dtype=np.int64)) for t, v in key_parts.items()
    }
    if any(term_keys[t].size == 0 for t in terms):
        # the scorer returns empty before chaining when any term is absent;
        # _chain_starts itself requires non-empty first-term keys
        if term_keys[terms[0]].size == 0:
            return
        got = _chain_starts(term_keys, terms, slop)
        assert set(got.tolist()) == set(), "absent later term must kill chains"
        return
    got = _chain_starts(term_keys, terms, slop)
    assert set(got.tolist()) == expected
    # count semantics: one row per distinct matching start key
    assert len(got.tolist()) == len(set(got.tolist()))
