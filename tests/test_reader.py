"""The index reader and the BM25 kernel.

Kernel: one expression serves numpy arrays and Spark Columns, bit-identical
to the formula it replaced at every call site (the tf factor, the
dl-independent block bound and the scorers' idf-weighted contribution).

Reader: one bounded entry per (application, version dir, dict-dir mtime)
holds the dictionary memo, the dictionary and postings relations and the
tombstone state."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from es_indexer_spark.index import catalog, reader
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.index.codec import bm25, bm25_tf_factor
from es_indexer_spark.query import engine
from es_indexer_spark.query.bm25 import bm25_topk_brute
from es_indexer_spark.query.engine import topk

QUERY = "spark join window"
K1, B, AVGDL = 1.2, 0.75, 73.25


def _draws(n=4096, seed=7):
    rng = np.random.default_rng(seed)
    tf = rng.integers(1, 60, n).astype(np.float64)
    dl = rng.integers(0, 4000, n).astype(np.float64)
    dl[:64] = 0.0
    idf = rng.uniform(0.01, 9.0, n)
    return idf, tf, dl


def test_kernel_numpy_is_the_literal_formula_bitwise():
    idf, tf, dl = _draws()
    for k1, b, avgdl in ((K1, B, AVGDL), (0.9, 0.4, 12.5), (2.0, 1.0, 333.0)):
        want = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        assert np.array_equal(bm25(idf, tf, dl, avgdl, k1, b), want)
        # idf=1.0 is the idf-free tf factor the builder stores per block
        factor = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        assert np.array_equal(bm25(1.0, tf, dl, avgdl, k1, b), factor)
        assert np.array_equal(
            bm25_tf_factor(tf.astype(np.uint64), dl.astype(np.uint64), avgdl, k1, b),
            factor,
        )
        # idf=1.0, dl=0.0 is the dl-independent bound merges write
        bound = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b))
        assert np.array_equal(bm25(1.0, tf, 0.0, 1.0, k1, b), bound)
        # the scalar form is the same float
        assert bm25(float(idf[0]), float(tf[0]), float(dl[0]), avgdl, k1, b) == want[0]


def test_kernel_column_form_matches_numpy_bitwise(spark):
    idf, tf, dl = _draws(n=512, seed=11)
    df = spark.createDataFrame(
        [(float(a), float(t), float(d)) for a, t, d in zip(idf, tf, dl)],
        "idf double, tf double, dl double",
    )
    got = df.select(
        bm25(F.col("idf"), F.col("tf"), F.col("dl"), AVGDL, K1, B).alias("s"),
        bm25(1.0, F.col("tf"), 0.0, 1.0, K1, B).alias("bound"),
    ).collect()
    assert np.array_equal(
        np.array([r["s"] for r in got]), bm25(idf, tf, dl, AVGDL, K1, B)
    )
    assert np.array_equal(
        np.array([r["bound"] for r in got]), bm25(1.0, tf, 0.0, 1.0, K1, B)
    )


def _build(spark, df, root):
    build_index(
        spark, df, root, content_col="text", id_col="doc_id",
        tokenizer="standard", n_buckets=8, shard_size=100, n_ckpt_batches=2,
        resume=False,
    )


@pytest.fixture(scope="module")
def reader_index(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_reader"))
    _build(spark, documents, root)
    return root


def test_lookup_memoizes_per_version(spark, reader_index):
    r = reader.open_index(spark, reader_index)
    assert reader.open_index(spark, reader_index) is r
    rows = r.lookup(["stream", "zzabsent", "data"])
    assert [x["term"] for x in rows] == ["stream", "data"]
    assert r._terms["zzabsent"] is None  # absent terms are memoized too
    assert r.lookup(["data"])[0] is rows[1]


def test_lookup_past_the_term_bound_keeps_cached_terms(
    spark, reader_index, monkeypatch
):
    """A lookup that overflows the memo clears it and reads every requested
    term again, including the ones that were cached before the clear."""
    monkeypatch.setattr(reader, "MAX_TERMS", 2)
    r = reader.open_index(spark, reader_index)
    r._terms.clear()
    assert [x["term"] for x in r.lookup(["data"])] == ["data"]
    rows = r.lookup(["data", "stream", "batch"])
    assert [x["term"] for x in rows] == ["data", "stream", "batch"]
    assert set(r._terms) == {"data", "stream", "batch"}


def test_driver_local_topk_creates_no_postings_relation(spark, reader_index):
    reader._OPEN.clear()
    assert topk(spark, reader_index, QUERY, k=5).collect()
    r = reader.open_index(spark, reader_index)
    assert r._postings is None and r._dict is None
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
        topk(spark, reader_index, QUERY, k=5).collect()
    assert r._postings is not None


def test_eviction_unpersists_the_dictionary(spark, reader_index, monkeypatch):
    reader._OPEN.clear()
    monkeypatch.setattr(reader, "MAX_VERSIONS", 1)
    r = reader.open_index(spark, reader_index)
    d = r.dict_df()
    assert d.is_cached
    # a second version dir pushes the first out of the one-entry bound
    other = catalog.resolve(reader_index) + "-other"
    reader.open_version(spark, other)
    assert not d.is_cached
    assert list(reader._OPEN.values())[0].vdir == other
    reader._OPEN.clear()


def test_delete_index_and_rebuild_is_never_served_stale(
    spark, documents, tmp_path_factory
):
    """A rebuild after delete_index reuses the version name (v1), so only
    the dict-dir mtime in the reader's key tells the two apart."""
    root = str(tmp_path_factory.mktemp("idx_rebuild"))
    half = documents.filter(F.col("doc_id") < 250)
    _build(spark, half, root)
    vdir = catalog.resolve(root)
    first = [(r["docid"], r["score"]) for r in topk(spark, root, QUERY, k=10).collect()]
    assert first
    catalog.delete_index(root)
    _build(spark, documents, root)
    assert catalog.resolve(root) == vdir
    again = [(r["docid"], r["score"]) for r in topk(spark, root, QUERY, k=10).collect()]
    want = bm25_topk_brute(
        documents, QUERY, k=10, content_col="text", id_col="doc_id"
    ).collect()
    assert [d for d, _ in again] == [r["docid"] for r in want]
    assert again != first
    assert reader.open_index(spark, root).n_docs == documents.count()
