"""Driver-local ``_bulk`` writes (``index/driver_write.py``) against the
Spark path (``bulk`` with the payload cutover forced to 0): the same bulks
publish the same tables and rank the same, a bulk below the cutover
launches no Spark job, and both paths keep the index's ``block_size`` and
``lang:<lang>`` marker and publish their deletes atomically."""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from es_indexer_spark.index import catalog, driver_read, driver_write
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.index.bulk import bulk
from es_indexer_spark.index.tombstones import delete_docs
from es_indexer_spark.query.boolean import bool_query
from es_indexer_spark.query.engine import topk
from es_indexer_spark.query.phrase import phrase_match

KW = dict(content_col="text", id_col="doc_id", meta_cols=("doc_id", "lang"))
WORDS = ["spark", "join", "window", "stream", "data", "key", "batch",
         "fresh", "gamma", "zeta", "merge", "table"]
PATHS = ("driver", "spark")


def _jobs(spark, fn, group):
    """(fn's result, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bulk(spark, root, actions, path, **kw):
    with pytest.MonkeyPatch.context() as mp:
        if path == "spark":
            mp.setattr(driver_write, "MAX_PAYLOAD_BYTES", 0)
        res = bulk(spark, root, actions, **{**KW, **kw})
    assert not res["errors"], res
    return res


def _text(rng, n=12):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _actions(seed: int) -> list[list[dict]]:
    """Two bulks: re-indexed, new and deleted ids; the second re-indexes
    ids the first wrote and deletes one of them."""
    rng = random.Random(seed)
    first = [{"op": "index", "_id": i,
              "doc": {"text": _text(rng), "lang": rng.choice(["en", "fr"])}}
             for i in (3, 17, 42, 1000, 1003, 1010)]
    first.append({"op": "index", "_id": 1005,  # no token: doc_len 0
                  "doc": {"text": "--- !!!", "lang": "en"}})
    first += [{"op": "delete", "_id": i} for i in (5, 99, 123456)]
    second = [{"op": "index", "_id": i,
               "doc": {"text": _text(rng, 30), "lang": "de"}}
              for i in (17, 1003, 2000)]
    second += [{"op": "delete", "_id": i} for i in (42, 1010, 7)]
    return [first, second]


def _table(vdir: str, sub: str, sort: list[str]) -> list[dict]:
    parts = []
    for f in driver_read.data_files(os.path.join(vdir, sub)):
        t = pq.read_table(f).replace_schema_metadata(None)
        parts.append(t.select([c for c in t.column_names
                               if c not in ("bucket", "batch")]))
    t = pa.concat_tables(parts, promote_options="permissive")
    return t.sort_by([(c, "ascending") for c in sort]).to_pylist()


def _ranked(rows, k=None):
    """Rows as (docid, score) under (score desc, docid asc); with ``k``,
    the docids of a tie at the k-th score are not compared."""
    got = sorted(((r["docid"], round(r["score"], 9)) for r in rows),
                 key=lambda t: (-t[1], t[0]))
    if k is None or len(got) < k:
        return got
    kth = got[k - 1][1]
    return [t if t[1] > kth else (None, t[1]) for t in got[:k]]


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "positions"])
def base_index(request, spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_dw"))
    build_index(
        spark, documents, root, content_col="text", id_col="doc_id",
        meta_cols=("doc_id", "lang"), tokenizer="standard", n_buckets=4,
        shard_size=100, block_size=16, n_ckpt_batches=2,
        store_positions=request.param, resume=False,
    )
    # a tombstone in the base version, so the carry is exercised
    delete_docs(spark, root, [11, 12])
    return root, request.param


def test_paths_publish_equal_tables_and_rank_alike(spark, base_index, tmp_path):
    base, positions = base_index
    roots = {}
    for path in PATHS:
        roots[path] = str(tmp_path / path)
        shutil.copytree(base, roots[path])
        with pytest.MonkeyPatch.context() as mp:
            # small read batches and row groups: the streaming merge runs
            # over many batches per input file and writes many row groups
            mp.setattr(driver_write, "READ_BATCH_ROWS", 64)
            mp.setattr(driver_write, "ROW_GROUP_ROWS", 200)
            for actions in _actions(7):
                _bulk(spark, roots[path], actions, path)
    vdirs = {p: catalog.resolve(r) for p, r in roots.items()}
    assert catalog.ckpt_read(vdirs["driver"], "merge")["path"] == "driver"
    assert catalog.ckpt_read(vdirs["spark"], "merge")["path"] == "spark"
    for sub, sort in (("docs", ["docid"]), ("dict", ["term"]),
                      ("postings", ["term", "first_docid", "block_id"])):
        want = _table(vdirs["spark"], sub, sort)
        assert _table(vdirs["driver"], sub, sort) == want, sub
    tombs = {p: sorted({r["docid"] for r in _table(v, "_tombstones", ["docid"])})
             for p, v in vdirs.items()}
    assert tombs["driver"] == tombs["spark"] and tombs["driver"]
    stats = {p: catalog.read_stats(v) for p, v in vdirs.items()}
    for s in stats.values():
        s.pop("merged_from")
    assert stats["driver"] == stats["spark"]
    # one layout: a single term-sorted file per bucket dir
    files = driver_read.data_files(os.path.join(vdirs["driver"], "postings"))
    assert sorted(os.path.dirname(f) for f in files) == [
        os.path.join(vdirs["driver"], "postings", "batch=0", f"bucket={b}")
        for b in range(4)
    ]
    for f in files:
        terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms)
    assert max(pq.read_metadata(f).num_row_groups for f in files) > 1

    for q in ("spark join", "gamma zeta fresh", "data"):
        got = {p: topk(spark, r, q, k=None).collect() for p, r in roots.items()}
        assert _ranked(got["driver"]) == _ranked(got["spark"]) and got["driver"]
        top = {p: topk(spark, r, q, k=5).collect() for p, r in roots.items()}
        assert _ranked(top["driver"], 5) == _ranked(top["spark"], 5)
    body = dict(must=["gamma"], should=["zeta", "join"], must_not=["key"], k=10)
    got = {p: bool_query(spark, r, **body).collect() for p, r in roots.items()}
    assert _ranked(got["driver"], 10) == _ranked(got["spark"], 10)
    if positions:
        got = {p: phrase_match(spark, r, "spark join", k=None).collect()
               for p, r in roots.items()}
        assert _ranked(got["driver"]) == _ranked(got["spark"])


def test_bulk_below_cutover_launches_no_job(spark, base_index, tmp_path):
    base, _ = base_index
    root = str(tmp_path / "idx")
    shutil.copytree(base, root)
    for i, actions in enumerate(_actions(11)):
        res, n = _jobs(spark, lambda: bulk(spark, root, actions, **KW),
                       f"driver-bulk-{i}")
        assert not res["errors"] and n == 0
        assert catalog.ckpt_read(res["version_dir"], "merge")["path"] == "driver"
    # a delete-only bulk appends to the published version, also job-free
    vdir = catalog.resolve(root)
    res, n = _jobs(spark, lambda: bulk(
        spark, root, [{"op": "delete", "_id": 1000}], **KW), "driver-delete")
    assert n == 0 and res["version_dir"] is None
    assert catalog.resolve(root) == vdir


def test_xxhash64_matches_spark(spark):
    rng = random.Random(3)

    def word():
        return "".join(
            chr(rng.choice([rng.randint(32, 126), rng.randint(0xA0, 0xD7FF),
                            rng.randint(0x10000, 0x1F64F)]))
            for _ in range(rng.randint(0, 90))
        )

    terms = ["", "a", "lang:python", "x" * 31, "y" * 32, "z" * 33, "w" * 200]
    terms += [word() for _ in range(500)]
    rows = spark.createDataFrame([(t,) for t in terms], "t string").select(
        "t", F.xxhash64("t").alias("h"),
        *[F.pmod(F.xxhash64("t"), F.lit(n)).alias(f"b{n}") for n in (1, 7, 32)],
    ).collect()
    for r in rows:
        assert driver_write.xxhash64(r["t"].encode("utf-8")) == r["h"], r["t"]
        for n in (1, 7, 32):
            assert driver_write.term_bucket(r["t"], n) == r[f"b{n}"]


@pytest.mark.parametrize("path", PATHS)
def test_bulk_keeps_block_size(spark, tmp_path, path):
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}", "en") for i in range(30)],
        "doc_id long, text string, lang string")
    root = str(tmp_path / "idx")
    build_index(spark, docs, root, content_col="text", id_col="doc_id",
                meta_cols=("doc_id", "lang"), n_buckets=2, shard_size=64,
                block_size=4, n_ckpt_batches=1, resume=False)
    _bulk(spark, root, [{"op": "index", "_id": 3,
                         "doc": {"text": "alpha gamma", "lang": "en"}}], path)
    vdir = catalog.resolve(root)
    assert catalog.read_stats(vdir)["block_size"] == 4
    alpha = [r for r in _table(vdir, "postings", ["first_docid"])
             if r["term"] == "alpha"]
    assert max(r["n"] for r in alpha) == 4 and sum(r["n"] for r in alpha) == 31


@pytest.mark.parametrize("path", PATHS)
def test_bulk_tags_code_lang_marker(spark, tmp_path, path):
    docs = spark.createDataFrame(
        [(i, f"def getUser{i}(): return None", "python") for i in range(10)],
        "doc_id long, text string, lang string")
    root = str(tmp_path / "idx")
    build_index(spark, docs, root, content_col="text", id_col="doc_id",
                meta_cols=("doc_id",), tokenizer="code", lang_col="lang",
                n_buckets=2, shard_size=64, n_ckpt_batches=1, resume=False)
    assert catalog.read_stats(catalog.resolve(root))["lang_col"] == "lang"

    def df(term):
        rows = _table(catalog.resolve(root), "dict", ["term"])
        return next((r["df"] for r in rows if r["term"] == term), 0)

    assert df("lang:python") == 10
    _bulk(spark, root, [{"op": "index", "_id": 50,
                         "doc": {"text": "def parseTree(): pass",
                                 "lang": "python"}}],
          path, meta_cols=("doc_id",))
    assert df("lang:python") == 11 and df("parsetree") == 1
    hits = {r["docid"] for r in bool_query(
        spark, root, must=["parse"], lang="python", k=None).collect()}
    assert len(hits) == 1


@pytest.mark.parametrize("path", PATHS)
def test_bulk_publishes_deletes_with_upserts(spark, tmp_path, path):
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}", "en") for i in range(20)],
        "doc_id long, text string, lang string")
    root = str(tmp_path / "idx")
    build_index(spark, docs, root, content_col="text", id_col="doc_id",
                meta_cols=("doc_id", "lang"), n_buckets=2, shard_size=64,
                n_ckpt_batches=1, resume=False)
    seen = []
    real = catalog.publish

    def publish(index_root, version):
        if index_root == root:  # not the Spark path's delta build
            tomb = _table(os.path.join(root, version), "_tombstones", ["docid"])
            seen.append({r["docid"] for r in tomb})
        real(index_root, version)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(catalog, "publish", publish)
        _bulk(spark, root, [
            {"op": "index", "_id": 2, "doc": {"text": "gamma", "lang": "en"}},
            {"op": "delete", "_id": 5},
            {"op": "delete", "_id": 9},
        ], path)
    # one publish, and the version it exposed already hid 2's old copy
    # and both deletes (the main docids equal the external ids here)
    assert seen == [{2, 5, 9}]
    tomb_dir = os.path.join(catalog.resolve(root), "_tombstones")
    assert not [f for f in os.listdir(tomb_dir) if f.endswith(".tmp")]


def test_bulk_docids_stay_dense(spark, tmp_path):
    """One-document bulks with external ids near 10^15 (the last two on the
    Spark path): each delta's docids are main's shard-rounded max docid plus
    the rank of its ``_id``, so the max docid grows by at most the delta
    size plus one shard per bulk, and the ``_id`` stays in ``doc_id``."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}", "en") for i in range(20)],
        "doc_id long, text string, lang string")
    root = str(tmp_path / "idx")
    build_index(spark, docs, root, content_col="text", id_col="doc_id",
                meta_cols=("doc_id", "lang"), n_buckets=2, shard_size=64,
                n_ckpt_batches=1, resume=False)
    bound, ids = 19, [10**15 + 7 * i for i in range(47)]
    for i, _id in enumerate(ids):
        _bulk(spark, root, [{"op": "index", "_id": _id,
                             "doc": {"text": f"gamma doc{i}", "lang": "en"}}],
              "driver" if i < 45 else "spark")
        bound += 1 + 64
    rows = _table(catalog.resolve(root), "docs", ["docid"])
    assert max(r["docid"] for r in rows) <= bound
    assert [r["doc_id"] for r in rows[20:]] == ids
    hits = topk(spark, root, "gamma", k=None).collect()
    assert sorted(r["docid"] for r in hits) == [r["docid"] for r in rows[20:]]


def test_delete_docs_list_is_one_driver_file(spark, tmp_path, documents):
    root = str(tmp_path / "idx")
    build_index(spark, documents.limit(50), root, content_col="text",
                id_col="doc_id", n_buckets=2, shard_size=64,
                n_ckpt_batches=1, resume=False)
    _, n = _jobs(spark, lambda: delete_docs(spark, root, [1, 2, 2, 3]),
                 "tomb-append")
    assert n == 0
    tdir = os.path.join(catalog.resolve(root), "_tombstones")
    names = os.listdir(tdir)
    assert len(names) == 1 and names[0].startswith("part-")
    assert names[0].endswith(".parquet")
    assert sorted(
        spark.read.parquet(tdir).select("docid").toPandas()["docid"]
    ) == [1, 2, 2, 3]
    delete_docs(spark, root, [])
    assert len(os.listdir(tdir)) == 1
