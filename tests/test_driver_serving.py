"""Driver-local serving: small ranked queries, their empty results and the
tombstone reads cost zero Spark jobs.

Jobs are counted with ``setJobGroup`` + ``statusTracker().getJobIdsForGroup``
around the whole request, the lazy call and its ``collect`` together."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from es_indexer_spark.index import catalog, driver_read, reader
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.index.tombstones import delete_docs
from es_indexer_spark.query import engine
from es_indexer_spark.query.boolean import bool_query
from es_indexer_spark.query.engine import topk, topk_many

QUERY = "spark join window"


@pytest.fixture(scope="module")
def local_index(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_local"))
    build_index(
        spark, documents, root,
        content_col="text", id_col="doc_id",
        tokenizer="standard", n_buckets=8, shard_size=100, n_ckpt_batches=2,
    )
    return root


def _jobs(spark, fn, group="driver-serving"):
    """(fn's result, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_topk_local_path_launches_no_job(spark, local_index):
    # the dictionary read is a memo miss
    reader.open_index(spark, local_index)._terms.clear()
    rows, n = _jobs(spark, lambda: topk(spark, local_index, QUERY, k=5).collect(),
                    "local-topk")
    assert rows and n == 0
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
        want = topk(spark, local_index, QUERY, k=5).collect()
    assert rows == want
    plan = topk(spark, local_index, QUERY, k=5)._jdf.queryExecution()
    assert "LocalTableScan" in plan.executedPlan().toString()


def test_bool_local_path_launches_no_job(spark, local_index):
    rows, n = _jobs(spark, lambda: bool_query(
        spark, local_index, must=["data"], should=["stream", "batch"],
        must_not=["key"], k=10).collect(), "local-bool")
    assert rows and n == 0


def test_empty_results_launch_no_job(spark, local_index):
    calls = {
        "topk-absent": lambda: topk(spark, local_index, "zzabsent"),
        "topk-no-terms": lambda: topk(spark, local_index, "   "),
        "many-absent": lambda: topk_many(spark, local_index, {"a": "zzabsent"}),
        "bool-absent": lambda: bool_query(spark, local_index, must=["zzabsent"]),
    }
    for name, fn in calls.items():
        rows, n = _jobs(spark, lambda: fn().collect(), name)
        assert rows == [] and n == 0, name
    # the shared empty result keeps its schema and composes like any frame
    df = topk_many(spark, local_index, {"a": "zzabsent"})
    assert df.columns == ["qid", "docid", "score"]
    assert df.filter(F.col("score") > 0).count() == 0


def test_first_read_after_delete_reads_tombstones_on_driver(
    spark, local_index, tmp_path
):
    root = str(tmp_path / "idx")
    shutil.copytree(local_index, root)
    top = topk(spark, root, QUERY, k=3).collect()
    delete_docs(spark, root, [top[0]["docid"]])
    rows, n = _jobs(spark, lambda: topk(spark, root, QUERY, k=2).collect(),
                    "after-delete")
    assert n == 0
    assert [r["docid"] for r in rows] == [r["docid"] for r in top[1:]]


def test_driver_reader_matches_spark_scan(spark, local_index):
    """The driver reader keeps only the requested bucket dirs, skips
    Spark's hidden files and returns the rows a Spark scan filters to."""
    vdir = catalog.resolve(local_index)
    pdir = os.path.join(vdir, "postings")
    dict_rows = reader.open_version(spark, vdir).lookup(["data", "stream"])
    buckets = {r["bucket"] for r in dict_rows}
    files = driver_read.data_files(pdir, buckets)
    assert files and all(
        any(f"bucket={b}" in f for b in buckets) for f in files
    )
    assert not any(os.path.basename(f).startswith(("_", ".")) for f in files)
    got = driver_read.read_terms(files, ["data", "stream"], ["shard", "n"])
    want = (
        spark.read.parquet(pdir)
        .filter(F.col("term").isin(["data", "stream"]))
        .select("term", "shard", "n").collect()
    )
    assert sorted(zip(got["term"].to_pylist(), got["shard"].to_pylist(),
                      got["n"].to_pylist())) == sorted(map(tuple, want))
    assert {r["term"]: r["df"] for r in dict_rows} == {
        t: sum(n for t_, _, n in map(tuple, want) if t_ == t)
        for t in ("data", "stream")
    }
    assert driver_read.read_terms(files, ["zzabsent"]) is None


# ---- bool bodies with doc-level filters --------------------------------------


@pytest.fixture(scope="module")
def filter_index(spark, documents, tmp_path_factory):
    """Stored keyword, integer, double and sparse (nullable) fields, and a
    driver-array delete set that falls inside the filter ranges below."""
    root = str(tmp_path_factory.mktemp("idx_local_filters"))
    build_index(
        spark,
        documents.withColumn("ratio", F.col("n_chars") / 7.0).withColumn(
            "opt", F.when(F.col("n_chars") % 3 == 0, F.col("lang"))
        ),
        root, content_col="text", id_col="doc_id",
        meta_cols=("lang", "source", "n_chars", "ratio", "opt"),
        tokenizer="standard", n_buckets=8, shard_size=100, n_ckpt_batches=2,
    )
    return root


def _rows(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def _local_and_spark(spark, root, kw, group):
    """(rows on the default path, its job count, rows on the Spark path)."""
    got, n = _jobs(spark, lambda: _rows(bool_query(spark, root, **kw)), group)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
        want = _rows(bool_query(spark, root, **kw))
    if kw.get("k", 10) is None:
        got, want = sorted(got), sorted(want)
    return got, n, want


LOCAL_BODIES = {
    "keyword-range": dict(must=["data"], should=["stream", "window"],
                          must_not=["key"],
                          filter_range=("lang", {"gte": "e", "lt": "g"})),
    "int-range": dict(must=["data"], should=["stream"],
                      filter_range=[("n_chars", {"gte": 200}),
                                    ("n_chars", {"lt": 450.5})]),
    "term": dict(should=["spark", "join"], filter_fields=[("lang", "en")]),
    "terms": dict(should=["data", "stream"],
                  filter_fields=[("lang", ["en", "fr"]),
                                 ("source", ["src1", "src3", "zz"])]),
    "int-terms": dict(should=["data"],
                      filter_fields=[("n_chars", list(range(0, 600, 3)))]),
    "exists": dict(must=["data"], filter_exists=["opt"]),
    "scored": dict(must=["data"],
                   must_ranges=[("n_chars", {"gte": 300}, 0.5)],
                   should_exists=[("opt", 2.0)]),
    "scored-should": dict(should=["window"],
                          should_ranges=[("n_chars", {"lt": 400}, 1.5)],
                          should_exists=["opt"], minimum_should_match=1),
}


@pytest.mark.parametrize("name", sorted(LOCAL_BODIES))
def test_bool_doc_filters_served_locally(spark, filter_index, name):
    for k in (10, None):
        kw = dict(LOCAL_BODIES[name], k=k)
        got, n, want = _local_and_spark(spark, filter_index, kw, f"{name}-{k}")
        assert got and n == 0, (name, k)
        assert got == want, (name, k)


def test_bool_doc_filter_edges_match_spark(spark, filter_index, tmp_path):
    rng = ("n_chars", {"gte": 150, "lt": 400})
    # should-only plus a range: shards with allowed docs but none of the
    # should postings still return their score-0 docs
    got, n, want = _local_and_spark(spark, filter_index, dict(
        should=["customer"], filter_range=rng, k=None), "edge-should")
    assert n == 0 and got == want
    assert any(s == 0.0 for _d, s in got) and any(s > 0.0 for _d, s in got)
    # every term absent: the range alone defines the candidates
    got, n, want = _local_and_spark(spark, filter_index, dict(
        should=["zzabsent", "qqmissing"], filter_range=rng, k=None), "edge-absent")
    assert n == 0 and got == want and got
    assert all(s == 0.0 for _d, s in got)
    # range plus must_not, no scoring clause: the exclusion applies
    got, n, want = _local_and_spark(spark, filter_index, dict(
        must_not=["data"], filter_range=rng, k=None), "edge-mustnot")
    assert n == 0 and got == want and got
    # range only: the allowed docs in docid order, k of them
    got, n, want = _local_and_spark(spark, filter_index, dict(
        filter_range=rng, k=7), "edge-range-only")
    assert n == 0 and got == want and len(got) == 7
    assert [d for d, _s in got] == sorted(d for d, _s in got)

    # a tombstoned doc inside the range drops out on both paths
    root = str(tmp_path / "idx")
    shutil.copytree(filter_index, root)
    kw = dict(must=["data"], filter_range=rng, k=None)
    before = _rows(bool_query(spark, root, **kw))
    gone = before[len(before) // 2][0]
    delete_docs(spark, root, [gone])
    got, n, want = _local_and_spark(spark, root, kw, "edge-tomb")
    assert n == 0 and got == want
    assert sorted(got) == sorted(r for r in before if r[0] != gone)


def test_bool_doc_filters_without_driver_form_stay_on_spark(spark, filter_index):
    """A double-column range (Spark's NaN order), a wildcard (Java regex)
    and a script (Catalyst expression) keep the cogroup."""
    for name, kw in {
        "double-range": dict(must=["data"], filter_range=("ratio", {"gte": 40.0})),
        "like": dict(must=["data"], filter_like=[("lang", "e*")]),
        "script": dict(must=["data"], filter_script=["n_chars % 2 = 0"]),
    }.items():
        got, n, want = _local_and_spark(spark, filter_index, kw, f"spark-{name}")
        assert got and n > 0, name
        assert got == want, name
