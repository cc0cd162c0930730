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
